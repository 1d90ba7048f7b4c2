"""Run the benchmark over several seeds and print each end-to-end
metric's median and quartile spread (Q3 - Q1 as a share of the median).

    python3 perfbench/steady.py --seeds 1 2 3 4 5 [--workloads pos_etl queries]

Runs ``run.py --trace 0`` once per (workload, seed), one after another,
with the ``run_seconds`` of BENCHMARK.json; each run's last stdout line
is kept in ``.perfbench_work/steady.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.stats import quartile_spread  # noqa: E402


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    args = p.parse_args()
    log = ROOT / ".perfbench_work" / "steady.jsonl"
    log.parent.mkdir(exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for workload in args.workloads:
        values: dict[str, list[float]] = {}
        for seed in args.seeds:
            t0 = time.perf_counter()
            out = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", workload,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True,
            )
            elapsed = time.perf_counter() - t0
            *_, facts, last = out.stdout.strip().splitlines()
            result = json.loads(last)
            with open(log, "a", encoding="utf-8") as f:
                f.write(json.dumps({"workload": workload, "seed": seed, "elapsed_s": elapsed,
                                    **result, **json.loads(facts)}) + "\n")
            print(workload, seed, f"{elapsed:.1f}s", result["correct"], result["failed"],
                  {k: round(v["value"], 3) for k, v in result["metrics"].items()}, flush=True)
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            spread = quartile_spread(vs) if len(vs) >= 2 else float("nan")
            print(f"  {workload} {k}: median {statistics.median(vs):.4f} "
                  f"spread {spread:.3f} bound {bounds.get(k, '-')}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
