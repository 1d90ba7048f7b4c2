"""Same-phase interleaved A/B of ONE sf10 probe cell across two checkouts.

The sf10 probe note (BENCH_sf10_r12.json) flagged semantic_dedup's
solo re-run at 10.4s vs r11's recorded 4.4s and attributed it to
host/invocation without measuring. This tool settles such questions
the way ab_compare.py does for registry queries: interleaved passes
A,B,A,B,... (each a fresh subprocess JVM, same invocation on both
sides), with a seconds-fast phase canary (bench.py --phase-probe
style trivial count) stamped between passes so the artifact shows
whether the host phase held.

Usage:
    python tools/ab_sf10_cell.py REPO_A REPO_B CELL [--reps 3] \
        [--out OUT.json] [--label-a HEAD --label-b r11close]

CELL is a key of tools/sf10_probe.py's CELLS dict.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SF10 = os.path.join(REPO, "scale_data", "sf10")

_spec = importlib.util.spec_from_file_location(
    "sf10_probe", os.path.join(HERE, "sf10_probe.py")
)
_probe = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_probe)

_CANARY = r"""
import sys, time, json
sys.path.insert(0, {repo!r})
from pos_api_pipeline_spark.session import get_spark, read_parquet
spark = get_spark('ab_canary')
df = read_parquet(spark, {sf10!r} + '/region.parquet')
t0 = time.perf_counter()
df.groupBy('r_name').count().collect()
print(json.dumps({{'canary_s': round(time.perf_counter() - t0, 3)}}))
"""


def _run_cell(repo: str, cell: str) -> dict:
    body = _probe.CELLS[cell]
    try:
        proc = subprocess.run(
            [sys.executable, "-c",
             _probe.STUB.format(repo=repo, sf10=SF10, body=body)],
            capture_output=True, text=True, cwd=repo,
            timeout=3600,
        )
    except subprocess.TimeoutExpired:
        # Record the timeout as an error pass and keep going — the
        # completed interleaved passes are the measurement.
        return {"error": "timeout after 3600s"}
    line = (proc.stdout.strip().splitlines() or [""])[-1]
    try:
        rec = json.loads(line)
    except Exception:
        rec = {"error": (proc.stderr or proc.stdout)[-800:],
               "returncode": proc.returncode}
    return rec


def _run_canary() -> float | None:
    """Seconds for a trivial fresh-JVM aggregation on the MAIN repo —
    the between-pass host-phase stamp. None if it errored."""
    try:
        proc = subprocess.run(
            [sys.executable, "-c",
             _CANARY.format(repo=REPO, sf10=SF10)],
            capture_output=True, text=True, timeout=600,
        )
        line = (proc.stdout.strip().splitlines() or [""])[-1]
        return json.loads(line)["canary_s"]
    except Exception:
        return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("repo_a")
    ap.add_argument("repo_b")
    ap.add_argument("cell", choices=sorted(_probe.CELLS))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", default=None)
    ap.add_argument("--label-a", default="A")
    ap.add_argument("--label-b", default="B")
    args = ap.parse_args()

    sides = [(args.label_a, os.path.abspath(args.repo_a)),
             (args.label_b, os.path.abspath(args.repo_b))]
    passes = []
    for rep in range(args.reps):
        for label, repo in sides:
            t0 = time.time()
            rec = _run_cell(repo, args.cell)
            rec.update(side=label, rep=rep,
                       wall_started=round(t0, 1),
                       canary_s=_run_canary())
            passes.append(rec)
            print(json.dumps(rec), flush=True)

    summary = {}
    for label, _ in sides:
        secs = [p["seconds"] for p in passes
                if p["side"] == label and "seconds" in p]
        counts = {p.get("count") for p in passes if p["side"] == label}
        summary[label] = {"min": min(secs) if secs else None,
                          "all": secs, "counts": sorted(
                              c for c in counts if c is not None)}
    a, b = sides[0][0], sides[1][0]
    ratio = None
    if summary[a]["min"] and summary[b]["min"]:
        ratio = round(summary[a]["min"] / summary[b]["min"], 3)
    payload = {
        "cell": args.cell,
        "expect": _probe.EXPECT.get(args.cell),
        "reps": args.reps,
        "interleaved": True,
        "summary": summary,
        "ratio_a_over_b": ratio,
        "passes": passes,
    }
    out = args.out or os.path.join(REPO, f"AB_sf10_{args.cell}.json")
    with open(out, "w") as fh:
        json.dump(payload, fh, indent=2)
    print(json.dumps({"ratio_a_over_b": ratio, "out": out}))


if __name__ == "__main__":
    main()
