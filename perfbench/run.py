"""Benchmark runner.

    python3 perfbench/run.py --workload pos_etl --seed 1 --seconds 24 --trace 0

Runs from the root of a source checkout. One closed-loop client runs
the workload's ops one after another. With ``--trace 0`` the last
stdout line is the end-to-end result; with ``--trace 1`` it holds the
per-layer metrics of a traced run. The line before it stamps host and
session facts, the op count, the output-check result and the figures
that are not metrics. Exits 2 when the program sources are missing.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "pos_api_pipeline_spark"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["pos_etl", "queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _isolate(work: Path) -> None:
    """Keep every scratch file of Spark, the JVM and Python inside the
    run's work directory, on the same filesystem as the default one.
    HotSpot writes its perf-data file under /tmp whatever
    ``java.io.tmpdir`` says, hence ``-XX:-UsePerfData``. Options the
    host already sets are kept."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
    ]))


def _source_digest() -> str:
    h = hashlib.sha256()
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(str(path.relative_to(ROOT)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    out = subprocess.run(
        ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
        capture_output=True, text=True, timeout=30, check=False,
    )
    return out.stdout.strip() or None


def _cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies of the host so far, where /proc/stat exists."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return fields[7], sum(fields)


def _facts(spark, seed: int) -> dict:
    sc = spark.sparkContext
    jvm = sc._jvm
    return {
        "nproc": os.cpu_count(),
        "spark.master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": sc.getConf().get("spark.driver.memory", None),
        "driver_max_heap_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() // 2**20,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "commit": _commit(),
        "source_sha256": _source_digest(),
        "seed": seed,
    }


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE}/ sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import layers, stats
    from perfbench import trace as tr
    from perfbench.posetl import PosEtl
    from perfbench.queries import Queries

    work = ROOT / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _isolate(work)
    tracer = tr.Tracer() if args.trace else None
    cls = {"pos_etl": PosEtl, "queries": Queries}[args.workload]
    wl = cls(args.seed, args.seconds, str(work), tracer)

    t_setup = time.perf_counter()
    from pos_api_pipeline_spark.session import get_spark

    spark = get_spark(extra_conf=tr.event_log_conf(str(work / "eventlog")) if tracer else None)
    session_s = time.perf_counter() - t_setup
    try:
        facts = _facts(spark, args.seed)
        wl.setup(spark)
        setup_s = time.perf_counter() - t_setup
        if tracer:
            layers.patch(tracer)
        latencies, ok = {}, {}
        ticks0 = _cpu_ticks()
        t_wall = time.perf_counter()
        for op in wl.ops():
            if tracer:
                tracer.op = op
                spark.sparkContext.setJobGroup(op, op)
            t0 = time.perf_counter()
            try:
                with tracer.span("op") if tracer else contextlib.nullcontext():
                    ok[op] = wl.run_op(spark, op)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                print(f"perfbench: op {op} failed: {type(e).__name__}: {e}", file=sys.stderr)
                ok[op] = False
            latencies[op] = time.perf_counter() - t0
        wall_s = time.perf_counter() - t_wall
        ticks1 = _cpu_ticks()
        extra = layers.after_timed(wl, spark, tracer) if tracer else {}
        if tracer:
            tracer.unpatch()
        problems = wl.check()
        if extra.get("month_end_problem"):
            problems.append(extra["month_end_problem"])
    finally:
        _stop(spark)

    failed = sum(1 for op in ok if not ok[op] or wl.op_failed(op))
    info = {
        "workload": args.workload,
        "ops": len(latencies),
        "check": problems or "ok",
        "session_s": session_s,
        "op_s": {op: round(t, 3) for op, t in latencies.items()},
        "cpu_steal_frac": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        if ticks0 and ticks1 else None,
        **wl.info,
    }
    lat = list(latencies.values())
    try:
        info["op_p80_s"] = {"value": stats.percentile(lat, 80), "samples": len(lat)}
    except ValueError as e:
        info["op_p80_s"] = f"not reported: {e}"
    if tracer:
        with open(work / "spans.jsonl", "w", encoding="utf-8") as f:
            f.writelines(json.dumps(vars(span)) + "\n" for span in tracer.spans)
        jobs, stages = tr.read_event_log(str(work / "eventlog"))
        metrics, unavailable = layers.summarize(
            args.workload, wl, tracer, jobs, stages, session_s, wall_s, len(lat), extra,
            ROOT / ".perfbench_work" / "history", args.seconds,
        )
        info["unavailable"] = unavailable
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": wall_s, "unit": "s"},
            "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
        }
        layers.remember(ROOT / ".perfbench_work" / "history", args.workload, args.seconds, wall_s)
    print(json.dumps({"facts": facts, "info": info}, default=str))
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": len(latencies),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
