"""Tracing for ``--trace 1`` runs.

Two sources, both kept in memory and summarised after the run:

- Spans recorded by the benchmark around calls into the program's
  public functions (``Tracer.patch`` swaps a module attribute for a
  timing wrapper, under the name its caller resolves). A span holds
  its name, op id (the trace id), start, end and parent span.
- Spark's own event log, enabled for the traced session only. Each op
  tags its jobs with ``setJobGroup(op_id)``; ``read_event_log``
  summarises jobs, stages and tasks per job group.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float
    parent: int | None


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    op: str = ""
    _stack: list[int] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    def span(self, name: str):
        return _SpanContext(self, name)

    def patch(self, module, attr: str, name: str) -> None:
        """Time every call to ``module.attr`` as span ``name``."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def timed(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, timed)
        self._patched.append((module, attr, original))

    def unpatch(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def intervals(self, name: str) -> list[tuple[str, float, float]]:
        return [(s.op, s.start, s.end) for s in self.spans if s.name == name]


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        t.spans.append(Span(self.name, t.op, time.time(), 0.0, parent))
        t._stack.append(len(t.spans) - 1)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[t._stack.pop()].end = time.time()
        return False


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


@dataclass
class Job:
    group: str | None
    start: float  # seconds since the epoch
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class Stage:
    tasks: int = 0
    durations: list[float] = field(default_factory=list)  # task seconds
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_b: int = 0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs and stages of every application logged under ``log_dir``
    (written when the session stops)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = defaultdict(Stage)
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    files += sorted(glob.glob(os.path.join(log_dir, "local-*")))
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                _event(json.loads(line), jobs, stages)
    return jobs, stages


def _event(e: dict, jobs: dict[int, Job], stages: dict[int, Stage]) -> None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        group = (e.get("Properties") or {}).get("spark.jobGroup.id")
        jobs[e["Job ID"]] = Job(group, e["Submission Time"] / 1e3, stages=e["Stage IDs"])
    elif kind == "SparkListenerJobEnd":
        if e["Job ID"] in jobs:
            jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
    elif kind == "SparkListenerTaskEnd":
        m = e.get("Task Metrics") or {}
        info = e["Task Info"]
        st = stages[e["Stage ID"]]
        st.tasks += 1
        st.durations.append((info["Finish Time"] - info["Launch Time"]) / 1e3)
        st.run_s += m.get("Executor Run Time", 0) / 1e3
        st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        st.gc_s += m.get("JVM GC Time", 0) / 1e3
        st.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        st.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        st.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        st.spill_b += m.get("Disk Bytes Spilled", 0)


def spark_totals(jobs: dict[int, Job], stages: dict[int, Stage], ops: set[str]) -> dict[str, float]:
    """Spark-side work of the jobs tagged with one of ``ops``."""
    mine = [j for j in jobs.values() if j.group in ops]
    stage_ids = {s for j in mine for s in j.stages if s in stages}
    sts = [stages[s] for s in stage_ids]
    skews = [
        max(s.durations) / statistics.median(s.durations)
        for s in sts
        if len(s.durations) >= 2 and statistics.median(s.durations) > 0
    ]
    mb = 1024 * 1024
    return {
        "spark.jobs": len(mine),
        "spark.stages": len(sts),
        "spark.tasks": sum(s.tasks for s in sts),
        "spark.input_mb": sum(s.input_b for s in sts) / mb,
        "spark.shuffle_read_mb": sum(s.shuffle_read_b for s in sts) / mb,
        "spark.shuffle_write_mb": sum(s.shuffle_write_b for s in sts) / mb,
        "spark.spill_mb": sum(s.spill_b for s in sts) / mb,
        "spark.task_s": sum(s.run_s for s in sts),
        "spark.task_cpu_s": sum(s.cpu_s for s in sts),
        "spark.gc_s": sum(s.gc_s for s in sts),
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
    }


def jobs_within(jobs: dict[int, Job], intervals: list[tuple[str, float, float]]) -> int:
    """Jobs of each interval's op submitted inside that interval."""
    return sum(
        1
        for op, lo, hi in intervals
        for j in jobs.values()
        if j.group == op and lo <= j.start <= hi
    )


def driver_gap(jobs: dict[int, Job], op_intervals: list[tuple[str, float, float]]) -> float:
    """Seconds of op wall time during which none of the op's jobs ran."""
    gap = 0.0
    for op, lo, hi in op_intervals:
        busy = sorted(
            (max(lo, j.start), min(hi, j.end or hi))
            for j in jobs.values()
            if j.group == op
        )
        covered, cursor = 0.0, lo
        for a, b in busy:
            a = max(a, cursor)
            if b > a:
                covered += b - a
                cursor = b
        gap += (hi - lo) - covered
    return gap
