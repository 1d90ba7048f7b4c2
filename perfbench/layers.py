"""Per-layer metrics of a traced run.

``PER_LAYER`` lists every metric a ``--trace 1`` run prints, with the
module it measures and the end-to-end metric it should move (see
README.md). A metric whose layer the workload does not run is printed
as 0 and named, with the reason, under ``unavailable`` in the info
line.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

from perfbench import trace as tr

# (name, unit, better). A name ending in ``.per_op`` is the run total
# divided by the number of timed ops.
_TOTALS = [
    ("etl.fetch_s", "s"), ("etl.watermark_s", "s"), ("etl.transform_s", "s"),
    ("etl.merge_s", "s"),
    ("query.build_s", "s"), ("query.build_jobs", "count"), ("query.plan_s", "s"),
    ("query.exec_s", "s"), ("query.exec_jobs", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.input_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
    ("spark.task_s", "s"), ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.driver_gap_s", "s"),
]
PER_LAYER = (
    [("session.start_s", "s", "lower")]
    + [(n, u, "lower") for n, u in _TOTALS]
    + [(n + ".per_op", u, "lower") for n, u in _TOTALS]
    + [
        ("etl.rows_kept_frac", "ratio", "higher"),
        ("etl.jobs_per_tick", "count", "lower"),
        ("lake.bytes_written_per_tick", "B", "lower"),
        ("lake.rows_rewritten_per_new_row", "ratio", "lower"),
        ("lake.files", "count", "lower"),
        ("lake.bytes_per_row", "B/row", "lower"),
        ("report.month_end_s", "s", "lower"),
        ("report.monthly_data_s", "s", "lower"),
        ("report.cumulative_data_s", "s", "lower"),
        ("report.render_s", "s", "lower"),
        ("report.figures_s", "s", "lower"),
        ("report.pdf_s", "s", "lower"),
        ("report.jobs_per_month_end", "count", "lower"),
        ("spark.task_skew", "ratio", "lower"),
        ("trace.wall_s", "s", "lower"),
        ("trace.overhead_frac", "ratio", "lower"),
    ]
)

#: Public functions timed in a traced run: (module, attribute, span
#: name = the name its caller resolves).
SPANS = [
    ("pos_api_pipeline_spark.sources.rest_api", "fetch_incremental", "rest_api.fetch_incremental"),
    ("pos_api_pipeline_spark.plans.pipelines", "run_transform", "pipelines.run_transform"),
    ("pos_api_pipeline_spark.lake", "merge_and_overwrite", "lake.merge_and_overwrite"),
    ("pos_api_pipeline_spark.sources.state", "update_last_timestamp", "state.update_last_timestamp"),
    ("pos_api_pipeline_spark.plans.pipelines", "monthly_report_data", "pipelines.monthly_report_data"),
    ("pos_api_pipeline_spark.plans.pipelines", "cumulative_report_data", "pipelines.cumulative_report_data"),
    ("pos_api_pipeline_spark.plans.report", "render_report", "report.render_report"),
    ("pos_api_pipeline_spark.plans.dag", "generate_all_report_figures", "dag.generate_all_report_figures"),
    ("pos_api_pipeline_spark.plans.report", "convert_md_to_pdf", "report.convert_md_to_pdf"),
]
MONTH_END_OP = "month-end"


def patch(tracer: tr.Tracer) -> None:
    import importlib

    for module, attr, name in SPANS:
        tracer.patch(importlib.import_module(module), attr, name)


def after_timed(wl, spark, tracer: tr.Tracer) -> dict:
    """Work a traced run adds after the timed section: the
    first-of-month tick on ``pos_etl``."""
    if not hasattr(wl, "month_end"):
        return {}
    tracer.op = MONTH_END_OP
    spark.sparkContext.setJobGroup(MONTH_END_OP, MONTH_END_OP)
    try:
        elapsed, ok = wl.month_end(spark)
    except Exception as e:  # noqa: BLE001 - reported as a failed check
        return {"report.month_end_s": 0.0, "month_end_problem": f"{type(e).__name__}: {e}"}
    problem = None if ok else "first-of-month tick: a status, report, PDF or figure is missing"
    return {"report.month_end_s": elapsed, "month_end_problem": problem}


def remember(history: Path, workload: str, seconds: float, wall_s: float) -> None:
    """Keep untraced wall times so a traced run can report its overhead."""
    history.mkdir(parents=True, exist_ok=True)
    with open(history / f"{workload}-{seconds:g}.jsonl", "a", encoding="utf-8") as f:
        f.write(json.dumps({"wall_s": wall_s}) + "\n")


def _untraced_wall(history: Path, workload: str, seconds: float) -> float | None:
    path = history / f"{workload}-{seconds:g}.jsonl"
    if not path.is_file():
        return None
    walls = [json.loads(line)["wall_s"] for line in path.read_text().splitlines() if line]
    return statistics.median(walls) if walls else None


def _seconds(spans: list[tr.Span], name: str) -> float:
    return sum(s.end - s.start for s in spans if s.name == name)


def summarize(workload, wl, tracer, jobs, stages, session_s, wall_s, n_ops, extra,
              history: Path, seconds: float):
    ops = set(wl.ops())
    op_spans = [i for i in tracer.intervals("op") if i[0] in ops]
    v: dict[str, float] = {"session.start_s": session_s, "trace.wall_s": wall_s}
    v.update(tr.spark_totals(jobs, stages, ops))
    v["spark.driver_gap_s"] = tr.driver_gap(jobs, op_spans)
    timed = [s for s in tracer.spans if s.op in ops]
    unavailable: dict[str, str] = {}

    if workload == "pos_etl":
        v["etl.fetch_s"] = _seconds(timed, "rest_api.fetch_incremental")
        v["etl.transform_s"] = _seconds(timed, "pipelines.run_transform")
        v["etl.merge_s"] = _seconds(timed, "lake.merge_and_overwrite")
        v["etl.watermark_s"] = _seconds(timed, "state.update_last_timestamp")
        v["etl.jobs_per_tick"] = v["spark.jobs"] / n_ops
        writes = [w for op, w in wl.tick_stats.items() if op in ops]
        fetched = sum(w["fetched_rows"] for w in writes)
        v["etl.rows_kept_frac"] = sum(w["kept_rows"] for w in writes) / fetched
        v["lake.bytes_written_per_tick"] = sum(w["bytes_written"] for w in writes) / n_ops
        v["lake.rows_rewritten_per_new_row"] = (
            sum(w["rows_written"] for w in writes) / sum(w["kept_rows"] for w in writes)
        )
        v["lake.files"] = wl.info["lake_files"]
        v["lake.bytes_per_row"] = wl.info["lake_bytes_per_row"]
        me = [s for s in tracer.spans if s.op == MONTH_END_OP]
        v["report.month_end_s"] = extra["report.month_end_s"]
        v["report.monthly_data_s"] = _seconds(me, "pipelines.monthly_report_data")
        v["report.cumulative_data_s"] = _seconds(me, "pipelines.cumulative_report_data")
        v["report.render_s"] = _seconds(me, "report.render_report")
        v["report.figures_s"] = _seconds(me, "dag.generate_all_report_figures")
        v["report.pdf_s"] = _seconds(me, "report.convert_md_to_pdf")
        v["report.jobs_per_month_end"] = sum(1 for j in jobs.values() if j.group == MONTH_END_OP)
        for name, _, _ in PER_LAYER:
            if name.startswith("query."):
                unavailable[name] = "pos_etl runs no registry queries"
    else:
        build, plan, run = (tracer.intervals(n) for n in ("query.build", "query.plan", "query.exec"))
        v["query.build_s"] = _seconds(timed, "query.build")
        v["query.plan_s"] = _seconds(timed, "query.plan")
        v["query.exec_s"] = _seconds(timed, "query.exec")
        v["query.build_jobs"] = tr.jobs_within(jobs, build)
        v["query.exec_jobs"] = tr.jobs_within(jobs, plan) + tr.jobs_within(jobs, run)
        for name, _, _ in PER_LAYER:
            if name.startswith(("etl.", "lake.", "report.")):
                unavailable[name] = "the queries workload runs no DAG tick"

    for name, _ in _TOTALS:
        if name in v:
            v[name + ".per_op"] = v[name] / n_ops
    base = _untraced_wall(history, workload, seconds)
    if base:
        v["trace.overhead_frac"] = wall_s / base - 1
    else:
        unavailable["trace.overhead_frac"] = "no untraced run of this workload in this checkout yet"
    metrics = {
        name: {"value": float(v.get(name, 0.0)), "unit": unit}
        for name, unit, _ in PER_LAYER
    }
    return metrics, unavailable
