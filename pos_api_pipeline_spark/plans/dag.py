"""Scheduler-shaped orchestration: the reference's production DAG as
a pure-Python composition (reference: dags/production_etl_dag.py).

The reference runs an Airflow DAG daily at 07:00:

    start >> daily_etl >> check_first_of_month
    check >> [monthly_report, cumulative_report] >> end
    check >> skip_reporting >> end

This module reproduces that lifecycle — same branch rule, same task
names, same downstream join semantics — without importing a
scheduler: any cron/Airflow/dbt wrapper can call ``run_production_etl``
once a day. Task statuses come back Airflow-style
('success'/'skipped'/'failed') so a wrapper can forward them.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import SparkSession

from pos_api_pipeline_spark import lake
from pos_api_pipeline_spark.operators.combos import explode_combo_items
from pos_api_pipeline_spark.plans import pipelines, report
from pos_api_pipeline_spark.plans.plots import generate_all_report_figures

MONTHLY_TASKS = ["run_monthly_report_task", "run_cumulative_report_task"]
SKIP_TASK = "skip_reporting_task"


def check_if_first_day_of_month(run_date: dt.date) -> list[str] | str:
    """The reference's BranchPythonOperator
    (dags/production_etl_dag.py:17-27): reports run only when the
    daily run lands on the 1st (covering the month that just closed)."""
    if run_date.day == 1:
        return MONTHLY_TASKS
    return SKIP_TASK


def report_month_for(run_date: dt.date) -> tuple[int, int]:
    """The month the first-of-month run reports on: the one that just
    ended (the reference's 'last complete month',
    monthly_report.py:634-650)."""
    last_day_prev = run_date.replace(day=1) - dt.timedelta(days=1)
    return last_day_prev.year, last_day_prev.month


def _deliver(md: str, report_dir: str | None, stem: str) -> None:
    """Deliverables: markdown + PDF per report (reference:
    reporting/utils.py conversion step)."""
    if report_dir is None:
        return
    rd = Path(report_dir)
    rd.mkdir(parents=True, exist_ok=True)
    (rd / f"{stem}.md").write_text(md, encoding="utf-8")
    report.convert_md_to_pdf(md, rd / f"{stem}.pdf")


def monthly_report(
    spark: SparkSession,
    lake_path: str,
    run_date: dt.date,
    report_dir: str | None = None,
) -> str:
    """The monthly report task: render the month that just closed,
    write it to ``report_dir`` when given, return the markdown. The
    cleaned frame is unpersisted before returning."""
    year, month = report_month_for(run_date)
    cleaned, sections = pipelines.monthly_report_data(
        spark, lake_path, year, month
    )
    try:
        md = report.render_report(f"Monthly Report {year}-{month:02d}", sections)
    finally:
        cleaned.unpersist()
    _deliver(md, report_dir, f"monthly_report_{year}-{month:02d}")
    return md


def cumulative_report(
    spark: SparkSession, lake_path: str, report_dir: str | None = None
) -> tuple[str, list[str]]:
    """The cumulative report task: render the all-history report and,
    when ``report_dir`` is given, write it with every report figure
    drawn from the same cleaned frame. Returns (markdown, figure
    paths); the cleaned frame is unpersisted before returning."""
    cleaned, sections = pipelines.cumulative_report_data(spark, lake_path)
    figures = []
    try:
        md = report.render_report("Cumulative Report", sections)
        if report_dir is not None:
            figures = generate_all_report_figures(
                cleaned, explode_combo_items(cleaned), report_dir
            )
    finally:
        cleaned.unpersist()
    _deliver(md, report_dir, "cumulative_report")
    return md, [str(p) for p in figures]


def run_production_etl(
    spark: SparkSession,
    run_date: dt.date,
    fetch_receipts_page: Callable,
    lake_path: str,
    state_file: str,
    report_dir: str | None = None,
) -> dict:
    """One scheduled tick of the production DAG. Returns
    {task_id: status, ...} plus the artifacts produced.

    Branch semantics match the Airflow original: the ETL always runs;
    on the 1st the closed month is compacted, both report tasks run
    and 'skip_reporting_task' is skipped; any other day the reports
    are skipped. 'end' succeeds when at least one upstream did
    (none_failed_min_one_success) — with no failures that is always
    true, and a failed ETL raises out of this function exactly like a
    failed Airflow task fails the run.
    """
    statuses: dict[str, object] = {"start": "success"}
    etl = pipelines.daily_incremental_run(
        spark, fetch_receipts_page, lake_path, state_file
    )
    statuses["run_daily_incremental_etl"] = "success"
    statuses["etl_result"] = etl

    branch = check_if_first_day_of_month(run_date)
    statuses["check_if_first_day_of_month"] = "success"

    if branch == SKIP_TASK:
        for t in MONTHLY_TASKS:
            statuses[t] = "skipped"
        statuses[SKIP_TASK] = "success"
    else:
        statuses[SKIP_TASK] = "skipped"
        # The daily ticks appended one file per tick to the month that
        # just closed; fold them into one before the reports scan it.
        lake.compact_partitions(spark, lake_path, [report_month_for(run_date)])
        statuses["monthly_report_md"] = monthly_report(
            spark, lake_path, run_date, report_dir
        )
        statuses["run_monthly_report_task"] = "success"
        md, figures = cumulative_report(spark, lake_path, report_dir)
        statuses["cumulative_report_md"] = md
        statuses["run_cumulative_report_task"] = "success"
        if report_dir is not None:
            statuses["figures"] = figures

    statuses["end"] = "success"
    return statuses


def backfill(
    spark: SparkSession,
    start_date: dt.date,
    end_date: dt.date,
    fetch_receipts_page: Callable,
    lake_path: str,
    state_file: str,
    report_dir: str | None = None,
) -> list[dict]:
    """Airflow-backfill analog: replay one production tick per
    calendar day over [start_date, end_date], in order. Returns the
    per-day status dicts (each tagged with its run_date).

    Idempotency is inherited, not re-implemented: the daily ETL's
    watermark state makes replayed fetches incremental, and the
    append-or-rewrite upsert (a redelivered key rewrites its months
    with W1 latest-wins dedup) converges when a day is run twice — so
    a backfill over an already-processed range is safe, exactly like
    re-running an Airflow interval. First-of-month ticks regenerate their reports,
    which is precisely what a reporting backfill is for.
    """
    if start_date > end_date:
        raise ValueError(f"start {start_date} after end {end_date}")
    runs = []
    day = start_date
    while day <= end_date:
        statuses = run_production_etl(
            spark, day, fetch_receipts_page, lake_path, state_file,
            report_dir=report_dir,
        )
        runs.append({"run_date": day, **statuses})
        day += dt.timedelta(days=1)
    return runs
