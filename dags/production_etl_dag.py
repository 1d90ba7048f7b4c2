"""Installable Airflow DAG for the production ETL + reporting tick.

The deployable artifact for the lifecycle that
``pos_api_pipeline_spark/plans/dag.py`` implements (and unit-tests)
as pure Python — same topology as the reference DAG
(reference: dags/production_etl_dag.py):

    start >> run_daily_incremental_etl >> check_if_first_day_of_month
    check >> [run_monthly_report_task, run_cumulative_report_task] >> end
    check >> skip_reporting_task >> end

Drop this file into an Airflow dags/ folder. Configuration comes from
environment variables (Airflow Variables work too — export them as
env):

    POS_LAKE_PATH    parquet lake root              (required)
    POS_STATE_FILE   watermark state file           (required)
    POS_REPORT_DIR   report and figure output dir   (optional)
    POS_FETCH_FN     "module.path:callable" for the REST page fetcher
                     (required — the API client is deployment-specific)

Importing this module WITHOUT airflow installed is a no-op
(``dag = None``): the task callables below remain importable and
unit-testable, and the repo's test suite doesn't need a scheduler.
"""

from __future__ import annotations

import datetime as dt
import importlib
import os

from pos_api_pipeline_spark.plans.dag import (
    MONTHLY_TASKS,
    SKIP_TASK,
    check_if_first_day_of_month,
    cumulative_report,
    monthly_report,
)

TASK_IDS = [
    "start",
    "run_daily_incremental_etl",
    "check_if_first_day_of_month",
    *MONTHLY_TASKS,
    SKIP_TASK,
    "end",
]


def _spark():
    from pos_api_pipeline_spark.session import get_spark

    return get_spark("production_etl_dag")


def _fetch_fn():
    spec = os.environ["POS_FETCH_FN"]
    mod, _, attr = spec.partition(":")
    return getattr(importlib.import_module(mod), attr)


def task_daily_etl(**_):
    from pos_api_pipeline_spark.plans import pipelines

    return pipelines.daily_incremental_run(
        _spark(),
        _fetch_fn(),
        os.environ["POS_LAKE_PATH"],
        os.environ["POS_STATE_FILE"],
    )


def task_branch(*, data_interval_end=None, **_):
    """BranchPythonOperator callable: Airflow hands the data interval
    end; reports run only on the 1st (covering the month that just
    closed) — the reference's branch rule verbatim."""
    run_date = (
        data_interval_end.date()
        if data_interval_end is not None
        else dt.date.today()
    )
    return check_if_first_day_of_month(run_date)


def task_monthly_report(*, data_interval_end=None, **_):
    run_date = (
        data_interval_end.date()
        if data_interval_end is not None
        else dt.date.today()
    )
    return monthly_report(
        _spark(),
        os.environ["POS_LAKE_PATH"],
        run_date,
        os.environ.get("POS_REPORT_DIR") or None,
    )


def task_cumulative_report(**_):
    md, _figures = cumulative_report(
        _spark(),
        os.environ["POS_LAKE_PATH"],
        os.environ.get("POS_REPORT_DIR") or None,
    )
    return md


try:  # DAG definition only where a scheduler exists
    from airflow.models.dag import DAG
    from airflow.operators.empty import EmptyOperator
    from airflow.operators.python import (
        BranchPythonOperator,
        PythonOperator,
    )
except ImportError:  # pragma: no cover — exercised by the unit test
    dag = None
else:
    with DAG(
        dag_id="daily_etl_and_monthly_reporting",
        start_date=dt.datetime(2025, 7, 25),
        schedule="0 7 * * *",
        catchup=False,
        tags=["production", "etl", "reporting"],
    ) as dag:
        start = EmptyOperator(task_id="start")
        run_daily_etl = PythonOperator(
            task_id="run_daily_incremental_etl",
            python_callable=task_daily_etl,
        )
        check_date = BranchPythonOperator(
            task_id="check_if_first_day_of_month",
            python_callable=task_branch,
        )
        run_monthly_report = PythonOperator(
            task_id="run_monthly_report_task",
            python_callable=task_monthly_report,
        )
        run_cumulative_report = PythonOperator(
            task_id="run_cumulative_report_task",
            python_callable=task_cumulative_report,
        )
        skip_reporting = EmptyOperator(task_id=SKIP_TASK)
        end = EmptyOperator(
            task_id="end", trigger_rule="none_failed_min_one_success"
        )

        start >> run_daily_etl >> check_date
        check_date >> [run_monthly_report, run_cumulative_report] >> end
        check_date >> skip_reporting >> end
