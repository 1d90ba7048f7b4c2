"""End-to-end pipeline lifecycle tests: daily incremental run →
lake → monthly/cumulative report data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pos_api_pipeline_spark.plans import pipelines, report


def _receipt(n, date, order, items):
    return {
        "receipt_number": n,
        "receipt_date": date,
        "created_at": date,
        "updated_at": date,
        "order": order,
        "payments": [{"type": "CASH"}],
        "line_items": [
            {
                "item_name": it,
                "cost": 10.0,
                "price": 50.0,
                "total_money": 50.0,
                "line_modifiers": [{"name": "Mayonesa", "option": "Ajo"}]
                if "Doble" in it
                else [],
            }
            for it in items
        ],
    }


@pytest.fixture()
def api_pages():
    batch = [
        _receipt("1-1", "2025-07-21T16:00:00.000Z", "Mesa 2",
                 ["Doble Chicken", "Papas Fritas"]),
        _receipt("1-2", "2025-07-22T17:00:00.000Z", "A domicilio",
                 ["Malteada Chocolate"]),
        _receipt("1-3", "2025-08-02T12:00:00.000Z", "Para Llevar",
                 ["Doble Chicken"]),
    ]
    return lambda cursor: (batch, None)


def _seed_state(state_file, wm="2025-01-01T00:00:00.000Z"):
    import json

    from pos_api_pipeline_spark.sources.state import STATE_KEY

    with open(state_file, "w") as f:
        json.dump({STATE_KEY: wm}, f)


def test_production_dag_branches(spark, tmp_path, api_pages):
    """Drive a synthetic month boundary through both DAG branches
    (reference: dags/production_etl_dag.py:17-27, 96-101)."""
    import datetime as dt

    from pos_api_pipeline_spark.plans import dag

    lake_path = str(tmp_path / "lake")
    state_file = str(tmp_path / "state.json")
    _seed_state(state_file)

    # Mid-month tick: ETL runs, reports skipped.
    mid = dag.run_production_etl(
        spark, dt.date(2025, 8, 15), api_pages, lake_path, state_file
    )
    assert mid["run_daily_incremental_etl"] == "success"
    assert mid["run_monthly_report_task"] == "skipped"
    assert mid["run_cumulative_report_task"] == "skipped"
    assert mid["skip_reporting_task"] == "success"
    assert mid["end"] == "success"
    assert mid["etl_result"]["rows"] == 4

    # First-of-month tick: reports run on the month that just closed.
    assert dag.report_month_for(dt.date(2025, 9, 1)) == (2025, 8)
    first = dag.run_production_etl(
        spark,
        dt.date(2025, 9, 1),
        api_pages,
        lake_path,
        state_file,
        report_dir=str(tmp_path / "figures"),
    )
    assert first["run_monthly_report_task"] == "success"
    assert first["run_cumulative_report_task"] == "success"
    assert first["skip_reporting_task"] == "skipped"
    assert "# Monthly Report 2025-08" in first["monthly_report_md"]
    assert "# Cumulative Report" in first["cumulative_report_md"]
    assert len(first["figures"]) >= 12  # all fixed figures written
    from pathlib import Path

    assert all(Path(p).exists() for p in first["figures"])
    fig_dir = tmp_path / "figures"
    assert (fig_dir / "monthly_report_2025-08.md").exists()
    assert (fig_dir / "monthly_report_2025-08.pdf").read_bytes().startswith(
        b"%PDF-"
    )
    assert (fig_dir / "cumulative_report.pdf").exists()


def test_daily_run_then_reports(spark, tmp_path, api_pages):
    lake_path = str(tmp_path / "lake")
    state_file = str(tmp_path / "state.json")
    _seed_state(state_file)  # fixture data predates the month-start fallback

    status = pipelines.daily_incremental_run(
        spark, api_pages, lake_path, state_file
    )
    assert status["rows"] == 4  # 4 line items across 3 receipts
    assert status["watermark"] == "2025-08-02T12:00:00.000Z"

    # Replay the same batch: watermark filters everything out.
    status2 = pipelines.daily_incremental_run(
        spark, api_pages, lake_path, state_file
    )
    assert status2["rows"] == 0

    cleaned, monthly = pipelines.monthly_report_data(spark, lake_path, 2025, 8)
    top = monthly["top_products"].collect()
    assert top[0].item_name == "Doble Chicken"
    kpis = {r.month_tag: r for r in monthly["kpis"].collect()}
    assert kpis["2025-08"].n_receipts == 1
    assert kpis["2025-07"].n_receipts == 2  # previous month included
    cleaned.unpersist()

    cleaned, cumulative = pipelines.cumulative_report_data(spark, lake_path)
    k = cumulative["kpis"].collect()[0]
    assert k.n_receipts == 3
    assert k.total_revenue == 200.0
    heat = cumulative["day_hour_heatmap"].collect()
    assert len(heat[0].asDict()) == 25  # day + 24 hour columns

    md = report.render_report(
        "Cumulative", {"kpis": cumulative["kpis"]}
    )
    assert "total_revenue" in md and md.startswith("# Cumulative")
    cleaned.unpersist()


def _run_in_group(spark, group, fn):
    """(fn(), [numTasks of each stage of each job fn ran]) from the
    status tracker. The listener bus is asynchronous and in order, so
    once a marker job run after fn shows as finished, every job fn ran
    is in the tracker too."""
    import time

    sc = spark.sparkContext
    st = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        result = fn()
        sc.setJobGroup(group + "-marker", group)
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    (marker,) = st.getJobIdsForGroup(group + "-marker")
    deadline = time.monotonic() + 30
    while st.getJobInfo(marker).status != "SUCCEEDED":
        assert time.monotonic() < deadline
        time.sleep(0.05)
    jobs = [
        [st.getStageInfo(s).numTasks for s in st.getJobInfo(j).stageIds]
        for j in st.getJobIdsForGroup(group)
    ]
    return result, jobs


def test_daily_tick_job_and_task_budget(spark, tmp_path, api_pages):
    """A tick computes its page once, as one partition, and observes
    the watermark on that job: at most 4 jobs, one task per stage over
    the batch, and no job at all for an empty page."""
    lake_path = str(tmp_path / "lake")
    state_file = str(tmp_path / "state.json")

    def tick():
        return pipelines.daily_incremental_run(
            spark, api_pages, lake_path, state_file
        )

    _seed_state(state_file)
    status, jobs = _run_in_group(spark, "tick-first", tick)
    assert status == {"rows": 4, "watermark": "2025-08-02T12:00:00.000Z"}
    assert 1 <= len(jobs) <= 4
    # No lake yet: every stage of the first tick reads only the batch.
    assert all(n == 1 for stages in jobs for n in stages), jobs

    # The same page again is past the watermark: nothing to do.
    status, jobs = _run_in_group(spark, "tick-empty", tick)
    assert status == {"rows": 0, "watermark": "2025-08-02T12:00:00.000Z"}
    assert jobs == []

    # Redelivered into an existing lake (the merge reads history too).
    _seed_state(state_file)
    status, jobs = _run_in_group(spark, "tick-merge", tick)
    assert status["rows"] == 4
    assert 1 <= len(jobs) <= 4, jobs


def _lake_files(lake_path):
    from pathlib import Path

    return {
        str(p.relative_to(lake_path)): p.read_bytes()
        for p in Path(lake_path).rglob("*.parquet")
    }


def test_appending_tick_runs_3_jobs_and_keeps_stored_files(spark, tmp_path):
    """New keys into months the lake already holds take the append
    path: at most 3 jobs, and every stored file keeps its name and
    bytes."""
    lake_path = str(tmp_path / "lake")
    state_file = str(tmp_path / "state.json")
    _seed_state(state_file)
    first = [
        _receipt("3-1", "2025-07-21T16:00:00.000Z", "Mesa 2", ["Doble Chicken"]),
        _receipt("3-2", "2025-08-02T12:00:00.000Z", "Para Llevar", ["Papas Fritas"]),
    ]
    later = [
        _receipt("3-3", "2025-08-03T12:00:00.000Z", "Mesa 1",
                 ["Doble Chicken", "Papas Fritas"]),
        _receipt("3-4", "2025-08-04T13:00:00.000Z", "Para Llevar", []),
    ]
    pipelines.daily_incremental_run(
        spark, lambda cursor: (first, None), lake_path, state_file
    )
    stored = _lake_files(lake_path)

    status, jobs = _run_in_group(
        spark, "tick-append",
        lambda: pipelines.daily_incremental_run(
            spark, lambda cursor: (later, None), lake_path, state_file
        ),
    )
    assert status == {"rows": 3, "watermark": "2025-08-04T13:00:00.000Z"}
    assert 1 <= len(jobs) <= 3, jobs
    after = _lake_files(lake_path)
    assert {p: after.get(p) for p in stored} == stored
    assert len(after) == len(stored) + 1  # one new file, in month=08
    from pos_api_pipeline_spark import lake

    assert lake.read_lake(spark, lake_path).count() == 5


def _executed_plan_nodes(spark, label, fn):
    """(fn(), [(node name, node description)] of every SQL execution
    fn ran), read from the SQL status store's executed plan graphs.
    The executions are tagged with ``label`` as their job description;
    a marker execution run after fn has finished once every earlier
    listener event is in the store."""
    import time

    sc = spark.sparkContext
    sc.setJobDescription(label)
    try:
        result = fn()
        sc.setJobDescription(label + "-marker")
        spark.range(1).collect()
    finally:
        sc.setJobDescription(None)
    store = spark._jsparkSession.sharedState().statusStore()
    deadline = time.monotonic() + 30
    while True:
        execs = []
        n = store.executionsCount()
        it = store.executionsList(max(0, n - 50), 50).iterator()
        while it.hasNext():
            e = it.next()
            execs.append((e.executionId(), e.description(), e.completionTime().isDefined()))
        if any(d == label + "-marker" and done for _, d, done in execs):
            break
        assert time.monotonic() < deadline
        time.sleep(0.05)
    nodes = []
    for eid, d, _ in execs:
        if d != label:
            continue
        it = store.planGraph(eid).allNodes().iterator()
        while it.hasNext():
            n = it.next()
            nodes.append((n.name(), n.desc()))
    return result, nodes


def test_tick_scans_and_explodes_the_page_once(spark, tmp_path):
    """Over every job of a tick into an existing lake, the fetched page
    is scanned once and ``run_transform``'s explode runs once: the
    merge works on the curated page the tick computed."""
    lake_path = str(tmp_path / "lake")
    state_file = str(tmp_path / "state.json")
    _seed_state(state_file)
    first = [_receipt("4-1", "2025-07-21T16:00:00.000Z", "Mesa 2", ["Doble Chicken"])]
    later = [_receipt("4-2", "2025-07-22T16:00:00.000Z", "Mesa 2",
                      ["Doble Chicken", "Papas Fritas"])]
    pipelines.daily_incremental_run(
        spark, lambda cursor: (first, None), lake_path, state_file
    )
    status, nodes = _executed_plan_nodes(
        spark, "tick-plans",
        lambda: pipelines.daily_incremental_run(
            spark, lambda cursor: (later, None), lake_path, state_file
        ),
    )
    assert status["rows"] == 2
    page_scans = [d for name, d in nodes if name == "LocalTableScan" and "line_items" in d]
    explodes = [d for name, d in nodes if name == "Generate"]
    assert len(page_scans) == 1, page_scans
    assert len(explodes) == 1, explodes


@pytest.fixture()
def edge_page():
    """One page past watermark 2025-07-01: a receipt with no line
    items, one with a null ``updated_at``, and one redelivered receipt
    (created before the watermark) whose later ``updated_at`` the
    watermark filter must keep out of the new watermark."""
    plain = _receipt("2-1", "2025-07-21T16:00:00.000Z", "Mesa 2",
                     ["Doble Chicken", "Papas Fritas"])
    no_items = _receipt("2-2", "2025-07-22T17:00:00.000Z", "Para Llevar", [])
    no_items["updated_at"] = "2025-07-25T09:00:00.000Z"
    no_update = _receipt("2-3", "2025-07-23T12:00:00.000Z", "Mesa 1",
                         ["Malteada Chocolate"])
    no_update["updated_at"] = None
    redelivered = _receipt("1-9", "2025-06-30T20:00:00.000Z", "Mesa 3",
                           ["Papas Fritas"])
    redelivered["updated_at"] = "2025-07-30T08:00:00.000Z"
    return [plain, no_items, no_update, redelivered]


def test_observed_rows_and_watermark_match_the_batch(spark, tmp_path, edge_page):
    from pos_api_pipeline_spark.operators.transform import run_transform
    from pos_api_pipeline_spark.sources import rest_api, state

    wm = "2025-07-01T00:00:00.000Z"
    state_file = str(tmp_path / "state.json")
    _seed_state(state_file, wm)
    fetch = lambda cursor: (edge_page, None)  # noqa: E731
    batch = rest_api.fetch_incremental(spark, fetch, wm)
    expected_rows = run_transform(batch).count()
    expected_wm = max(
        r["updated_at"] for r in edge_page
        if r["created_at"] > wm and r["updated_at"] is not None
    )
    assert expected_rows == 4  # 2 items + 1 empty-items row + 1 item
    assert expected_wm == "2025-07-25T09:00:00.000Z"

    status = pipelines.daily_incremental_run(
        spark, fetch, str(tmp_path / "lake"), state_file
    )
    assert status == {"rows": expected_rows, "watermark": expected_wm}
    assert state.read_last_timestamp(state_file) == expected_wm


def test_failed_merge_leaves_watermark_and_reads_no_observation(
    spark, tmp_path, edge_page, monkeypatch
):
    from pyspark.sql import Observation

    state_file = tmp_path / "state.json"
    _seed_state(str(state_file), "2025-07-01T00:00:00.000Z")
    before = state_file.read_bytes()

    def failing_merge(*args, **kwargs):
        raise RuntimeError("lake write failed")

    def never(self):
        # Observation.get waits for an action that never ran.
        pytest.fail("Observation.get reached after a failed merge")

    monkeypatch.setattr(pipelines.lake, "merge_and_overwrite", failing_merge)
    monkeypatch.setattr(Observation, "get", property(never))
    with pytest.raises(RuntimeError, match="lake write failed"):
        pipelines.daily_incremental_run(
            spark, lambda cursor: (edge_page, None),
            str(tmp_path / "lake"), str(state_file),
        )
    assert state_file.read_bytes() == before


def test_monthly_handles_january(spark, tmp_path, api_pages):
    # Reference crashes on month-1==0 (monthly_report.py:40); we roll
    # the year — January compares against December of the prior year.
    lake_path = str(tmp_path / "lake")
    state_file = str(tmp_path / "s.json")
    _seed_state(state_file)
    pipelines.daily_incremental_run(spark, api_pages, lake_path, state_file)
    cleaned, monthly = pipelines.monthly_report_data(spark, lake_path, 2025, 1)
    assert monthly["kpis"].count() == 0  # no Jan/Dec data — but no crash
    cleaned.unpersist()


@pytest.mark.parametrize("with_report_dir", [False, True])
def test_month_end_tick_leaves_no_cached_frames(
    spark, tmp_path, api_pages, with_report_dir
):
    """A first-of-month tick unpersists every frame it caches, so a
    long backfill does not gain one cached frame per month."""
    import datetime as dt

    from pos_api_pipeline_spark.plans import dag

    state_file = str(tmp_path / "state.json")
    _seed_state(state_file)
    spark.catalog.clearCache()
    statuses = dag.run_production_etl(
        spark,
        dt.date(2025, 9, 1),
        api_pages,
        str(tmp_path / "lake"),
        state_file,
        report_dir=str(tmp_path / "out") if with_report_dir else None,
    )
    assert statuses["run_cumulative_report_task"] == "success"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _august_pages():
    """Three daily pages of new receipts, all in August 2025."""
    return [
        [_receipt(f"5-{day}-{k}", f"2025-08-{day:02d}T{15 + k}:00:00.000Z",
                  order, items)
         for k, (order, items) in enumerate([
             ("Mesa 2", ["Doble Chicken", "Papas Fritas"]),
             ("Para Llevar", ["Malteada Chocolate"]),
             ("A domicilio", []),
         ])]
        for day in (10, 11, 12)
    ]


def _tick(spark, run_date, page, lake_path, state_file):
    from pos_api_pipeline_spark.plans import dag

    return dag.run_production_etl(
        spark, run_date, lambda cursor: (page, None), lake_path, state_file
    )


def test_month_end_tick_compacts_the_closed_month(spark, tmp_path):
    """Appending ticks leave one file per tick in August; the
    first-of-September tick leaves it at one file with the same rows
    and touches no other month."""
    import datetime as dt

    from pos_api_pipeline_spark import lake

    lake_path = str(tmp_path / "lake")
    state_file = str(tmp_path / "state.json")
    _seed_state(state_file)
    july = [_receipt("5-0", "2025-07-30T15:00:00.000Z", "Mesa 2", ["Doble Chicken"])]
    _tick(spark, dt.date(2025, 7, 31), july, lake_path, state_file)
    pages = _august_pages()
    for day, page in zip((11, 12, 13), pages):
        _tick(spark, dt.date(2025, 8, day), page, lake_path, state_file)
    month = tmp_path / "lake" / "year=2025" / "month=08"
    assert len(list(month.glob("*.parquet"))) == 3

    def august_rows():
        rows = lake.read_lake(spark, lake_path).filter(lake.in_months([(2025, 8)]))
        return sorted(map(tuple, rows.collect()), key=repr)

    before_rows = august_rows()
    july_files = {p: b for p, b in _lake_files(lake_path).items() if "month=07" in p}
    # The last page again: past the watermark, so the tick only compacts.
    statuses = _tick(spark, dt.date(2025, 9, 1), pages[-1], lake_path, state_file)
    assert statuses["etl_result"]["rows"] == 0
    assert statuses["run_monthly_report_task"] == "success"
    assert len(list(month.glob("*.parquet"))) == 1
    assert august_rows() == before_rows
    assert {p: b for p, b in _lake_files(lake_path).items() if "month=07" in p} == july_files


def test_month_end_reports_match_a_rewrite_every_tick_lake(spark, tmp_path):
    """The monthly and cumulative markdown over the appended-then-
    compacted lake are byte-identical to those over a lake whose every
    tick rewrote its month (each page redelivered once, so its keys
    collide)."""
    import datetime as dt

    from pos_api_pipeline_spark.sources import state

    pages = _august_pages()
    md = {}
    for kind in ("append", "rewrite"):
        lake_path = str(tmp_path / kind / "lake")
        state_file = str(tmp_path / kind / "state.json")
        (tmp_path / kind).mkdir()
        _seed_state(state_file)
        for day, page in zip((11, 12, 13), pages):
            wm = state.read_last_timestamp(state_file)
            _tick(spark, dt.date(2025, 8, day), page, lake_path, state_file)
            if kind == "rewrite":
                # Redeliver the page: it collides and rewrites August
                # into one file.
                _seed_state(state_file, wm)
                _tick(spark, dt.date(2025, 8, day), page, lake_path, state_file)
                month = tmp_path / kind / "lake" / "year=2025" / "month=08"
                assert len(list(month.glob("*.parquet"))) == 1
        statuses = _tick(spark, dt.date(2025, 9, 1), pages[-1], lake_path, state_file)
        md[kind] = (statuses["monthly_report_md"], statuses["cumulative_report_md"])
    assert "# Monthly Report 2025-08" in md["append"][0]
    assert md["append"] == md["rewrite"]


def test_daily_run_tracks_items_scd2(spark, tmp_path, api_pages):
    state_file = str(tmp_path / "state.json")
    _seed_state(state_file)
    items_page = lambda cur: (  # noqa: E731
        [{"id": "i1", "item_name": "Burger", "price": 50.0}], None
    )
    pipelines.daily_incremental_run(
        spark, api_pages, str(tmp_path / "lake"), state_file,
        fetch_items_page=items_page,
        items_dim_path=str(tmp_path / "items_dim"),
    )
    dim = spark.read.parquet(str(tmp_path / "items_dim"))
    rows = dim.collect()
    assert len(rows) == 1
    assert rows[0].item_name == "Burger" and rows[0].is_current


def test_pct_change():
    assert report.pct_change(150.0, 100.0) == "+50.0%"
    assert report.pct_change(50.0, 0.0) == "(new)"


def test_backfill_replays_days_and_branches_once(spark, tmp_path, api_pages):
    import datetime as dt

    from pos_api_pipeline_spark import lake
    from pos_api_pipeline_spark.plans import dag

    lake_path = str(tmp_path / "lake")
    state_file = str(tmp_path / "state.json")
    _seed_state(state_file)

    runs = dag.backfill(
        spark,
        dt.date(2025, 7, 31),
        dt.date(2025, 8, 2),
        api_pages,
        lake_path,
        state_file,
    )
    assert [r["run_date"].day for r in runs] == [31, 1, 2]
    # Only the Aug 1 tick branches into reports (covering July).
    report_days = [
        r["run_date"].day
        for r in runs
        if r["run_monthly_report_task"] == "success"
    ]
    assert report_days == [1]
    assert runs[0]["run_monthly_report_task"] == "skipped"
    assert "Monthly Report 2025-07" in runs[1]["monthly_report_md"]
    # Replayed fetches + latest-wins merge converge: 4 line items once.
    assert lake.read_lake(spark, lake_path).count() == 4

    # Backfilling the same range again is idempotent.
    runs2 = dag.backfill(
        spark, dt.date(2025, 7, 31), dt.date(2025, 8, 2),
        api_pages, lake_path, state_file,
    )
    assert lake.read_lake(spark, lake_path).count() == 4
    assert len(runs2) == 3


def test_installable_dag_module_without_airflow(tmp_path, monkeypatch):
    """dags/production_etl_dag.py: importable without airflow
    (dag=None), task topology names match plans/dag.py, and the
    branch callable mirrors the reference rule."""
    import datetime as dt
    import importlib.util
    import sys

    import pathlib

    dag_path = (
        pathlib.Path(__file__).resolve().parent.parent
        / "dags"
        / "production_etl_dag.py"
    )
    spec = importlib.util.spec_from_file_location(
        "production_etl_dag", str(dag_path)
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    try:
        import airflow  # noqa: F401
        has_airflow = True
    except ImportError:
        has_airflow = False
    if not has_airflow:
        assert mod.dag is None
    assert mod.TASK_IDS == [
        "start",
        "run_daily_incremental_etl",
        "check_if_first_day_of_month",
        "run_monthly_report_task",
        "run_cumulative_report_task",
        "skip_reporting_task",
        "end",
    ]

    class _DIE:
        def __init__(self, d):
            self._d = d

        def date(self):
            return self._d

    assert mod.task_branch(
        data_interval_end=_DIE(dt.date(2025, 8, 1))
    ) == ["run_monthly_report_task", "run_cumulative_report_task"]
    assert (
        mod.task_branch(data_interval_end=_DIE(dt.date(2025, 8, 2)))
        == "skip_reporting_task"
    )
    sys.modules.pop("production_etl_dag", None)
