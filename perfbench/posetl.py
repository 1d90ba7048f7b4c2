"""The ``pos_etl`` workload: daily ticks of the production DAG.

One op is one ``plans.dag.run_production_etl`` tick: fetch the POS
API page, keep receipts past the watermark, ``run_transform``,
``lake.merge_and_overwrite``, advance the watermark. The calendar is
fixed; the receipts come from the seed.

- Setup lands the history from ``HISTORY_START`` as raw JSON lines
  and loads it through the program (``json_source.load_receipts_json``,
  ``run_transform``, ``lake.write_partitioned``), writes the watermark
  state file, and runs ``WARM_TICKS`` untimed daily ticks (the first
  tick of a session is 30–60 % slower than later ones, the second and
  third up to 19 %).
- The timed ticks end on the last day of April, so the next tick is
  the first of the month.
- The traced run adds that first-of-month tick after the timed
  section (both reports, every figure, two PDFs), to split the
  month-end across the report layers. It is cold: it runs once.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import time

import duckdb

from perfbench import posgen

HISTORY_START = dt.date(2025, 3, 1)
MONTH_END = dt.date(2025, 5, 1)
WARM_TICKS = 3
#: Nominal seconds of one daily tick on a 4-core host; ``--seconds``
#: divided by it fixes how many ticks a run times.
NOMINAL_TICK_S = 12.0


def _lake_files(lake_path: str) -> dict[str, int]:
    return {
        p: os.path.getsize(p)
        for p in glob.glob(os.path.join(lake_path, "**", "*.parquet"), recursive=True)
    }


def _parquet_rows(paths) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


class PosEtl:
    def __init__(self, seed: int, seconds: float, work: str, tracer=None):
        self.seed = seed
        self.tracer = tracer
        n = max(2, round(seconds / NOMINAL_TICK_S))
        first = MONTH_END - dt.timedelta(days=n + WARM_TICKS)
        self.warm_dates = posgen.days(first, first + dt.timedelta(WARM_TICKS - 1))
        self.timed_dates = posgen.days(MONTH_END - dt.timedelta(n), MONTH_END - dt.timedelta(1))
        self.history_end = first - dt.timedelta(2)
        self.work = work
        self.lake = os.path.join(work, "lake")
        self.state = os.path.join(work, "state.json")
        self.report_dir = os.path.join(work, "reports")
        self.ingested: list[dict] = []
        self.info: dict = {}
        self.tick_stats: dict[str, dict] = {}  # traced runs: op -> lake writes
        self.lake_wrong = False

    # -- setup ---------------------------------------------------------
    def setup(self, spark) -> None:
        from pos_api_pipeline_spark import lake
        from pos_api_pipeline_spark.operators.transform import run_transform
        from pos_api_pipeline_spark.sources import json_source
        from pos_api_pipeline_spark.sources.state import STATE_KEY

        t0 = time.perf_counter()
        history = posgen.receipts(self.seed, HISTORY_START, self.history_end)
        landed = os.path.join(self.work, "landed_receipts.jsonl")
        with open(landed, "w", encoding="utf-8") as f:
            f.writelines(json.dumps(r) + "\n" for r in history)
        raw = json_source.load_receipts_json(spark, landed)
        lake.write_partitioned(run_transform(raw), self.lake)
        self.ingested = list(history)
        with open(self.state, "w", encoding="utf-8") as f:
            json.dump({STATE_KEY: posgen.totals(history)[2]}, f)
        t1 = time.perf_counter()
        warm = self.info["warm_tick_s"] = {}
        for day in self.warm_dates:
            t = time.perf_counter()
            self._tick(spark, day)
            warm[day.isoformat()] = round(time.perf_counter() - t, 3)
        self.info["seed_s"] = t1 - t0
        self.info["warmup_s"] = time.perf_counter() - t1

    # -- ops -------------------------------------------------------------
    def ops(self) -> list[str]:
        return [f"tick-{d.isoformat()}" for d in self.timed_dates]

    def run_op(self, spark, op: str) -> bool:
        return self._tick(spark, dt.date.fromisoformat(op.removeprefix("tick-")))

    def _tick(self, spark, day: dt.date, report_dir: str | None = None) -> bool:
        from pos_api_pipeline_spark.plans import dag

        page = posgen.page_for_tick(self.seed, day)
        before = _lake_files(self.lake) if self.tracer else None
        statuses = dag.run_production_etl(
            spark, day, lambda cursor: (page, None), self.lake, self.state,
            report_dir=report_dir,
        )
        new = posgen.day_receipts(self.seed, day - dt.timedelta(1))
        self.ingested += new
        expected_rows = posgen.totals(new)[0]
        if before is not None:
            after = _lake_files(self.lake)
            written = [p for p in after if p not in before]
            self.tick_stats[self.tracer.op] = {
                "fetched_rows": sum(len(r["line_items"]) for r in page),
                "kept_rows": expected_rows,
                "bytes_written": sum(after[p] for p in written),
                "rows_written": _parquet_rows(written),
            }
        return (
            statuses.get("run_daily_incremental_etl") == "success"
            and statuses.get("end") == "success"
            and statuses["etl_result"]["rows"] == expected_rows
        )

    # -- traced extra: the first-of-month tick ---------------------------
    def month_end(self, spark) -> tuple[float, bool]:
        os.makedirs(self.report_dir, exist_ok=True)
        t0 = time.perf_counter()
        ok = self._tick(spark, MONTH_END, report_dir=self.report_dir)
        elapsed = time.perf_counter() - t0
        month = (MONTH_END - dt.timedelta(1)).strftime("%Y-%m")
        names = [f"monthly_report_{month}", "cumulative_report"]
        for name in names:
            ok &= os.path.isfile(os.path.join(self.report_dir, f"{name}.md"))
            pdf = os.path.join(self.report_dir, f"{name}.pdf")
            ok &= os.path.isfile(pdf) and open(pdf, "rb").read(5) == b"%PDF-"
        figures = glob.glob(os.path.join(self.report_dir, "*.svg"))
        ok &= len(figures) >= 12
        self.info["month_end_figures"] = len(figures)
        return elapsed, ok

    # -- output check ----------------------------------------------------
    def check(self) -> list[str]:
        """Lake content against the generator's own totals, read with
        DuckDB (not with the program)."""
        from pos_api_pipeline_spark.sources.state import STATE_KEY

        rows, per_month, max_updated = posgen.totals(self.ingested)
        problems = []
        pattern = os.path.join(self.lake, "**", "*.parquet")
        con = duckdb.connect()
        got_rows = con.execute(f"SELECT count(*) FROM read_parquet('{pattern}')").fetchone()[0]
        if got_rows != rows:
            problems.append(f"lake rows {got_rows} != generated {rows}")
        got = dict(con.execute(
            "SELECT strftime(shifted_time, '%Y-%m'), sum(total_money) "
            f"FROM read_parquet('{pattern}') GROUP BY 1"
        ).fetchall())
        if {k: round(v, 2) for k, v in got.items()} != {k: round(v, 2) for k, v in per_month.items()}:
            problems.append(f"per-month total_money {got} != generated {per_month}")
        with open(self.state, encoding="utf-8") as f:
            watermark = json.load(f)[STATE_KEY]
        if watermark != max_updated:
            problems.append(f"watermark {watermark} != stream max updated_at {max_updated}")
        files = _lake_files(self.lake)
        self.info["lake_rows"] = got_rows
        self.info["lake_files"] = len(files)
        self.info["lake_bytes_per_row"] = sum(files.values()) / max(1, got_rows)
        self.lake_wrong = bool(problems)
        return problems

    def op_failed(self, op: str) -> bool:
        """A wrong lake or watermark fails every timed tick: the ticks
        wrote it together, so none of them can be cleared alone."""
        return self.lake_wrong
