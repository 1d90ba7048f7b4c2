"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import re
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import layers, posgen, queries, stats, tablegen
from perfbench.posetl import PosEtl
from tools import oracle_check

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def test_same_seed_same_receipts_and_pages():
    day = dt.date(2025, 4, 29)
    assert posgen.day_receipts(7, day) == posgen.day_receipts(7, day)
    assert posgen.page_for_tick(7, day) == posgen.page_for_tick(7, day)
    assert posgen.day_receipts(7, day) != posgen.day_receipts(8, day)


def test_same_seed_same_tables():
    a, b = tablegen.tables(3, 0.001), tablegen.tables(3, 0.001)
    assert sorted(a) == sorted(oracle_check.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not tablegen.tables(4, 0.001)["lineitem"].equals(a["lineitem"])


def test_same_seed_same_query_order():
    assert queries.op_order(5, 2) == queries.op_order(5, 2)
    assert queries.op_order(5, 2) != queries.op_order(6, 2)
    assert sorted(queries.op_order(5, 2)) == sorted(
        f"{q}#{p}" for p in range(2) for q in queries.QUERIES
    )


def test_percentile_refuses_a_thin_tail():
    with pytest.raises(ValueError):
        stats.percentile([float(i) for i in range(49)], 80)
    assert stats.percentile([float(i) for i in range(50)], 80) == 39.0


def test_metric_names():
    spec = json.loads(BENCHMARK.read_text())
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(NAME.match(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))
    assert [m["name"] for m in spec["per_layer"]] == [n for n, _, _ in layers.PER_LAYER]


def test_pages_are_valid_input():
    for day in posgen.days(dt.date(2025, 4, 1), dt.date(2025, 5, 1)):
        page = posgen.page_for_tick(11, day)
        assert len(page) <= posgen.PAGE_LIMIT
        for r in page:
            items = [li["item_name"] for li in r["line_items"]]
            assert len(items) == len(set(items)), "an item repeats within a receipt"
            utc = dt.datetime.strptime(r["receipt_date"], "%Y-%m-%dT%H:%M:%S.000Z")
            local = utc - posgen.UTC_OFFSET
            assert local.strftime("%y%m%d") == r["receipt_number"][:6]
    lines = [li for r in posgen.receipts(11, dt.date(2025, 4, 1), dt.date(2025, 4, 3))
             for li in r["line_items"]]
    combos = [li for li in lines if "Combo" in li["item_name"]]
    assert combos and all(
        {m["name"] for m in li["line_modifiers"]} >= {"Hamburguesa", "Mayonesa"}
        for li in combos
    )


def test_watermark_drops_exactly_the_overlap():
    day = dt.date(2025, 4, 20)
    previous = posgen.day_receipts(2, day - dt.timedelta(2))
    watermark = posgen.totals(previous)[2]
    kept = [r for r in posgen.page_for_tick(2, day) if r["created_at"] > watermark]
    assert sorted(kept, key=lambda r: r["created_at"]) == posgen.day_receipts(
        2, day - dt.timedelta(1)
    )


def _lake_and_state(etl: PosEtl, receipts: list[dict], lines: int) -> None:
    """Write a one-file lake of the first ``lines`` line items of
    ``receipts`` and a watermark state file at their max ``updated_at``."""
    from pos_api_pipeline_spark.sources.state import STATE_KEY

    rows = [
        (dt.datetime.strptime(r["receipt_date"], "%Y-%m-%dT%H:%M:%S.000Z")
         - posgen.UTC_OFFSET, float(li["total_money"]))
        for r in receipts for li in r["line_items"]
    ][:lines]
    Path(etl.lake).mkdir(parents=True)
    pq.write_table(
        pa.table({"shifted_time": [t for t, _ in rows], "total_money": [m for _, m in rows]}),
        Path(etl.lake) / "part-0.parquet",
    )
    Path(etl.state).write_text(json.dumps({STATE_KEY: posgen.totals(receipts)[2]}))


@pytest.mark.parametrize("lines_missing", [0, 1])
def test_pos_etl_wrong_lake_fails_every_tick(tmp_path, lines_missing):
    etl = PosEtl(3, 16, str(tmp_path))
    etl.ingested = posgen.day_receipts(3, dt.date(2025, 4, 2))
    _lake_and_state(etl, etl.ingested, posgen.totals(etl.ingested)[0] - lines_missing)
    assert bool(etl.check()) == bool(lines_missing)
    assert [etl.op_failed(op) for op in etl.ops()] == [bool(lines_missing)] * 2
