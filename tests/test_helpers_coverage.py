"""Direct units for public helpers that no registry query reaches.
Each is tiny on purpose. ``tests/test_public_surface.py`` lists every
such helper and why it stays.
"""

from __future__ import annotations

import json


def test_load_items_json_declared_schema(spark, tmp_path):
    from pos_api_pipeline_spark.sources.json_source import load_items_json

    p = tmp_path / "items.json"
    p.write_text(
        "\n".join(
            json.dumps({"id": str(i), "item_name": f"it{i}", "price": 1.5 * i})
            for i in range(3)
        )
    )
    df = load_items_json(spark, str(p))
    assert df.columns == ["id", "item_name", "price"]
    assert df.count() == 3


def test_fetch_all_historical_paginates_both_feeds(spark):
    from pos_api_pipeline_spark.sources import rest_api

    receipts_pages = {
        None: ([{"receipt_number": "r1"}], "c1"),
        "c1": ([{"receipt_number": "r2"}], None),
    }
    items_pages = {None: ([{"id": "5", "item_name": "x", "price": 2.0}], None)}

    receipts, items = rest_api.fetch_all_historical(
        spark,
        lambda c: receipts_pages[c],
        lambda c: items_pages[c],
    )
    assert [r.receipt_number for r in receipts.collect()] == ["r1", "r2"]
    assert items.count() == 1


def test_unimax_allocation_budget_conserved(spark):
    from pyspark.sql import functions as F

    from pos_api_pipeline_spark.llm.sampling import unimax_allocation

    rows = [(i, ["en"] * 60 + ["de"] * 25 + ["zh"] * 10 + ["fr"] * 5)
            for i in range(1)]
    df = spark.createDataFrame(
        [(i, lang) for i in range(100)
         for lang in [rows[0][1][i]]],
        "doc_id long, lang string",
    )
    out = unimax_allocation(
        df.withColumn("n_chars", F.lit(1)), "lang", size_col="n_chars",
        budget_frac=0.5, max_epochs=2.0,
    )
    got = {r.lang: r for r in out.collect()}
    # budget = 50 units; caps: fr 10, zh 20, de 50, en 120
    total = sum(r.allocation for r in got.values())
    # water level conserves the budget (allocations are rounded to
    # 4 dp per stratum, so allow that much slack per row)
    assert abs(total - 50.0) < 1e-3
    # nobody exceeds the epoch cap, tail languages are not starved
    assert all(r.epochs <= 2.0 + 1e-9 for r in got.values())
    assert got["fr"].allocation >= got["fr"].n_units * 1.0  # upsampled
    assert got["en"].allocation < got["en"].n_units  # head downsampled
