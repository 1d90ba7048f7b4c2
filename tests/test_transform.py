"""Curation-chain tests: flatten, homogenize, time slots.

Fixtures mirror the reference's test data shapes
(reference: tests/reporting/test_reporting.py:11-38, FIXTURES.md §1/§3).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from pos_api_pipeline_spark.operators.transform import (
    flatten_receipts,
    homogenize_order_types,
    run_transform,
    with_time_slots,
)
from pos_api_pipeline_spark.schemas import CURATED_COLUMNS, RECEIPT_SCHEMA


@pytest.fixture(scope="module")
def receipts(spark):
    rows = [
        {
            "receipt_number": "1-1696",
            "receipt_date": "2025-07-21T16:00:00.000Z",
            "created_at": "2025-07-21T16:01:00.000Z",
            "updated_at": "2025-07-21T16:02:00.000Z",
            "order": "Mesa 2",
            "payments": [{"type": "CASH"}, {"type": "CARD"}],
            "line_items": [
                {
                    "item_name": "Doble Chicken",
                    "cost": 54.0,
                    "price": 115.0,
                    "total_money": 115.0,
                    "line_modifiers": [{"name": "Mayonesa", "option": "Ajo"}],
                },
                {
                    "item_name": "Malteada Chocolate",
                    "cost": 19.0,
                    "price": 60.0,
                    "total_money": 60.0,
                    "line_modifiers": [],
                },
            ],
        },
        {
            "receipt_number": "1-1697",
            "receipt_date": "2025-07-22T01:30:00.000Z",
            "created_at": "2025-07-22T01:31:00.000Z",
            "updated_at": "2025-07-22T01:32:00.000Z",
            "order": "A domicilio 01",
            "payments": [{"type": "CASH"}],
            "line_items": [
                {
                    "item_name": "Papas Fritas",
                    "cost": 10.0,
                    "price": 45.0,
                    "total_money": 45.0,
                    "line_modifiers": None,
                }
            ],
        },
    ]
    return spark.createDataFrame(rows, RECEIPT_SCHEMA)


def test_flatten_one_row_per_line_item(receipts):
    flat = flatten_receipts(receipts)
    out = {r["item_name"]: r.asDict() for r in flat.collect()}
    assert len(out) == 3
    first = out["Doble Chicken"]
    assert first["receipt_number"] == "1-1696"
    assert first["date"] == "2025-07-21"
    assert first["time"] == "16:00:00.000"
    assert first["payment_type"] == "CASH;CARD"
    assert first["modifiers"] == "Mayonesa(Ajo)"
    assert out["Malteada Chocolate"]["modifiers"] == ""
    assert out["Papas Fritas"]["modifiers"] is None


def test_homogenize_sequential_semantics(spark):
    # Final values must match the reference's sequential-mask outcome
    # (etl/transform.py:101-123): '01' rows end as 'Para llevar'
    # because the later 'Llevar' mask rewrites 'Para Llevar'.
    df = spark.createDataFrame(
        [("A domicilio 01",), ("Mesa -3",), ("algo a domicilio",),
         ("Para Llevar",), ("Mostrador",), (None,)],
        "order_type string",
    )
    got = dict(
        zip(
            [r.order_type for r in df.collect()],
            [r.order_type for r in homogenize_order_types(df).collect()],
        )
    )
    assert got["A domicilio 01"] == "Para llevar"  # '01' wins, then rewritten
    assert got["Mesa -3"] == "Mesa 2"
    assert got["algo a domicilio"] == "A domicilio"
    assert got["Para Llevar"] == "Para llevar"
    assert got["Mostrador"] == "Mostrador"
    assert got[None] is None


def test_time_slots(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2025, 7, 21, 16, 45, 12),),
         (dt.datetime(2025, 7, 21, 3, 10, 0),)],
        "datetime timestamp",
    )
    out = with_time_slots(df).collect()
    by_min = {r.minutes_past_midnight: r for r in out}
    # 16:45 UTC − 6 h = 10:45 local
    assert by_min[10 * 60 + 45].time_slot == "10:00-11:00"
    assert by_min[10 * 60 + 45].shifted_time == dt.datetime(2025, 7, 21, 10, 45, 12)
    # 03:10 UTC − 6 h = 21:10 previous day — fixed offset, no DST
    assert by_min[21 * 60 + 10].shifted_time == dt.datetime(2025, 7, 20, 21, 10)
    assert by_min[21 * 60 + 10].time_slot == "21:00-22:00"


def test_run_transform_schema(receipts):
    curated = run_transform(receipts)
    assert curated.columns == CURATED_COLUMNS
    rows = {r.item_name: r for r in curated.collect()}
    assert rows["Papas Fritas"].order_type == "Para llevar"
    assert rows["Doble Chicken"].order_type == "Mesa 2"
    # shifted_time = datetime − 6 h exactly
    assert rows["Doble Chicken"].shifted_time == dt.datetime(2025, 7, 21, 10, 0)
    assert rows["Doble Chicken"].time_slot == "10:00-11:00"
