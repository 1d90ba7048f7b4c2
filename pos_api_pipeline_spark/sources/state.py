"""Watermark state (SURVEY.md §2.1 S14–S16).

Batch-incremental offset tracking, mirroring the reference's JSON
state file (reference: etl/extract.py:201-252): read with a
month-start fallback, advance to max(updated_at) only after a
successful load (at-least-once redelivery on failure). The
data-derived fallback (S16) re-derives the watermark from the lake's
max shifted_time. The streaming twin of all this is the Structured
Streaming checkpoint + ``withWatermark`` (see streaming module).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import zoneinfo

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pos_api_pipeline_spark import lake

STATE_KEY = "last_successful_extraction_timestamp"


def read_last_timestamp(
    state_file: str, tz_name: str = "America/Mexico_City"
) -> str:
    """S14 — read the watermark; fallback = start of the current month
    in the business timezone converted to UTC (reference:
    etl/extract.py:215-226)."""
    if os.path.exists(state_file):
        with open(state_file) as f:
            data = json.load(f)
        ts = data.get(STATE_KEY)
        if ts:
            return ts
    tz = zoneinfo.ZoneInfo(tz_name)
    now_local = dt.datetime.now(tz)
    month_start = now_local.replace(
        day=1, hour=0, minute=0, second=0, microsecond=0
    )
    return (
        month_start.astimezone(dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.000Z")
    )


def update_last_timestamp(state_file: str, receipts: DataFrame) -> str | None:
    """S15 — advance the watermark to max(updated_at) of the batch
    (reference: etl/extract.py:228-252). Returns the new watermark,
    or None for an empty batch (watermark not advanced — exactly the
    at-least-once behavior of the reference, main.py:43-45)."""
    row = receipts.agg(F.max("updated_at").alias("wm")).collect()[0]
    if row.wm is None:
        return None
    os.makedirs(os.path.dirname(state_file) or ".", exist_ok=True)
    with open(state_file, "w") as f:
        json.dump({STATE_KEY: row.wm}, f, indent=2)
    return row.wm


def watermark_from_lake(spark, lake_path: str) -> str | None:
    """S16 — data-derived watermark: max shifted_time across the lake
    (reference: etl/extract.py:254-296 reads only the
    lexicographically-latest partition; with Hive-partitioned data
    Catalyst prunes to the same files from a max() over the partition
    columns, so we express the intent directly).

    Only a missing lake means "no watermark"; any read error on an
    existing one (corrupt footer, permissions) propagates."""
    if not lake.lake_exists(spark, lake_path):
        return None
    df = spark.read.parquet(lake_path)
    row = df.agg(F.max("shifted_time").alias("wm")).collect()[0]
    return row.wm.strftime("%Y-%m-%dT%H:%M:%S.000Z") if row.wm else None
