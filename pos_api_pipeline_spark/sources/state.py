"""Watermark state (SURVEY.md §2.1 S14–S15).

Batch-incremental offset tracking, mirroring the reference's JSON
state file (reference: etl/extract.py:201-252): read with a
month-start fallback, advance to max(updated_at) only after a
successful load (at-least-once redelivery on failure). The
reference's lake-derived alternative (S16) is on no entry point's
path and is not ported. The streaming twin of all this is the
Structured Streaming checkpoint + ``withWatermark`` (see streaming
module).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import zoneinfo

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


def update_last_timestamp(state_file: str, watermark: str | None) -> str | None:
    """S15 — advance the watermark to the batch's max(updated_at)
    (reference: etl/extract.py:228-252), which the caller observed on
    its successful load. Returns the new watermark, or None when there
    is none (an empty batch, or no ``updated_at`` in it): the state
    file is then left as it was — exactly the at-least-once behavior
    of the reference, main.py:43-45."""
    if watermark is None:
        return None
    os.makedirs(os.path.dirname(state_file) or ".", exist_ok=True)
    with open(state_file, "w") as f:
        json.dump({STATE_KEY: watermark}, f, indent=2)
    return watermark
