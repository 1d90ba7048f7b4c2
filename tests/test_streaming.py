"""Streaming tests: file source → windowed aggs / dedup / sessions →
memory sink, driven synchronously with processAllAvailable."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pos_api_pipeline_spark.streaming import events as SE

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events"))
    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 5), 1, "click", 1.0),
        (2, dt.datetime(2024, 1, 1, 10, 35), 1, "click", 2.0),
        (3, dt.datetime(2024, 1, 1, 11, 5), 1, "view", 3.0),
        (4, dt.datetime(2024, 1, 1, 11, 50), 2, "click", 4.0),
        (2, dt.datetime(2024, 1, 1, 10, 35), 1, "click", 2.0),  # dup event_id
        (5, dt.datetime(2024, 1, 1, 13, 0), 2, "view", 5.0),
    ]
    spark.createDataFrame(rows, EVENT_SCHEMA).write.mode("overwrite").parquet(path)
    return path


def _run(spark, stream_df, name, mode="append"):
    q = SE.run_to_memory_sink(stream_df, name, output_mode=mode)
    try:
        return spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()


def test_hourly_windowed_counts(spark, event_dir):
    stream = SE.read_event_stream(spark, event_dir, EVENT_SCHEMA)
    assert stream.isStreaming
    rows = _run(
        spark, SE.hourly_windowed_counts(stream), "hourly", mode="append"
    )
    got = {
        (r.window_start.hour, r.event_type): (r.n, r.total_value) for r in rows
    }
    # Windows closed by the watermark (last event 13:00, threshold 2h →
    # watermark 11:00 closes the 10:00 window; later windows pend).
    assert got[(10, "click")] == (3, 5.0)  # dup row counts here (pre-dedup op)


def test_streaming_dedup(spark, event_dir):
    stream = SE.read_event_stream(spark, event_dir, EVENT_SCHEMA)
    rows = _run(
        spark,
        SE.dedup_within_watermark(stream, keys=("event_id",)),
        "deduped",
    )
    ids = sorted(r.event_id for r in rows)
    assert ids == [1, 2, 3, 4, 5]  # duplicate event 2 dropped exactly once


def test_streaming_dedup_redelivery_newer_ts(spark, tmp_path):
    # The reference's re-fetch case: same event_id redelivered with a
    # NEWER timestamp. dropDuplicatesWithinWatermark keys on event_id
    # alone, so the redelivery is dropped; a (event_id, ts) subset
    # would wrongly keep both.
    path = str(tmp_path / "redelivery")
    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 0), 1, "click", 1.0),
        (1, dt.datetime(2024, 1, 1, 10, 20), 1, "click", 1.0),  # re-fetch
        (2, dt.datetime(2024, 1, 1, 10, 30), 1, "view", 2.0),
    ]
    spark.createDataFrame(rows, EVENT_SCHEMA).write.mode("overwrite").parquet(path)
    stream = SE.read_event_stream(spark, path, EVENT_SCHEMA)
    out = _run(
        spark,
        SE.dedup_within_watermark(stream, keys=("event_id",)),
        "dedup_redelivery",
    )
    assert sorted(r.event_id for r in out) == [1, 2]


def test_streaming_dedup_late_duplicate_across_batches(spark, tmp_path):
    # Late-duplicate replay across MICRO-BATCHES: event 1 re-arrives
    # in a later batch with an OLDER timestamp (late data, inside the
    # watermark horizon). dropDuplicatesWithinWatermark keeps state
    # for the horizon, so the replay is dropped; the batch twin
    # (dedup_latest on the same frame) agrees on the surviving ids.
    path = tmp_path / "late_dup"
    path.mkdir()
    batch_a = [
        (1, dt.datetime(2024, 1, 1, 10, 0), 1, "click", 1.0),
        (2, dt.datetime(2024, 1, 1, 12, 0), 1, "view", 2.0),
    ]
    batch_b = [
        # late replay of event 1: older ts, within the 3h horizon
        (1, dt.datetime(2024, 1, 1, 9, 50), 1, "click", 1.0),
        (3, dt.datetime(2024, 1, 1, 12, 30), 2, "click", 3.0),
    ]
    for i, rows in enumerate((batch_a, batch_b)):
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(path / f"b{i}"))
    stream = SE.read_event_stream(
        spark, f"{path}/*", EVENT_SCHEMA, max_files_per_trigger=1
    )
    out = _run(
        spark,
        SE.dedup_within_watermark(
            stream, keys=("event_id",), late_threshold="3 hours"
        ),
        "dedup_late_replay",
    )
    assert sorted(r.event_id for r in out) == [1, 2, 3]
    # batch twin agreement (W1 dedup over the full replayed frame)
    from pos_api_pipeline_spark.operators.windows import window_dedup

    batch = spark.read.schema(EVENT_SCHEMA).parquet(f"{path}/*")
    twin = window_dedup(batch, keys=["event_id"], order_col="ts")
    assert sorted(r.event_id for r in twin.collect()) == [1, 2, 3]


def test_session_windows(spark, event_dir):
    stream = SE.read_event_stream(spark, event_dir, EVENT_SCHEMA)
    rows = _run(spark, SE.session_windows(stream, gap="45 minutes"), "sessions")
    # user 1: 10:05, 10:35, 11:05 chain into one session (gaps ≤ 45m).
    by_user = {(r.user_id): r for r in rows}
    assert by_user[1].n_events == 4  # includes the duplicate row
    assert by_user[1].session_start == dt.datetime(2024, 1, 1, 10, 5)


def test_sliding_windows(spark, event_dir):
    stream = SE.read_event_stream(spark, event_dir, EVENT_SCHEMA)
    rows = _run(spark, SE.sliding_windowed_counts(stream), "sliding")
    got = {
        (r.window_start.hour, r.event_type): r.n for r in rows
    }
    # Append mode emits only windows CLOSED by the watermark
    # (max ts 13:00 − 2 h = 11:00): [09:00,11:00) is closed and holds
    # all 3 click rows (dup included); [10:00,12:00) is still pending.
    assert got[(9, "click")] == 3
    assert (10, "click") not in got


def test_stream_stream_purchase_attribution(spark, event_dir):
    clicks = SE.read_event_stream(spark, event_dir, EVENT_SCHEMA).filter(
        "event_type = 'click'"
    )
    purchases = SE.read_event_stream(spark, event_dir, EVENT_SCHEMA).filter(
        "event_type = 'view'"  # fixture has views following clicks
    )
    joined = SE.purchase_attribution(
        clicks, purchases, attribution_window="1 hour"
    )
    rows = _run(spark, joined, "attributed")
    pairs = {(r.click_id, r.purchase_id) for r in rows}
    # view event 3 at 11:05 (user 1): clicks 2 (10:35) within 1 h;
    # click 1 (10:05) exactly at the boundary 10:05 >= 10:05 → included.
    assert (2, 3) in pairs and (1, 3) in pairs
    # user 2's view at 13:00: their click at 11:50 is > 1 h earlier.
    assert all(p != 5 for _, p in pairs)


def test_stream_receipts_to_lake(spark, tmp_path):
    from pos_api_pipeline_spark import lake
    from pos_api_pipeline_spark.schemas import RECEIPT_SCHEMA
    from pos_api_pipeline_spark.streaming.ingest import stream_receipts_to_lake

    src = str(tmp_path / "raw")
    receipts = [
        {
            "receipt_number": "1-1",
            "receipt_date": "2025-07-21T16:00:00.000Z",
            "created_at": "2025-07-21T16:00:00.000Z",
            "updated_at": "2025-07-21T16:00:00.000Z",
            "order": "Mesa 2",
            "payments": [{"type": "CASH"}],
            "line_items": [
                {"item_name": "Burger", "cost": 10.0, "price": 50.0,
                 "total_money": 50.0, "line_modifiers": []}
            ],
        }
    ]
    spark.createDataFrame(receipts, RECEIPT_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(RECEIPT_SCHEMA).parquet(src)
    lake_path = str(tmp_path / "lake")
    q = stream_receipts_to_lake(stream, lake_path, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        out = lake.read_lake(spark, lake_path).collect()
        assert len(out) == 1 and out[0].item_name == "Burger"
        assert out[0].time_slot == "10:00-11:00"  # curation chain applied

        # Second micro-batch: same receipt re-delivered with later
        # shifted_time → merge dedups, latest wins.
        receipts[0]["receipt_date"] = "2025-07-21T17:30:00.000Z"
        spark.createDataFrame(receipts, RECEIPT_SCHEMA).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        out2 = lake.read_lake(spark, lake_path).collect()
        assert len(out2) == 1
        assert out2[0].time_slot == "11:00-12:00"

        # Third micro-batch: a new receipt beside a second redelivery
        # of the first; each line is stored once.
        fresh = dict(receipts[0], receipt_number="1-2")
        receipts[0]["receipt_date"] = "2025-07-21T18:30:00.000Z"
        spark.createDataFrame([receipts[0], fresh], RECEIPT_SCHEMA).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        slots = {r.receipt_number: r.time_slot for r in lake.read_lake(spark, lake_path).collect()}
        assert slots == {"1-1": "12:00-13:00", "1-2": "11:00-12:00"}

        # Fourth: only a new receipt, which appends.
        spark.createDataFrame(
            [dict(fresh, receipt_number="1-3")], RECEIPT_SCHEMA
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
        out4 = lake.read_lake(spark, lake_path).collect()
        assert sorted(r.receipt_number for r in out4) == ["1-1", "1-2", "1-3"]
    finally:
        q.stop()


def test_batch_streaming_unified(spark, event_dir):
    # The SAME operator body runs in batch mode — unified API.
    batch = spark.read.schema(EVENT_SCHEMA).parquet(event_dir)
    out = SE.hourly_windowed_counts(batch)
    assert not out.isStreaming
    got = {(r.window_start.hour, r.event_type): r.n for r in out.collect()}
    # Batch has no watermark cutoff: all windows present.
    assert got[(13, "view")] == 1


def test_maintain_daily_metrics_incremental_mv(spark, tmp_path):
    from pos_api_pipeline_spark import lake
    from pos_api_pipeline_spark.schemas import RECEIPT_SCHEMA
    from pos_api_pipeline_spark.streaming.ingest import maintain_daily_metrics

    def receipt(num, day, price, item="Burger", hour=16):
        ts = f"2025-07-{day:02d}T{hour:02d}:00:00.000Z"
        return {
            "receipt_number": num,
            "receipt_date": ts,
            "created_at": ts,
            "updated_at": ts,
            "order": "Mesa 2",
            "payments": [{"type": "CASH"}],
            "line_items": [
                {"item_name": item, "cost": 1.0, "price": price,
                 "total_money": price, "line_modifiers": []}
            ],
        }

    src = str(tmp_path / "raw")
    lake_path = str(tmp_path / "lake")
    agg_path = str(tmp_path / "agg")
    spark.createDataFrame(
        [receipt("1-1", 21, 50.0), receipt("1-2", 21, 30.0),
         receipt("1-3", 22, 20.0)],
        RECEIPT_SCHEMA,
    ).write.parquet(src)
    stream = spark.readStream.schema(RECEIPT_SCHEMA).parquet(src)
    q = maintain_daily_metrics(stream, lake_path, agg_path,
                               str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        # partitionBy("date") → read-back infers a DATE partition column.
        agg1 = {str(r.date): r for r in spark.read.parquet(agg_path).collect()}
        assert agg1["2025-07-21"].total_sales == 80.0
        assert agg1["2025-07-21"].unique_receipts == 2
        assert agg1["2025-07-22"].total_sales == 20.0

        # Batch 2: update receipt 1-1 (price change, same line key →
        # latest wins, NOT double-counted) + a brand-new date.
        spark.createDataFrame(
            [receipt("1-1", 21, 70.0, hour=18), receipt("1-4", 23, 10.0)],
            RECEIPT_SCHEMA,
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
        agg2 = {str(r.date): r for r in spark.read.parquet(agg_path).collect()}
        # Updated date recomputed from the deduped lake: 70 + 30.
        assert agg2["2025-07-21"].total_sales == 100.0
        assert agg2["2025-07-21"].unique_receipts == 2
        # Untouched date's partition survives the dynamic overwrite.
        assert agg2["2025-07-22"].total_sales == 20.0
        assert agg2["2025-07-23"].total_sales == 10.0

        # The MV equals a from-scratch recompute over the lake.
        from pyspark.sql import functions as F

        full = {
            r.date: r
            for r in lake.read_lake(spark, lake_path)
            .groupBy("date")
            .agg(
                F.sum("price").alias("total_sales"),
                F.countDistinct("receipt_number").alias("unique_receipts"),
                F.count(F.lit(1)).alias("n_lines"),
            )
            .collect()
        }
        for d, r in full.items():
            assert agg2[str(d)].total_sales == r.total_sales
            assert agg2[str(d)].unique_receipts == r.unique_receipts
            assert agg2[str(d)].n_lines == r.n_lines
    finally:
        q.stop()


def test_stream_ingest_survives_checkpoint_restart(spark, tmp_path):
    """Exactly-once across a query restart: stop the stream, deliver
    more data, start a NEW query on the SAME checkpoint — the second
    query resumes from recorded offsets (no reprocessing, no dupes)
    and picks up the new batch."""
    from pos_api_pipeline_spark import lake
    from pos_api_pipeline_spark.schemas import RECEIPT_SCHEMA
    from pos_api_pipeline_spark.streaming.ingest import stream_receipts_to_lake

    def receipt(num, hour, price):
        ts = f"2025-07-21T{hour:02d}:00:00.000Z"
        return {
            "receipt_number": num,
            "receipt_date": ts,
            "created_at": ts,
            "updated_at": ts,
            "order": "Mesa 2",
            "payments": [{"type": "CASH"}],
            "line_items": [
                {"item_name": "Burger", "cost": 1.0, "price": price,
                 "total_money": price, "line_modifiers": []}
            ],
        }

    src = str(tmp_path / "raw")
    lake_path = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [receipt("1-1", 16, 50.0)], RECEIPT_SCHEMA
    ).write.parquet(src)

    q1 = stream_receipts_to_lake(
        spark.readStream.schema(RECEIPT_SCHEMA).parquet(src), lake_path, ckpt
    )
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()

    # Data lands while no query is running.
    spark.createDataFrame(
        [receipt("1-2", 17, 30.0)], RECEIPT_SCHEMA
    ).write.mode("append").parquet(src)

    q2 = stream_receipts_to_lake(
        spark.readStream.schema(RECEIPT_SCHEMA).parquet(src), lake_path, ckpt
    )
    try:
        q2.processAllAvailable()
        rows = {r.receipt_number: r for r in
                lake.read_lake(spark, lake_path).collect()}
        # Both receipts exactly once — 1-1 not duplicated by restart.
        assert sorted(rows) == ["1-1", "1-2"]
        assert rows["1-1"].price == 50.0
        assert rows["1-2"].price == 30.0
    finally:
        q2.stop()


def test_stream_dedupe_documents_against_standing_index(spark, tmp_path):
    from pos_api_pipeline_spark.streaming.ingest import stream_dedupe_documents

    src = str(tmp_path / "docs_src")
    lake_path = str(tmp_path / "docs_lake")
    index_path = str(tmp_path / "band_index")
    schema = "doc_id long, text string"

    base = "the quick brown fox jumps over the lazy dog again and again"
    batch1 = [
        (1, base),
        (2, base),  # within-batch near dup of 1 -> dropped (higher id)
        (3, "completely different text about spark shuffles and joins"),
    ]
    spark.createDataFrame(batch1, schema).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = stream_dedupe_documents(
        stream, lake_path, index_path, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        ids = {r.doc_id for r in spark.read.parquet(lake_path).collect()}
        assert ids == {1, 3}

        # Batch 2: near dup of an ACCEPTED doc (caught by the standing
        # index, not by anything in this batch) + one genuinely new doc.
        batch2 = [
            (10, base),
            (11, "fresh content that matches nothing seen before at all"),
        ]
        spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)
        q.processAllAvailable()
        ids2 = {r.doc_id for r in spark.read.parquet(lake_path).collect()}
        assert ids2 == {1, 3, 11}

        # Index grew with every accepted batch: probing doc 11's text
        # again now flags it.
        from pos_api_pipeline_spark.llm import dedup as D

        probe = spark.createDataFrame([(99, batch2[1][1])], schema)
        flagged = D.near_dups_against_index(probe, spark, index_path)
        assert [r.doc_id for r in flagged.collect()] == [99]
    finally:
        q.stop()


def test_native_session_window_boundary_semantics(spark):
    import datetime as dt
    from pyspark.sql import functions as F

    t0 = dt.datetime(2025, 7, 1, 12, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(minutes=29, seconds=59)),  # merges
        (1, t0 + dt.timedelta(minutes=70)),  # 40:01 gap -> new session
        (2, t0),
        (2, t0 + dt.timedelta(minutes=30)),  # exactly the gap -> merges
        (2, t0 + dt.timedelta(minutes=60, seconds=1)),  # 30:01 -> NEW
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r.n)
    assert sorted(per_user[1]) == [1, 2]  # [e1+e2], [e3]
    # Inclusive boundary: a gap of exactly the duration merges; only a
    # strictly larger gap opens a new session.
    assert sorted(per_user[2]) == [1, 2]


def test_stream_static_enrichment_broadcasts_dim(spark, event_dir):
    dim = spark.createDataFrame(
        [(1, "BUILDING", 7), (3, "MACHINERY", 9)],
        "c_custkey long, c_mktsegment string, c_nationkey long",
    )
    stream = SE.read_event_stream(spark, event_dir, EVENT_SCHEMA)
    enriched = SE.enrich_stream_with_dim(stream, dim)
    assert enriched.isStreaming
    rows = _run(spark, enriched, "enriched")
    by_event = {r.event_id: r for r in rows}
    assert by_event[1].c_mktsegment == "BUILDING"
    assert by_event[1].c_nationkey == 7
    # user 2 has no dim row: left join keeps the event, null-filled.
    assert by_event[4].c_mktsegment is None
    assert len(rows) == 6  # nothing dropped (dup still present pre-dedup)


def test_chained_streaming_topology(spark, event_dir):
    """Operators compose in ONE streaming query: file source →
    stream-static dim enrichment → watermarked dedup → hourly
    windowed agg per market segment. Each op is tested alone
    elsewhere; this locks that the chain analyzes and produces the
    same result as the equivalent batch pipeline."""
    dim = spark.createDataFrame(
        [(1, "BUILDING", 7), (2, "MACHINERY", 9)],
        "c_custkey long, c_mktsegment string, c_nationkey long",
    )
    stream = SE.read_event_stream(spark, event_dir, EVENT_SCHEMA)
    chained = (
        SE.dedup_within_watermark(
            SE.enrich_stream_with_dim(stream, dim)
        )
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            "c_mktsegment",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(
            F.col("w.start").alias("window_start"), "c_mktsegment", "n",
            "total",
        )
    )
    assert chained.isStreaming
    rows = _run(spark, chained, "chained_topo", mode="complete")
    got = {
        (r.window_start.hour, r.c_mktsegment): (r.n, r.total) for r in rows
    }
    # batch twin over the same files (dedup = drop exact dup event 2)
    batch = spark.read.schema(EVENT_SCHEMA).parquet(event_dir)
    expect = {}
    seen = set()
    for r in sorted(batch.collect(), key=lambda r: r.event_id):
        if r.event_id in seen:
            continue
        seen.add(r.event_id)
        seg = {1: "BUILDING", 2: "MACHINERY"}.get(r.user_id)
        key = (r.ts.hour, seg)
        n, t = expect.get(key, (0, 0.0))
        expect[key] = (n + 1, t + r.value)
    assert got == expect


def test_gopher_filter_runs_unchanged_on_a_stream(spark, tmp_path):
    """The rule filter is a pure projection, so the SAME operator body
    gates a document stream — unified batch/streaming, no rewrite."""
    from pos_api_pipeline_spark.llm.text import gopher_quality_flags

    path = str(tmp_path / "docs")
    good = "the data and that table have rows with " + "word " * 20
    spark.createDataFrame(
        [(1, good), (2, "too short")], "doc_id long, text string"
    ).write.parquet(path)
    schema = "doc_id long, text string"
    stream = spark.readStream.schema(schema).parquet(path)
    gated = gopher_quality_flags(stream, min_words=5).filter("keep")
    assert gated.isStreaming
    rows = _run(spark, gated.select("doc_id"), "gated_docs")
    assert [r.doc_id for r in rows] == [1]
