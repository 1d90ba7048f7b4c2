"""Scale-hardening operator tests: bucketed co-located joins, small-files compaction, small-scan input spread."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pytest
from pyspark.sql import functions as F

from pos_api_pipeline_spark import lake
from pos_api_pipeline_spark.llm.text import _plain_scan_bytes, spread_small_scan


def test_compact_partitions(spark, tmp_path):
    path = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [
            ("r1", "A", dt.datetime(2025, 7, 1), 1.0),
            ("r2", "B", dt.datetime(2025, 7, 2), 2.0),
        ],
        "receipt_number string, item_name string, shifted_time timestamp,"
        "price double",
    )
    # Simulate accumulation: several incremental writes → many files.
    lake.write_partitioned(df, path, mode="overwrite")
    lake.write_partitioned(df, path, mode="append")
    lake.write_partitioned(df, path, mode="append")
    before = glob.glob(f"{path}/year=2025/month=07/*.parquet")
    assert len(before) >= 3
    lake.compact_partitions(spark, path, [(2025, 7)])
    after = glob.glob(f"{path}/year=2025/month=07/*.parquet")
    assert len(after) == 1
    assert lake.read_lake(spark, path).count() == 6  # rows preserved


def test_bucketed_join_skips_shuffle(spark):
    # warehouse dir is a tmp path (static conf set in the conftest
    # session fixture).
    facts = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    dims = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit("d").alias("tag")
    )
    lake.write_bucketed(facts, "b_facts", "k", n_buckets=4)
    lake.write_bucketed(dims, "b_dims", "k", n_buckets=4)
    f, d = spark.table("b_facts"), spark.table("b_dims")
    # Disable broadcast so the join strategy decision is about
    # shuffles, then assert the co-bucketed join plans NO exchange.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            f.join(d, "k")._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert "Exchange" not in plan
    assert f.join(d, "k").count() == 100


def _small_corpus(spark, tmp_path):
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"document number {i}") for i in range(200)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def _spreads(df) -> bool:
    return spread_small_scan(df, "doc_id") is not df


def test_spread_small_scan_sizes_through_spark(spark, tmp_path, monkeypatch):
    """Input bytes come from the relation's own size statistics, not
    a local ``os.path`` walk of ``inputFiles()`` — so the spread
    works on any Hadoop filesystem scheme, with the same byte count
    the local walk gives."""
    docs = _small_corpus(spark, tmp_path)
    local_bytes = sum(
        os.path.getsize(f[len("file:"):]) for f in docs.inputFiles()
    )

    def no_local_fs(path):
        raise OSError(f"not a local path: {path}")

    monkeypatch.setattr(os.path, "getsize", no_local_fs)
    assert _plain_scan_bytes(docs) == local_bytes
    assert _spreads(docs)
    assert _spreads(docs.filter(F.col("doc_id") > 3).select("doc_id", "text"))
    # A derived frame's parallelism comes from its exchange: untouched.
    assert not _spreads(docs.groupBy("doc_id").count())


def test_spread_small_scan_reads_max_partition_bytes_units(spark, tmp_path):
    """``spark.sql.files.maxPartitionBytes`` is read as Spark parses it:
    ``1t`` is a terabyte (spread), ``1b`` one byte (no spread)."""
    docs = _small_corpus(spark, tmp_path)
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "1t")
        assert _spreads(docs)
        spark.conf.set(key, "1b")
        assert not _spreads(docs)
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
