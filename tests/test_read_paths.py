"""Read-path ratchet: every parquet read in the package declares its
schema, so building a frame over a table runs no Spark job. Tables go
through ``session.read_parquet`` (schema from the footer), the lake
through ``lake.read_lake`` (the fixed ``LAKE_SCHEMA``)."""

from __future__ import annotations

import pathlib
import re

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import pos_api_pipeline_spark
from pos_api_pipeline_spark.plans import registry
from pos_api_pipeline_spark.session import read_parquet
from test_plans import SF

READERS = {"session.py", "lake.py"}
# The sampled collapse probe reads a file subset whose schema may not
# match the whole corpus; it keeps inferring (and its broad except).
ALLOWED = {("llm/dedup.py", "sampled = df.sparkSession.read.parquet(*subset)")}

_READ = re.compile(r"\.read(\.\w+\(.*?\))*\.parquet\(")


def test_parquet_reads_live_in_the_two_readers():
    root = pathlib.Path(pos_api_pipeline_spark.__file__).parent
    found = {
        (rel, line.strip())
        for path in root.rglob("*.py")
        if (rel := path.relative_to(root).as_posix()) not in READERS
        for line in path.read_text().splitlines()
        if _READ.search(line)
    }
    assert found == ALLOWED


def test_table_reads_build_with_zero_jobs(spark):
    sc = spark.sparkContext
    fns = registry.queries()
    for name in ("region_revenue", "min_cost_supplier"):
        group = f"build_{name}"
        sc.setJobGroup(group, group)
        try:
            fns[name](spark, SF)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name


def test_read_parquet_nanos_truncates_to_micros(spark, tmp_path):
    path = str(tmp_path / "nanos.parquet")
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}), path
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, "false")
    df = read_parquet(spark, path)
    assert spark.conf.get(key, "false") == before
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = df.select("id", F.unix_micros("ts").alias("us")).orderBy("id").collect()
    assert [r.us for r in got] == [v // 1000 for v in ns]


def test_read_parquet_declares_the_schema_spark_wrote(spark, tmp_path):
    # Spark writes timestamps as INT96, which pyarrow reports as
    # nanoseconds; the embedded Spark schema keeps them timestamps.
    path = str(tmp_path / "dim")
    written = spark.sql(
        "SELECT 1L AS id, TIMESTAMP'2024-07-01 12:00:00' AS valid_from, "
        "CAST(NULL AS TIMESTAMP) AS valid_to, true AS is_current"
    )
    written.write.parquet(path)
    back = read_parquet(spark, path)
    assert back.schema == spark.read.parquet(path).schema
    assert back.collect() == written.collect()
