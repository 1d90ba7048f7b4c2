"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what the cluster profile would be at scale:
shuffle partitions sized to the cores rather than the 200-partition
default, Arrow enabled for the pandas boundary, and the session
timezone pinned to UTC so results are oracle-comparable (DuckDB
timestamps are UTC-naive). AQE (runtime re-planning, skew-join
splitting, partition coalescing) and runtime bloom-filter injection
are on by Spark's own defaults.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "pos_api_pipeline_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Every conf set here differs from Spark's own default:
    - ``spark.sql.shuffle.partitions`` follows the master's
      ``defaultParallelism`` (one shuffle partition per task slot)
      unless ``extra_conf`` sets it.
    - ``session.timeZone=UTC`` keeps timestamp semantics deterministic
      across engines and clusters.
    - Arrow for the pandas boundary, zstd parquet, no UI, and a
      driver heap sized for local mode.
    - ``spark.python.sql.dataFrameDebugging.enabled=false`` stops
      PySpark from capturing the Python call site of every Column and
      DataFrame call (about four Py4J round trips each): building the
      daily tick's plan took 0.16–0.21 s without it, 0.25–0.39 s with
      it (medians, 4-vCPU host). The trade: a runtime error's
      ``== DataFrame ==`` context names a JVM frame instead of
      ``file.py:line``; its error class, message and Python traceback
      are unchanged. PySpark reads this conf once per process, so it
      goes on ``SparkSession.builder``, before any Column exists;
      ``extra_conf`` set to ``"true"`` in a fresh process restores the
      Python lines.
    ``autoBroadcastJoinThreshold`` stays at default; dimension joins
    additionally carry explicit ``F.broadcast`` hints in operators.
    Everything else, ``spark.driver.maxResultSize`` included, is
    Spark's default and overridable through ``extra_conf``.
    """
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # local mode = driver-only: the driver heap IS the executor
        # memory; size it for 32 task threads' shuffle state.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in (extra_conf or {}):
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Iterable, schema: StructType) -> DataFrame:
    """Land driver-built rows (dicts, or tuples in schema order) as an
    Arrow-backed ``LocalRelation``.

    ``spark.createDataFrame`` on a Python list parallelizes it into
    ``defaultParallelism`` slices behind a PythonRDD, so every action
    over the frame reruns that many Python-worker tasks. An Arrow table
    below ``spark.sql.execution.arrow.localRelationThreshold`` becomes
    a JVM ``LocalRelation`` instead: Catalyst folds filters and
    projections into it and no action starts a Python worker.

    Each row still goes through the type verifier the list path runs,
    because pyarrow alone widens silently (an int into a double field)
    where the declared schema must reject.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier

    verify = _make_type_verifier(schema)
    records = []
    for row in rows:
        verify(row)
        records.append(row if isinstance(row, dict) else dict(zip(schema.names, row)))
    table = pa.Table.from_pylist(records, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def read_parquet(spark: SparkSession, path: str):
    """Read parquet with the schema its footer declares: building the
    frame runs no Spark job, where inference runs one per read.

    pyarrow reads one footer on the driver. A file Spark wrote carries
    Spark's own schema in its metadata (pyarrow reports its INT96
    timestamps as nanos); other files map through ``from_arrow_schema``
    with naive timestamps as ``timestamp_ntz``, as Spark infers them.
    Hive partition columns still come from the directory names.

    Spark's vectorized reader rejects parquet nanosecond timestamps
    (PARQUET_TYPE_ILLEGAL). For files that carry them we flip the
    ``nanosAsLong`` legacy conf, read the nanos as int64, and convert
    to microsecond timestamps explicitly — all columnar, no UDF.
    """
    import pyarrow.dataset as ds
    import pyarrow.types as pat
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import _parse_datatype_json_string

    schema = ds.dataset(path).schema
    written = (schema.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    if written:
        return spark.read.schema(_parse_datatype_json_string(written.decode())).parquet(path)
    nano_cols = [
        name
        for name, typ in zip(schema.names, schema.types)
        if pat.is_timestamp(typ) and typ.unit == "ns"
    ]
    if not nano_cols:
        declared = from_arrow_schema(schema, prefer_timestamp_ntz=True)
        return spark.read.schema(declared).parquet(path)
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = spark.read.parquet(path)
        for c in nano_cols:
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        return df
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
