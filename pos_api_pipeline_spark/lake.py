"""Lake layer: partitioned parquet writes + merge/dedup upsert
(SURVEY.md §2.1 S7–S10, §2.6 W4).

The reference hand-rolls a year=/month= S3 layout with a manual
month loop and uuid-suffixed incremental files (reference:
etl/load.py:52-105, 162-224). Spark-first replacement:

- ``partitionBy('year','month')`` produces the identical Hive layout
  in one distributed write — the month loop disappears.
- merge+dedup upsert is append-or-rewrite, decided per batch on its
  keys. A batch none of whose keys is stored in its months is
  window-deduped alone and appended: new files in its partitions,
  no stored file touched (the reference's uuid-suffixed per-run
  files). A batch whose keys match stored rows — matched null-safely,
  as the W1 window groups them (a receipt with no line items carries
  a null ``item_name``), through a hash of the keys — or one too large
  to probe from the driver rewrites its months: unionByName → W1
  window dedup (latest wins) → dynamic partition overwrite of ONLY
  those months, one file each. This implements the reference's
  *stated intent*; the reference itself has a bug where the deduped
  frame is computed but the un-deduped new rows are written
  (etl/load.py:210-223) — documented deviation (SURVEY.md §7.4.8).
- Appends leave one small file per month per batch; the month-end
  tick (``plans/dag.py``) compacts the month that just closed.

Scale notes: an append touches only the batch; a rewrite touches
O(affected months), never the table, and its dedup window shuffles
only the batch + affected partitions. The full-load writer
``repartition``s by the partition columns so each month lands as a
few well-sized files instead of one file per task (the classic
small-files failure).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pos_api_pipeline_spark.operators.windows import window_dedup
from pos_api_pipeline_spark.schemas import CURATED_SCHEMA, LAKE_SCHEMA, conform
from pos_api_pipeline_spark.session import read_parquet


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FS API — works
    identically for file://, hdfs:// and any configured object-store
    connector, unlike os.path/shutil which only see the local disk."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def lake_exists(spark: SparkSession, path: str) -> bool:
    """True iff the lake path exists. Used instead of try/except around
    the read: a bare except would treat a transient read failure
    (corrupt footer, permissions, object-store hiccup) as 'first
    write', and the subsequent overwrite would silently replace
    history with just the new batch. Existence is the only condition
    that legitimately means 'first write'; every other error must
    propagate."""
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def with_partition_columns(df: DataFrame, ts_col: str = "shifted_time") -> DataFrame:
    """year / zero-padded month derived from shifted_time, matching
    the reference layout (etl/load.py:72: '%02d' month)."""
    return df.withColumn("year", F.year(ts_col).cast("string")).withColumn(
        "month", F.format_string("%02d", F.month(ts_col))
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
) -> None:
    """S9 — schema-enforced partitioned parquet sink.

    Conforms to CURATED_SCHEMA (coerce + reorder, the reference's
    defensive write path), derives partition columns, repartitions BY
    the partition columns — one shuffle partition per (year, month),
    so months write in parallel and each directory gets a handful of
    well-sized files rather than one file per input task (the classic
    small-files failure). AQE coalescing handles tiny months. (Note
    ``repartition(1, 'year', 'month')`` would be wrong: the leading
    int is the TOTAL partition count, funnelling every month through
    a single task.)
    """
    curated = conform(df, CURATED_SCHEMA)
    parted = with_partition_columns(curated)
    parted = parted.repartition("year", "month")
    parted.write.mode(mode).partitionBy("year", "month").parquet(path)


def read_lake(spark: SparkSession, path: str) -> DataFrame:
    """S10 — lake scan with the fixed ``LAKE_SCHEMA`` (no inference job;
    ``month=07`` reads back as ``'07'``, not an inferred int 7). Filters
    on year/month prune files (verify via .explain PartitionFilters)."""
    return spark.read.schema(LAKE_SCHEMA).parquet(path)


def in_months(months: Iterable[tuple[int | str | None, int | str | None]]) -> Column:
    """Static predicate on the year=/month= partition columns selecting
    ``months`` ((year, month) pairs), the shape of the reference's
    ``WHERE (year='Y' AND month='M') OR ...`` (monthly_report.py:61-63):
    Catalyst prunes the scan to those directories at planning time.
    Ints are formatted as the lake writes them; the lake's own strings
    pass through unchanged, including the ``(None, 'null')`` partition a
    null ``shifted_time`` lands in. No months selects nothing."""
    cond = F.lit(False)
    for y, m in dict.fromkeys(
        (
            y if y is None or isinstance(y, str) else str(y),
            m if m is None or isinstance(m, str) else f"{m:02d}",
        )
        for y, m in months
    ):
        cond = cond | (F.col("year").eqNullSafe(y) & F.col("month").eqNullSafe(m))
    return cond


#: A batch of up to this many rows is probed for stored keys from the
#: driver and appended in one task (a page is a few hundred rows). A
#: larger one rewrites its months, the distributed path.
_PROBE_ROWS = 10_000


def _stored_keys_collide(
    stored: DataFrame, hashes: set[int], keys: Sequence[str]
) -> bool:
    """Whether a row of ``stored`` may carry a batch key: one job that
    matches ``xxhash64`` of the key columns against the batch's hashes.
    Equal keys hash equal, nulls included, so a stored key is never
    missed; a hash clash only sends the batch down the rewrite, which
    is always correct. The hashes form one ``IN`` list, parsed in one
    call and run as a hash set."""
    if not hashes:
        return False
    cols = ", ".join(f"`{k}`" for k in keys)
    values = ", ".join(f"{h}L" for h in hashes)
    match = F.expr(f"xxhash64({cols}) IN ({values})")
    return bool(stored.filter(match).select(*keys).collect())


def merge_and_overwrite(
    spark: SparkSession,
    new_df: DataFrame,
    path: str,
    keys=("receipt_number", "item_name"),
    order_col: str = "shifted_time",
) -> None:
    """W4 — incremental upsert: append the batch when none of its keys
    is stored in its months, else rewrite those months (latest wins).

    The month and the ``xxhash64`` of the keys of each batch row come
    to the driver, at most ``_PROBE_ROWS`` of them; over a
    ``LocalRelation`` that takes no job, the projection folds into the
    relation. One job then looks for a stored row of those months with
    one of the hashes (``_stored_keys_collide``): a key matches
    null-safely, as the W1 window groups keys (a receipt with no line
    items carries a null ``item_name``).

    - No match (every daily tick: the watermark keeps redelivered
      receipts out): the batch alone is window-deduped as one
      partition and appended — one task, no shuffle, no stored file
      touched.
    - A match, or a batch over ``_PROBE_ROWS`` rows: the affected
      months are unioned with the batch, window-deduped (latest wins)
      and dynamically overwritten, the reference's read month → concat
      → dedup → write (etl/load.py:162-224) minus its write-path bug,
      with every affected month handled in one write. Each rewritten
      month lands as one file.

    A missing lake is the first write. A cross-month redelivery (a key
    stored in a month the batch does not touch) is out of scope, as in
    the reference's per-month merge.
    """
    batch = with_partition_columns(conform(new_df, CURATED_SCHEMA))
    probe = (
        batch.select("year", "month", F.xxhash64(*keys).alias("h"))
        .limit(_PROBE_ROWS + 1)
        .collect()
    )
    small = len(probe) <= _PROBE_ROWS
    if small:
        # One partition satisfies the window's clustering, so the dedup
        # plans no exchange and each month gets one file.
        batch = batch.coalesce(1)
    # Existence check, NOT try/except around the read: a transient
    # read error must propagate — swallowing it would make the write
    # treat a stored month as absent. Only a genuinely absent lake
    # means 'first write'.
    exists = lake_exists(spark, path)
    if exists:
        months = probe if small else batch.select("year", "month").distinct().collect()
        stored = read_lake(spark, path).filter(
            in_months((r["year"], r["month"]) for r in months)
        )
    if small and not (
        exists and _stored_keys_collide(stored, {r["h"] for r in probe}, keys)
    ):
        (
            window_dedup(batch, keys=keys, order_col=order_col)
            .write.mode("append")
            .partitionBy("year", "month")
            .parquet(path)
        )
        return
    deduped = window_dedup(
        stored.unionByName(batch) if exists else batch, keys=keys, order_col=order_col
    )
    # One file per month: a page's one or two months go through one
    # writer task (no second shuffle), a larger batch's through one
    # task per month.
    (
        (deduped.coalesce(1) if small else deduped.repartition("year", "month"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("year", "month")
        .parquet(path)
    )


def write_csv(df: DataFrame, path: str) -> None:
    """S7 — CSV sink (header on, the reference's debug/export path)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def write_single_parquet(df: DataFrame, path: str) -> None:
    """S8 — single-object parquet (the reference's in-memory-buffer
    upload). coalesce(1) deliberately serializes the write — only for
    small exports, never the main lake path."""
    df.coalesce(1).write.mode("overwrite").parquet(path)


def write_orc(df: DataFrame, path: str, partition_cols: Sequence[str]) -> None:
    """ORC sink — the second columnar lake format Spark supports
    natively (Hive-ecosystem consumers often require ORC where the
    parquet lake serves everything else). Same layout contract as the
    parquet sinks: Hive-style partition directories, zstd compression,
    predicate pushdown and column pruning on read."""
    (
        df.write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy(*partition_cols)
        .orc(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan twin of ``read_lake`` — partition discovery and
    filter pushdown come from the format's native Spark source."""
    return spark.read.orc(path)


def scd2_merge(
    spark: SparkSession,
    dim_path: str,
    updates: DataFrame,
    key: str,
    ts_col: str,
    tracked_cols: Sequence[str],
) -> None:
    """Slowly-changing-dimension type 2 without Delta: emulate
    MERGE INTO with anti-join + union + window (the v1 pattern —
    swap for Delta ``MERGE`` when the runtime has it).

    Rows carry ``valid_from``/``valid_to``/``is_current``; an update
    whose tracked columns differ closes the current row (valid_to =
    new valid_from) and opens a new current one. Unchanged updates
    are no-ops. One shuffle on the key.
    """
    new_rows = updates.select(
        key, *tracked_cols, F.col(ts_col).alias("valid_from")
    )
    # Same rationale as merge_and_overwrite: only a missing path means
    # 'first load'; a failed read of an existing dimension must raise,
    # or the overwrite below would wipe the whole version history.
    if not lake_exists(spark, dim_path):
        out = new_rows.withColumn(
            "valid_to", F.lit(None).cast("timestamp")
        ).withColumn("is_current", F.lit(True))
        out.write.mode("overwrite").parquet(dim_path)
        return
    dim = read_parquet(spark, dim_path)

    # Skip updates identical to the current version (hash compare).
    cur = dim.filter(F.col("is_current"))
    changed = (
        new_rows.alias("n")
        .join(cur.alias("c"), on=key, how="left")
        .filter(
            F.coalesce(
                ~(
                    F.xxhash64(*[F.col(f"n.{c}") for c in tracked_cols])
                    == F.xxhash64(*[F.col(f"c.{c}") for c in tracked_cols])
                ),
                F.lit(True),  # brand-new key
            )
        )
        .select(
            F.col(f"n.{key}").alias(key),
            *[F.col(f"n.{c}").alias(c) for c in tracked_cols],
            F.col("n.valid_from").alias("valid_from"),
        )
    )
    incoming = changed.withColumn(
        "valid_to", F.lit(None).cast("timestamp")
    ).withColumn("is_current", F.lit(True))

    merged = dim.unionByName(incoming)
    # Re-derive validity chains per key: order versions by valid_from,
    # close each with the next version's start.
    w = Window.partitionBy(key).orderBy("valid_from")
    rebuilt = (
        merged.withColumn("valid_to", F.lead("valid_from").over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )
    # Rewriting the path we are reading from: stage to a sibling dir,
    # then swap via Hadoop FS renames (works for file:// and hdfs://,
    # unlike shutil). (A cache()-then-overwrite can silently recompute
    # from deleted files under memory pressure — not safe.) Crash
    # safety: the old dimension is renamed aside BEFORE the staging
    # dir takes its place, so at every instant a complete copy exists
    # on disk (as dim_path, __old, or __staging) and recovery is a
    # rename, never a recompute. True atomicity needs a table format —
    # on S3 rename is copy+delete and Delta/Iceberg MERGE is the real
    # fix, as noted above.
    tmp = dim_path.rstrip("/") + "__staging"
    old = dim_path.rstrip("/") + "__old"
    rebuilt.write.mode("overwrite").parquet(tmp)
    fs, dim_p = _hadoop_fs(spark, dim_path)
    _, tmp_p = _hadoop_fs(spark, tmp)
    _, old_p = _hadoop_fs(spark, old)
    if fs.exists(old_p):  # leftover from a previous crashed swap
        fs.delete(old_p, True)
    if not fs.rename(dim_p, old_p):
        raise IOError(f"scd2_merge: failed to stage-out {dim_path}")
    if not fs.rename(tmp_p, dim_p):
        # Roll back so the dimension is never left missing.
        fs.rename(old_p, dim_p)
        raise IOError(f"scd2_merge: failed to swap in {tmp}")
    fs.delete(old_p, True)


def compact_partitions(
    spark: SparkSession,
    path: str,
    months: Iterable[tuple[int | str, int | str]],
) -> None:
    """Small-files compaction: rewrite each year=/month= partition of
    ``months`` as one file, leaving every other partition untouched.

    Appending upserts leave one file per month per batch (the
    reference appends uuid-suffixed parquet per run,
    etl/load.py:217-219); at scale thousands of small files dominate
    scan cost via open/footer overhead. The month-end tick compacts
    the month that just closed. One task reads the named months and
    the writer's partition sort gives each one file; dynamic
    overwrite replaces only those directories.
    """
    (
        read_lake(spark, path)
        .filter(in_months(months))
        .coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("year", "month")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
) -> None:
    """Bucketed managed table: later equi-joins/aggregations on
    ``bucket_col`` between co-bucketed tables skip the shuffle
    entirely (verify: the join plan has no Exchange). The lake-layer
    answer to 'this join runs every hour on the same key'."""
    df.write.mode("overwrite").bucketBy(n_buckets, bucket_col).format(
        "parquet"
    ).saveAsTable(table)


def recover_partitions(spark: SparkSession, table: str) -> None:
    """S13 — partition discovery after external writes
    (MSCK REPAIR equivalent, reference: main.py:63-75)."""
    spark.catalog.recoverPartitions(table)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Layout-optimized parquet: range-repartition on ``sort_cols``
    then sort within each output file before writing. Parquet stores
    per-row-group min/max for every column; this layout makes those
    ranges narrow AND disjoint across files, so point/range
    predicates on the sort key skip whole files and row groups at
    scan time (data skipping — the poor man's Z-order, exact for
    single-key workloads). At 100 TB this is the difference between
    touching every file and touching the one file whose range covers
    the predicate.

    Both steps matter: sortWithinPartitions alone narrows nothing
    when the upstream partitioning is round-robin (every file still
    spans the whole domain — unit-verified), and range partitioning
    alone leaves row groups inside a file unsorted. The range
    exchange is a sampled shuffle, paid once at write time."""
    out = df.repartitionByRange(*sort_cols).sortWithinPartitions(*sort_cols)
    out.write.mode(mode).parquet(path)


def zorder_key(cols: Sequence[str], bits: int = 16) -> Column:
    """Morton (Z-order) interleave of two numeric columns, each
    rank-normalized by the CALLER to [0, 2^bits) ints. Pure bitwise
    codegen (the classic spread-bits ladder, 4 mask steps per
    column) — no UDF.

    Z-order linearizes a 2-D space so that sorting by the key keeps
    BOTH dimensions locally clustered: per-file parquet min/max
    ranges stay narrow in every interleaved column, and predicates on
    either (or both) skip files. A plain lexicographic sort only
    skips on the leading column.
    """
    if len(cols) != 2:
        raise ValueError("zorder_key interleaves exactly 2 columns")

    def spread(c: Column) -> Column:
        # 16-bit value -> 32-bit with zeros interleaved (even slots).
        # bitwiseOR/AND, not |/& — the Python operators are BOOLEAN
        # or/and on Columns.
        x = c.cast("long")
        for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
                            (2, 0x33333333), (1, 0x55555555)):
            x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
        return x

    a, b = (F.col(c) for c in cols)
    return spread(a).bitwiseOR(F.shiftleft(spread(b), 1))


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet over two numeric columns: each column
    is min/max-normalized to ``bits``-bit fixed point (one tiny
    bounds aggregate, broadcast), rows are range-partitioned and
    sorted by the interleaved Morton key, and the key is dropped
    before writing. Upgrades ``write_sorted``'s single-key skipping
    to two dimensions — the standard lakehouse layout (Delta/Iceberg
    OPTIMIZE ZORDER) for two-filter workloads at 100 TB.

    Normalization by observed bounds keeps the key dense regardless
    of the columns' ranges; ties within a bucket are fine (they sort
    adjacent). Skewed columns degrade gracefully — quantile (rank)
    normalization is the upgrade path if a dimension is pathological.

    ``n_files`` pins the range-partition count: an EXPLICIT count is
    exempt from AQE partition coalescing, which otherwise merges a
    small write into one file and erases the layout (skipping needs
    many narrow files).
    """
    a, b = cols
    bounds = df.agg(
        F.min(a).alias("_alo"),
        F.max(a).alias("_ahi"),
        F.min(b).alias("_blo"),
        F.max(b).alias("_bhi"),
    )
    top = (1 << bits) - 1

    def norm(c: str, lo: str, hi: str) -> Column:
        span = F.col(hi) - F.col(lo)
        frac = F.when(
            span > 0, (F.col(c) - F.col(lo)) / span
        ).otherwise(F.lit(0.0))
        return F.least(
            F.lit(top), F.floor(frac * (top + 1)).cast("long")
        )

    keyed = (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("_za", norm(a, "_alo", "_ahi"))
        .withColumn("_zb", norm(b, "_blo", "_bhi"))
        .withColumn("_zkey", zorder_key(["_za", "_zb"], bits))
        .drop("_alo", "_ahi", "_blo", "_bhi", "_za", "_zb")
    )
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )


def write_with_bloom(
    df: DataFrame,
    path: str,
    bloom_cols: Sequence[str],
    expected_ndv: int = 100_000,
) -> None:
    """Parquet sink with split-block bloom filters on the named
    columns — the file-level structure behind point-lookup data
    skipping (``WHERE user_key = ...``) when min/max row-group stats
    can't prune high-cardinality keys: the reader tests the bloom and
    skips row groups that certainly don't contain the value. This is
    how needle-in-haystack id probes stay sub-scan on a 100 TB lake
    without maintaining a secondary index.

    ``expected_ndv`` sizes the filter (per row group); undersizing
    raises the false-positive rate, which costs wasted reads, never
    correctness.
    """
    w = df.write.mode("overwrite")
    for c in bloom_cols:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true").option(
            f"parquet.bloom.filter.expected.ndv#{c}", str(expected_ndv)
        )
    w.parquet(path)


def read_lake_evolved(
    spark: SparkSession, path: str, target_schema=None
) -> DataFrame:
    """Schema-evolution-tolerant lake scan: ``mergeSchema`` unions
    the footers of every file generation (columns added by newer
    writers surface as nulls on older files), then optionally
    ``conform``s to a target StructType so downstream operators see
    one stable contract regardless of which era of files a partition
    filter happens to touch.

    This is the read-side answer to column adds — no table rewrite.
    (Type CHANGES of an existing column still need a migration;
    parquet footers with conflicting types fail the merge loudly
    rather than guessing.) Footer merging reads every file's schema,
    so on huge lakes prefer pinning ``target_schema`` from the
    catalog once evolution has settled."""
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if target_schema is not None:
        df = conform(df, target_schema)
    return df


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """CDC-style diff of two table snapshots: one row per key that was
    ``added``, ``removed``, or ``changed`` (unchanged keys are dropped
    — at 100 TB the diff output is the small side, never the
    snapshots). The comparison hashes the tracked columns with md5 of
    a null-tagged concat, so one full outer join on the key is the
    only shuffle and wide rows never travel twice.

    The compared columns are every non-key column the two snapshots
    share (order-insensitive, name-based). Values are
    length-prefixed before hashing, so nulls, empty strings, and
    values containing the join separator all hash distinctly.

    Output: key columns + change_type ('added'|'removed'|'changed').
    """
    keys = list(key_cols)
    cmp_cols = [c for c in old.columns if c in new.columns and c not in keys]

    def hashed(df: DataFrame, tag: str) -> DataFrame:
        # Length-prefixed tokens ('<len>:<value>' or 'N' for null) make
        # the encoding injective: no separator collision ('a\x1f'+'b'
        # vs 'a'+'\x1fb') and no null/sentinel collision (NULL vs a
        # literal sentinel string) can produce the same bytes.
        parts = []
        for c in cmp_cols:
            v = F.col(c).cast("string")
            parts.append(
                F.coalesce(
                    F.concat(F.length(v).cast("string"), F.lit(":"), v),
                    F.lit("N"),
                )
            )
        h = F.md5(F.concat_ws("|", *parts))
        return df.select(*keys, h.alias(f"_h_{tag}"))

    o = hashed(old, "old")
    n = hashed(new, "new")
    joined = o.join(n, on=keys, how="full_outer")
    change = (
        F.when(F.col("_h_old").isNull(), F.lit("added"))
        .when(F.col("_h_new").isNull(), F.lit("removed"))
        .when(F.col("_h_old") != F.col("_h_new"), F.lit("changed"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*keys, "change_type")
    )
