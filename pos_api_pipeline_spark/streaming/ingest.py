"""Streaming ingest into the curated lake — the reference's daily
batch loop as a genuine stream.

``foreachBatch`` gives each micro-batch a plain DataFrame + epoch id,
so the batch append-or-rewrite upsert (lake.merge_and_overwrite)
runs unchanged per batch with exactly-once effect: the checkpoint
records the epoch, and re-processing an epoch after failure finds
its keys stored by the failed attempt and rewrites the same
partitions (the W1 dedup makes replays converge). Only a month and a
key hash per row of a page-sized micro-batch come back to the
driver; a larger one takes the merge's distributed rewrite.

This is the idiomatic upgrade path SURVEY.md §1.4 names for the
reference's fetch→transform→merge loop (reference: main.py:24-75).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pos_api_pipeline_spark import lake
from pos_api_pipeline_spark.operators.transform import run_transform


def stream_receipts_to_lake(
    receipt_stream: DataFrame,
    lake_path: str,
    checkpoint_dir: str,
):
    """Run the curation chain over a receipt stream and merge each
    micro-batch into the partitioned lake. Returns the started query
    (caller stops it / awaits termination)."""

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        curated = run_transform(batch_df)
        lake.merge_and_overwrite(batch_df.sparkSession, curated, lake_path)

    return (
        receipt_stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def maintain_daily_metrics(
    receipt_stream: DataFrame,
    lake_path: str,
    agg_path: str,
    checkpoint_dir: str,
):
    """Incrementally-maintained daily-sales aggregate (materialized
    view): each micro-batch merges into the curated lake, then
    recomputes the aggregate ONLY for the dates the batch touched and
    dynamically overwrites those date partitions of the aggregate
    table.

    This is the 100 TB shape for keeping report aggregates fresh: the
    alternative — recomputing daily_sales over all history per batch
    — scans the whole lake every trigger. Here per-trigger work is
    bounded by the batch's date spread regardless of lake size, and
    recomputing affected dates FROM THE LAKE (post-dedup) rather than
    sum-merging batch deltas keeps countDistinct exact and makes
    re-deliveries/updates (latest-wins merge) converge instead of
    double-count. Replaying an epoch after failure rewrites the same
    date partitions idempotently.

    Aggregate grain: (date) with total_sales = sum(price),
    unique_receipts = countDistinct(receipt_number), n_lines —
    A5's daily metric (reference: data_preparation.py:379-398) kept
    continuously fresh instead of report-time computed.
    """
    from pyspark.sql import functions as F

    def update(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        curated = run_transform(batch_df)
        lake.merge_and_overwrite(spark, curated, lake_path)
        # Affected dates: tiny by construction (a micro-batch spans
        # few calendar days) — the ONLY driver-side collect here.
        dates = [
            r["date"]
            for r in curated.select("date").distinct().collect()
        ]
        if not dates:
            return
        fresh = (
            lake.read_lake(spark, lake_path)
            .filter(F.col("date").isin(dates))
            .groupBy("date")
            .agg(
                F.sum("price").alias("total_sales"),
                F.countDistinct("receipt_number").alias("unique_receipts"),
                F.count(F.lit(1)).alias("n_lines"),
            )
        )
        (
            fresh.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("date")
            .parquet(agg_path)
        )

    return (
        receipt_stream.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_dedupe_documents(
    doc_stream: DataFrame,
    lake_path: str,
    index_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
):
    """Continuous near-dup dedup of a document stream against the
    standing MinHash band index (llm/dedup.py:build_band_index) — the
    streaming form of the crawl-delta dedup: survivors append to the
    corpus lake AND to the index, so every later batch (and the next
    crawl) dedups against everything already accepted.

    Per micro-batch:

    1. exact re-delivery guard: ``dropDuplicates(id)`` within batch;
    2. within-batch near dups: MinHash LSH candidates + greedy
       lowest-id pair dedup (both batch-local — a batch is small);
    3. cross-corpus: LEFT SEMI probe of the standing index on
       (band, bhash) — the corpus's signatures are never recomputed,
       and band partitioning prunes the probe's scan;
    4. survivors append to the lake and their band rows to the index.

    Failure/replay semantics: appends are at-least-once per epoch,
    but a replayed batch re-probes the index — its documents were
    indexed by the failed attempt, so the replay flags them as dups
    and appends nothing. The one non-idempotent window is a crash
    BETWEEN the lake append and the index update (document in the
    lake, bands absent): the next occurrence of a near-dup would be
    accepted once more. Write the index first if the lake must never
    hold near-dups; write the lake first (done here) if losing an
    accepted document is the worse failure.
    """
    from pos_api_pipeline_spark.llm import dedup as D

    def dedupe_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates([id_col])
        pairs = D.minhash_lsh_candidates(
            batch, text_col, id_col, n, num_hashes, bands
        )
        batch = D.apply_pair_dedup(batch, pairs, id_col)
        if lake.lake_exists(spark, index_path):
            flagged = D.near_dups_against_index(
                batch, spark, index_path, text_col, id_col,
                n, num_hashes, bands,
            )
            batch = batch.join(flagged, on=id_col, how="left_anti")
        # Materialize once: the survivor set feeds two sinks, and
        # recomputing it after the lake append would re-probe an
        # index that now contains this batch's own rows.
        batch = batch.persist()
        try:
            batch.write.mode("append").parquet(lake_path)
            D.update_band_index(
                batch, index_path, text_col, id_col, n, num_hashes, bands
            )
        finally:
            batch.unpersist()

    return (
        doc_stream.writeStream.foreachBatch(dedupe_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
