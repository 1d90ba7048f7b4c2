"""End-to-end training-set materialization: the lake-write half of
the curation story.

``curation_pipeline_e2e`` (plans/registry_llm.py) proves the SELECT
side — filter → dedup → near-dup prune → budget select — as one
hash-checked plan. This module takes selected documents the rest of
the way a real training run needs: deterministic shard assignment,
sequence packing metadata, and a partitioned parquet layout a data
loader can stream shard-by-shard.

Scale shape: the only shuffle after selection is the per-shard
packing window + the ``partitionBy(shard)`` write (same key — one
exchange serves both); shard count bounds both the window size and
the files-per-directory. Rerunning is idempotent: the output path is
fully rewritten each run (static overwrite — deliberately, so a
smaller re-run can never leave stale shards from a prior run mixed
into the read-back), and hash-based shard assignment makes the
rewrite byte-stable for identical input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pos_api_pipeline_spark.lake import lake_exists
from pos_api_pipeline_spark.llm.dedup import (
    apply_pair_dedup,
    dedupe_corpus,
    minhash_lsh_candidates,
)
from pos_api_pipeline_spark.llm.packing import pack_concat
from pos_api_pipeline_spark.llm.sampling import select_by_token_budget
from pos_api_pipeline_spark.llm.text import gopher_quality_flags, tokens
from pos_api_pipeline_spark.session import read_parquet


def curate(
    docs: DataFrame,
    budget_tokens: int,
    min_words: int = 10,
    min_stop_hits: int = 1,
) -> DataFrame:
    """The selection pipeline as a reusable operator: Gopher rule
    filter → exact dedup (lowest id) → MinHash-LSH near-dup prune →
    greedy token-budget selection by length. Returns (doc_id, text,
    n_words). Mirrors the oracle-checked ``curation_pipeline_e2e``."""
    flt = (
        gopher_quality_flags(
            docs, min_words=min_words, min_stop_hits=min_stop_hits
        )
        .filter("keep")
        .select("doc_id", "text")
    )
    dd = dedupe_corpus(flt, method="exact")
    # collapse_exact=False: dd is already exact-text-deduped just
    # above, so every replica family has size 1 — the collapse's
    # distinct-text groupBy + expansion joins would be pure overhead.
    surv = apply_pair_dedup(
        dd, minhash_lsh_candidates(dd, collapse_exact=False)
    )
    n_words = F.size(tokens("text"))
    # localCheckpoint, not cache: the budget selector's per-bin
    # collect forces it immediately, lineage is cut, and the blocks
    # are released by the ContextCleaner when the frame goes out of
    # scope — a cache() here would live in the CacheManager until an
    # explicit unpersist that no caller could issue.
    scored = surv.select(
        "doc_id",
        "text",
        n_words.cast("long").alias("n_words"),
        n_words.cast("double").alias("_score"),
    ).localCheckpoint(eager=True)
    return select_by_token_budget(
        scored, budget_tokens, score_col="_score", token_col="n_words",
        score_lo=0.0, score_hi=1000.0,
    ).drop("_score")


def materialize_training_set(
    docs: DataFrame,
    out_dir: str,
    budget_tokens: int,
    seq_budget: int = 512,
    n_shards: int = 8,
    min_words: int = 10,
) -> DataFrame:
    """Curate, shard, pack, and WRITE the training set:
    ``out_dir/shard=N/*.parquet`` with one row per selected document
    carrying its packing coordinates (pack_id, start_offset) so a
    loader can reassemble fixed-budget sequences without re-tokenizing.

    Returns the materialized frame (read back from the lake, so the
    caller sees exactly what a loader will)."""
    selected = curate(docs, budget_tokens, min_words=min_words)
    packed = pack_concat(
        selected, budget=seq_budget, tokens_col="n_words",
        n_shards=n_shards,
    )
    with_text = packed.join(selected.select("doc_id", "text"), "doc_id")
    (
        with_text.repartition("shard")
        .write.mode("overwrite")
        # STATIC overwrite on purpose: the whole out_dir is replaced
        # each run. Dynamic partition overwrite would rewrite only the
        # shards present in THIS selection and silently leave stale
        # shard directories behind whenever a re-run with different
        # input/budget covers fewer shards — the read-back below would
        # then mix old-run documents into the "new" training set.
        .partitionBy("shard")
        .parquet(out_dir)
    )
    return read_parquet(docs.sparkSession, out_dir)


def training_set_stats(materialized: DataFrame) -> DataFrame:
    """Loader-facing summary per shard: docs, packs, token totals,
    and mean pack fill — the quick audit that the materialized layout
    matches the requested budgets."""
    return (
        materialized.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("pack_id").alias("n_packs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("shard")
    )


def run_corpus_curation_tick(
    spark: SparkSession,
    new_docs: DataFrame,
    corpus_dir: str,
    index_dir: str,
    min_words: int = 10,
    min_stop_hits: int = 1,
) -> dict:
    """One scheduled tick of INCREMENTAL corpus curation — the
    LLM-side counterpart of plans/dag.py's production ETL tick.
    Given today's delta of raw documents:

      1. rule-filter (Gopher flags),
      2. dedup within the delta (exact, lowest id),
      3. near-dedup WITHIN the delta (MinHash pair prune, lowest id
         survives — without this, two same-tick near-dups would both
         pass the index probe in step 5, both land in the corpus, and
         never be deduplicated by any later tick),
      4. drop docs already in the lake (exact md5 anti-join against
         the standing corpus),
      5. drop near-dups of the lake via the standing MinHash band
         index (no corpus re-signature — the index is the state),
      6. append survivors to the corpus AND their bands to the index.

    Replay-safe: a re-run of the same delta finds its docs already in
    the corpus at step 4 and appends nothing. Returns Airflow-style
    task statuses plus counts, like ``run_production_etl``.
    """
    from pos_api_pipeline_spark.llm.dedup import (
        cross_corpus_exact_dedup,
        minhash_bands,
        near_dups_against_index,
        update_band_index,
    )

    out: dict = {}
    flt = (
        gopher_quality_flags(
            new_docs, min_words=min_words, min_stop_hits=min_stop_hits
        )
        .filter("keep")
        .select("doc_id", "text")
    )
    delta = dedupe_corpus(flt, method="exact")
    # Intra-delta near-dup prune, mirroring curate(): the standing
    # index only knows the CORPUS, so near-dup pairs arriving in the
    # same tick must be resolved here or they both survive forever.
    # The delta is SIGNATURED ONCE (minhash_bands, materialized) and
    # the band frame is shared by all three MinHash consumers this
    # tick — the candidate generator here, the standing-index probe,
    # and the index append — instead of re-shingling the text three
    # times.
    delta_bands = minhash_bands(delta).localCheckpoint(eager=True)
    delta = apply_pair_dedup(
        delta, minhash_lsh_candidates(delta, bands_df=delta_bands)
    )
    out["rule_filter_task"] = "success"

    # Only a missing corpus means first tick; any other read failure
    # (permissions, corrupt footer) must fail the tick — treating it as
    # an empty corpus would re-append the whole delta as duplicates.
    if lake_exists(spark, corpus_dir):
        delta = cross_corpus_exact_dedup(delta, read_parquet(spark, corpus_dir))
        # probe with the already-materialized bands, narrowed to the
        # docs still alive (a semi join on ids — no re-hashing)
        live_bands = delta_bands.join(
            delta.select(F.col("doc_id").alias("id")), "id", "left_semi"
        )
        flagged = near_dups_against_index(
            delta, spark, index_dir, bands_df=live_bands
        )
        delta = delta.join(flagged, "doc_id", "left_anti")
        out["cross_corpus_dedup_task"] = "success"
    else:
        out["cross_corpus_dedup_task"] = "skipped"

    # localCheckpoint(eager): MATERIALIZE the survivors and cut their
    # lineage BEFORE appending to the corpus they were computed from.
    # A plain cache is best-effort — if a partition were evicted after
    # the append, recomputation would re-run the anti-join against the
    # corpus INCLUDING the just-appended rows and silently yield an
    # empty frame for the index update.
    survivors = delta.localCheckpoint(eager=True)
    n = survivors.count()
    if n > 0:
        survivors.write.mode("append").parquet(corpus_dir)
        update_band_index(
            survivors,
            index_dir,
            bands_df=delta_bands.join(
                survivors.select(F.col("doc_id").alias("id")),
                "id",
                "left_semi",
            ),
        )
        out["append_task"] = "success"
    else:
        out["append_task"] = "skipped"
    out["n_appended"] = n
    return out
