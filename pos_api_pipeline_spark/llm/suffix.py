"""Exact repeated-substring spans (Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better" — the ExactSubstr dedup,
re-expressed for Spark's execution model instead of a single-node
suffix array).

Reference parity: supersedes the fixed-k positional-gram
approximation in ``llm/curation.py:repeated_substring_spans`` with
the variable-length exact form: every maximal token span covered by
some substring of length ≥ ``min_len`` occurring ≥ 2 times anywhere
in the corpus (including twice inside ONE document — the k-gram
form's ``min_docs`` counts distinct documents and misses those).

The cover identity makes this a gram sieve rather than a suffix
sort: a position is covered by a repeated substring of length ≥ L
iff it is covered by a repeated L-gram (⊆: every L-window of a
repeated substring is itself repeated; ⊇: a repeated L-gram IS a
repeated substring of length L). The exported output is a threshold
on that covered point set — per-suffix longest-repeat lengths are
never surfaced — so marking positions whose L-gram occurs ≥ 2 times
and merging them into per-document islands yields exactly the
maximal spans, at any L. The DuckDB oracle checks the same identity.

Scale: one corpus pass, O(n·L) gram hashing, one narrow
(id, pos, hash) exchange pair and one per-document islands window —
no ranking rounds, no all-pairs step, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def repeated_spans_exact(
    df: DataFrame,
    min_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact variable-length repeated-substring spans: maximal
    per-document token spans covered by a substring of ≥ ``min_len``
    tokens that occurs at least twice in the corpus (any mix of
    cross- and within-document). Output: (id_col, span_start,
    span_end, n_tokens), positions 0-based inclusive; the id column
    keeps the input's type.

    Computed through the cover identity: a position is covered by
    some repeated substring of length ≥ L iff it is covered by some
    repeated L-gram (⊆: a repeated substring's L-windows are
    repeated; ⊇: a repeated L-gram IS a repeated substring of length
    L). The merged spans depend only on that covered point set, so
    one gram explode + one count-≥-2 sieve + a per-document interval
    union is exact at every L — no suffix ranking, no max-length
    collect. The DuckDB oracle verifies the output through the same
    identity."""
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len!r}")
    return _gram_cover_spans(df, min_len, text_col, id_col)


def _gram_cover_spans(
    df: DataFrame, min_len: int, text_col: str, id_col: str
) -> DataFrame:
    """Repeated-substring cover via the repeated-L-gram identity (see
    ``repeated_spans_exact``).

    Shape: per-position L-gram → 128-bit gram identity (two
    independent xxhash64 streams — a false merge needs a
    simultaneous 2⁻¹²⁸-scale collision in both; the detector family
    already rests on hashed gram identity) → count ≥ 2 sieve →
    per-doc interval union. The gram stream is localCheckpointed
    once (lazy — materialized inside the main action): its two
    consumers (the count aggregate and the sieve join's stream side)
    carry the lambda-bearing tokenize tree, which never
    canonicalizes, so without the cut the corpus would be scanned
    and re-hashed per consumer. One corpus pass, one narrow
    (id, pos, h1, h2) exchange pair (groupBy + AQE-skew-handled
    sieve join — a window over the gram partition would put every
    occurrence of one boilerplate gram in a single task), one
    per-doc islands window. Work is O(n·L) hashing + O(n)-row
    shuffles, independent of document length m."""
    from pos_api_pipeline_spark.llm.text import spread_small_scan, tokens

    L = min_len
    toks = tokens(F.lower(F.col(text_col)))
    # r13: gram hashing is scan-stage work — spread low-split inputs
    # (no-op at scale; see text.spread_small_scan).
    toked = spread_small_scan(
        df.select(F.col(id_col).alias("id"), F.col(text_col)), "id"
    ).select("id", toks.alias("_toks"))
    # sequence(1, 0) runs BACKWARDS — guard short docs to an empty
    # gram array (same discipline as the shingle builders).
    gram_strs = F.when(
        F.size("_toks") >= L,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - F.lit(L - 1)),
            lambda i: F.array_join(F.slice("_toks", i, L), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = (
        toked.select("id", F.posexplode(gram_strs).alias("pos", "_g"))
        .select(
            "id",
            F.col("pos").cast("long").alias("pos"),
            F.xxhash64("_g").alias("h1"),
            F.xxhash64(F.lit(7), "_g").alias("h2"),
        )
        .localCheckpoint(eager=False)
    )
    rep = (
        grams.groupBy("h1", "h2")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("h1", "h2")
    )
    covered = grams.join(rep, ["h1", "h2"], "left_semi").select(
        "id", "pos", F.lit(L).cast("long").alias("h")
    )
    return _cover_to_spans(covered, id_col)


def _cover_to_spans(h: DataFrame, id_col: str) -> DataFrame:
    # interval union per document: [pos, pos+h-1], merged while the
    # next start is ≤ running-max-end + 1 (token-adjacent cover)
    cover = h.select(
        "id", F.col("pos").alias("s"), (F.col("pos") + F.col("h") - 1).alias("e")
    )
    w = Window.partitionBy("id").orderBy("s")
    run_e = F.max("e").over(
        Window.partitionBy("id").orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = (
        cover.withColumn(
            "_ni",
            F.when(
                F.col("s") > F.coalesce(run_e, F.lit(-1)) + 1, F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("_ni").over(w))
    )
    return (
        isl.groupBy("id", "island")
        .agg(
            F.min("s").cast("long").alias("span_start"),
            F.max("e").cast("long").alias("span_end"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("n_tokens"),
        )
    )


def remove_repeated_spans(
    df: DataFrame,
    min_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply ExactSubstr dedup (Lee et al. 2022): rebuild every
    document with all ``repeated_spans_exact`` ranges excised — the
    released deduplicate-text-datasets tool's policy of removing
    EVERY occurrence of a duplicated substring (the cover is defined
    over all occurrences, so no copy is privileged). Documents with
    no repeats pass through normalized; ``n_tokens`` is the original
    token count (same contract as
    ``curation.remove_contaminated_spans``, which shares the
    excision).

    Output: (id_col, cleaned, n_tokens, n_tokens_removed).
    """
    from pos_api_pipeline_spark.llm.curation import excise_token_spans

    spans = repeated_spans_exact(
        df, min_len=min_len, text_col=text_col, id_col=id_col
    )
    return excise_token_spans(df, spans, text_col, id_col)
