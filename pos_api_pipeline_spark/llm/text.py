"""Text analysis operators for a training-data pipeline.

All pure Catalyst expressions (split/regexp/aggregate/transform) —
no Python UDFs — so they run inside whole-stage codegen over
arbitrarily many partitions. Designed for a `documents(doc_id, text,
lang, source, n_chars)` table but parameterized by column name.
"""

from __future__ import annotations

import pandas  # noqa: F401 — pandas_udf type hints ('pandas.Series')
# are strings under `from __future__ import annotations` and resolve
# against this module's globals at UDF registration time.
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A deliberately tiny, deterministic stopword list for quality scoring.
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

# Marker words per language for the n-gram/lexicon language-ID
# heuristic. Deterministic and explainable; at scale you'd broadcast a
# bigger lexicon — the plan shape is identical.
LANG_MARKERS = {
    "en": ["the", "and", "is", "of", "data", "table", "row", "value"],
    "es": ["el", "la", "de", "que", "los", "para", "con", "una"],
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization; empty strings filtered (split on a
    run of whitespace yields '' for leading/trailing)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


#: Logical operators a frame may consist of (over a file-source leaf)
#: and still be a "plain scan" for spread_small_scan — anything else
#: (joins, aggregates, generators, RDD leaves) means the frame's
#: parallelism comes from an exchange, not the input split count.
_PLAIN_SCAN_NODES = frozenset(
    {"Project", "Filter", "SubqueryAlias", "LogicalRelation",
     "DataSourceV2Relation", "DataSourceV2ScanRelation"}
)


def _plain_scan_bytes(df: DataFrame) -> int | None:
    """Total input bytes IF ``df`` is a pure Project/Filter chain over
    file-source relations, else None. Walks the ANALYZED logical plan
    (no optimization, no execution — inspecting ``df.rdd`` instead
    would force AQE to execute upstream stages at build time for
    derived frames; measured doing exactly that) and sums the leaf
    relations' size statistics, which Spark's file index lists
    through the Hadoop FileSystem for any scheme (local, s3a, hdfs)."""
    total = 0
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        n = stack.pop()
        if n.getClass().getSimpleName() not in _PLAIN_SCAN_NODES:
            return None
        if n.children().isEmpty():
            total += n.stats().sizeInBytes()
        it = n.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    return total


def spread_small_scan(df: DataFrame, key_col: str) -> DataFrame:
    """Scale-adaptive input spread for CPU-heavy scan-stage operators
    (r13, guide §2.5 "repartition immediately after the read" / §6):
    tokenize/shingle/hash projections run in the SCAN stage, whose
    task count is bounded by the input's split count — a small or
    single-row-group parquet file (the bench corpora; any small-file
    ingest) puts the whole corpus's hashing on ONE task no matter how
    many cores exist. When the frame is a plain file scan whose total
    bytes cannot occupy half the cluster at the configured split size,
    hash-repartition by the (unique) id BEFORE the heavy projection —
    hash repartition is deterministic under retries (no rand, no
    round-robin sort pass) and a unique key spreads evenly. At scale
    the byte condition is simply false (input bytes ≫ split size ×
    parallelism) and this is a no-op — the corpus is never shuffled
    for it; derived frames (post-exchange parallelism) are left
    untouched. Measured at sf1: the detector family 2.7-3× (suffix
    gram 8.1→3.0 s, minhash 9.1→2.9 s)."""
    nbytes = _plain_scan_bytes(df)
    if nbytes is None:
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    max_pb = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if nbytes * 2 >= max_pb * target:
        return df
    return df.repartition(target, F.col(key_col))


def bpe_ish_tokens(text: Column | str) -> Column:
    """BPE-ish sub-word splitting: letters / digits / single
    punctuation as separate tokens (regexp-based, the usual
    pre-tokenizer shape)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) per document."""
    return df.withColumn("n_tokens", token_count(text_col)).withColumn(
        "n_bpe_tokens", F.size(bpe_ish_tokens(text_col))
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality scoring: length, punctuation ratio, stopword
    ratio, mean token length — the standard cheap pre-filters before
    expensive model-based scoring.

    All ratios are exact integer-arithmetic divisions done in double —
    deterministic across engines.

    RAW tokens land in a real column referenced 2+ times so
    CollapseProject keeps one evaluation per row; the naive form
    re-tokenized per referencing output column (the ``with_shingles``
    discipline). Tokens are NOT pre-lowercased: JVM lowercasing is
    not length-preserving (U+0130 'İ' lowers to two code points), so
    mean_token_len must measure the original tokens; the stopword
    probe lowers inside its own lambda, exactly like the original
    inline form.
    """
    c = F.col(text_col)
    t_ = F.col("_qs_toks")
    n_tokens = F.col("n_tokens")
    n_chars = F.length(c)
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(
        F.filter(t_, lambda t: F.array_contains(stop_arr, F.lower(t)))
    )
    mean_tok_len = F.when(
        n_tokens > 0,
        F.aggregate(
            F.transform(t_, lambda t: F.length(t)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / n_tokens,
    )
    return (
        df.withColumn("_qs_toks", tokens(text_col))
        .withColumn("n_tokens", F.size(t_))
        .withColumn("punct_ratio", F.when(n_chars > 0, n_punct / n_chars))
        .withColumn("stopword_ratio", F.when(n_tokens > 0, n_stop / n_tokens))
        .withColumn("mean_token_len", mean_tok_len)
        .drop("_qs_toks")
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Lexicon-vote language ID: count marker-word hits per language,
    highest vote wins (ties broken by language code; zero hits →
    'und'). One pass over the token array per language.

    The lowered token array is materialized once (referenced by every
    per-language probe, so CollapseProject keeps it), and the winning
    (score, lang) struct is materialized once (referenced twice) — the
    naive form re-tokenized per language and re-ran the whole vote
    array for each of the two struct field accesses."""
    t_ = F.col("_li_toks")
    scores = []
    for lang in sorted(LANG_MARKERS):
        marker_arr = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        scores.append(
            F.struct(
                F.size(
                    F.filter(t_, lambda t: F.array_contains(marker_arr, t))
                ).alias("score"),
                F.lit(lang).alias("lang"),
            )
        )
    # array_max on (score, lang) structs: max score, then max lang —
    # flip tie order by sorting desc on score, asc on lang via sort of
    # negated score.
    best = F.col("_li_best")
    return (
        df.withColumn(
            "_li_toks", F.transform(tokens(text_col), lambda t: F.lower(t))
        )
        .withColumn("_li_best", F.array_max(F.array(*scores)))
        .withColumn(
            "predicted_lang",
            F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")),
        )
        .drop("_li_toks", "_li_best")
    )


def fingerprint(df: DataFrame, text_col: str = "text",
                out_col: str = "fingerprint") -> DataFrame:
    """Document fingerprinting: md5 of the sorted distinct lowercase
    token set — robust to word order and duplication, the classic
    cheap canonical form for near-exact dedup."""
    canon = F.array_join(
        F.array_sort(
            F.array_distinct(F.transform(tokens(text_col), lambda t: F.lower(t)))
        ),
        " ",
    )
    return df.withColumn(out_col, F.md5(canon))


def tf_idf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """TF-IDF per (doc, term): tf = in-doc count, idf =
    ln(N / df_t), smooth-free (the textbook form, exactly
    reproducible in SQL for the oracle).

    Two shuffles: explode→(doc,term) counts, then the term document
    frequency as a COUNT WINDOW over the term partition of the same
    tf frame — not a groupBy-then-join-back, which (a) evaluates the
    lambda-bearing tokenize subplan twice (no exchange reuse) and
    (b) needed the whole vocabulary broadcast, the OOM path at
    corpus scale (measured: window form is single-scan and ~20%
    faster at sf0.1, output-identical). The doc-count N is a one-row
    scalar broadcast.
    """
    toks = F.transform(tokens(text_col), lambda t: F.lower(t))
    # explode_outer + null-filter on the GENERATED column: plain
    # explode lets InferFiltersFromGenerate push a size()>0 guard to
    # the scan, inlining the tokenize tree a second time.
    term_rows = df.select(
        F.col(id_col).alias("id"), F.explode_outer(toks).alias("term")
    ).filter(F.col("term").isNotNull())
    tf = term_rows.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    from pyspark.sql import Window

    dfed = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    ).filter(F.col("df") >= min_df)
    # N as a lazy broadcast scalar, not an eager .count(): an action
    # here would scan the corpus a full extra time per call at 100 TB
    # and make the operator non-composable under one optimized plan.
    n_docs = df.agg(
        F.count_distinct(F.col(id_col)).cast("double").alias("_n_docs")
    )
    out = dfed.crossJoin(F.broadcast(n_docs))
    return out.select(
        F.col("id").alias(id_col),
        "term",
        "tf",
        "df",
        (F.col("tf") * F.log(F.col("_n_docs") / F.col("df"))).alias("tf_idf"),
    )


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus word frequencies — explode + count, the canonical
    map-side-combinable aggregation."""
    return (
        df.select(F.explode_outer(tokens(text_col)).alias("word"))
        .filter(F.col("word").isNotNull())
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's
    OWN unigram distribution — the cheap stand-in for the
    KenLM-perplexity quality filter (CCNet-style): documents full of
    corpus-typical words score high; gibberish and boilerplate-free
    rarity score low. Output: (id, n_tokens, mean_logprob), null
    score for token-less documents.

    Shape: one explode → (doc, term) counts; the corpus term count
    is a SUM WINDOW over the term partition of that same frame — the
    groupBy-then-rejoin twin would re-evaluate the tokenize tree
    (lambda plans never get a ReusedExchange) and join against a
    vocabulary that can be 10^8 rows at 100 TB. The (id, term, tf)
    frame is localCheckpointed once (r13, guide §3.3): the total
    token count is then sum(tf) over the checkpointed frame — a
    one-row broadcast — instead of the pre-r13 second corpus scan's
    map-only ``size(tokens)`` sum, so the corpus parquet is read and
    tokenized exactly once per run (2 scans → 1; the marker rows'
    tf = 0 contribute nothing, so the total is identical).

    Determinism across engines: ln() is rounded to 6 dp and
    accumulated as DECIMAL, so the per-doc sum is order-independent
    and the DuckDB oracle reproduces it bit-for-bit; the final mean
    divides in double only once, after the exact sum.
    """
    toks = F.transform(tokens(text_col), lambda t: F.lower(t))
    # The explode_outer NULL row (empty/null token array) is KEPT as
    # a per-doc marker: tf = count(term) = 0, it contributes nothing
    # to the weighted sum (guarded below), and token-less docs reach
    # the output without the pre-r12 corpus-scale id join-back (r12;
    # the dsir_log_weights pattern).
    term_rows = df.select(
        F.col(id_col).alias("id"), F.explode_outer(toks).alias("term")
    )
    tf = (
        term_rows.groupBy("id", "term")
        .agg(F.count("term").alias("tf"))
        # Lazy: the total's broadcast build is the first consumer and
        # materializes the checkpoint inside the main action — an
        # eager checkpoint here costs one extra synchronous job per
        # run for nothing (measured: the eager form gave back the
        # scan win as job latency).
        .localCheckpoint(eager=False)
    )
    from pyspark.sql import Window

    cwd = tf.withColumn("cw", F.sum("tf").over(Window.partitionBy("term")))
    # Marker rows carry tf = 0 (count ignores the NULL term), so
    # sum(tf) over the checkpointed frame equals the corpus token
    # total exactly — no second pass over the raw documents.
    total = tf.agg(F.sum("tf").alias("_total"))
    lp = (
        F.round(F.log(F.col("cw") / F.col("_total")), 6)
        .cast("decimal(28,6)")
    )
    agg = (
        cwd.crossJoin(F.broadcast(total))
        # tf > 0 guard: the marker row's cw/_total is 0, and ln(0)
        # must never be evaluated into the DECIMAL cast.
        .withColumn("lp", F.when(F.col("tf") > 0, lp))
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("lp")).alias("slp"),
        )
    )
    return agg.select(
        F.col("id").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            F.col("slp").cast("double") / F.col("n_tokens"),
        ).alias("mean_logprob"),
    )


def strip_html(
    df: DataFrame, text_col: str = "text", out_col: str = "stripped"
) -> DataFrame:
    """Plain text from HTML-ish markup — the first transform a crawl
    corpus sees: drop <script>/<style> blocks WITH their contents,
    strip remaining tags, decode the common entities, collapse
    whitespace. Regex-only (RE2/Java-portable, map-side, codegen) —
    the right scale shape for boilerplate markup; a DOM parser is a
    Pandas-UDF plug-in point for documents that need real tree
    semantics (tables, nested lists).

    Emits (out_col, n_chars_stripped) so markup shrinkage is
    observable per document."""
    c = F.col(text_col)
    # One pattern per block tag — RE2 (the oracle engine) has no
    # backreferences, so no shared `</\1>` closer.
    no_blocks = F.regexp_replace(
        c, r"(?is)<script\b[^>]*>.*?</script\s*>", " "
    )
    no_blocks = F.regexp_replace(
        no_blocks, r"(?is)<style\b[^>]*>.*?</style\s*>", " "
    )
    no_tags = F.regexp_replace(no_blocks, r"(?s)<[^>]+>", " ")
    decoded = no_tags
    for ent, ch in (
        ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " "),
    ):
        decoded = F.replace(decoded, F.lit(ent), F.lit(ch))
    cleaned = F.trim(F.regexp_replace(decoded, r"\s+", " "))
    return df.withColumn(out_col, cleaned).withColumn(
        "n_chars_stripped", F.length(c) - F.length(cleaned)
    )


def merge_pair_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adjacent lowercased token-pair frequencies — the statistic
    behind one BPE merge step (the highest-count pair is the next
    merge a tokenizer trainer would apply). Reference scope: the
    token-counting family (SURVEY.md §2 text analysis); this extends
    it toward tokenizer training.

    Pure Catalyst: zip the token array against itself shifted by one
    (two slices of the SAME materialized array — no re-tokenization),
    explode, one hash aggregation on the pair string. Tokens are
    whitespace-free so ``a + ' ' + b`` is an injective pair encoding.
    Map-side partial aggregation keeps the shuffle at one row per
    distinct pair per partition — the 100 TB shape for global
    vocabulary statistics.
    """
    toks = tokens(F.lower(F.col(text_col)))
    n1 = F.greatest(F.size(toks) - F.lit(1), F.lit(0))
    pairs = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        df.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def hashed_linear_scores(
    df: DataFrame,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.0,
) -> DataFrame:
    """fastText-style linear text classifier over hashed bag-of-words
    features: each lowercased token hashes to one of ``n_buckets``
    buckets, the document's score is the mean bucket weight over its
    tokens (repeats count — bag, not set), and ``keep`` thresholds
    it. This is the model-based quality filter that sits next to the
    heuristic ones (``quality_scores``).

    The integer milliweight (weight * 1000) of each bucket comes from
    hashing the bucket id — a deterministic stand-in model, uniform on
    [-1, 1] — so no join is needed at all: the corpus side is map-only
    plus one per-document aggregation.

    Exactness: weights stay INTEGER through the per-document sum (a
    bigint — no float addition-order drift), divided once by
    1000 * n_tokens in double. The score is therefore bit-identical
    on any engine and partitioning; the oracle replays it with the
    portable md5 hash.
    """
    from pos_api_pipeline_spark.llm.dedup import portable_hash64

    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    bucket = F.pmod(portable_hash64(F.col("tok")), F.lit(n_buckets))
    w_int = (
        F.pmod(
            portable_hash64(F.concat(F.lit("w:"), bucket.cast("string"))),
            F.lit(2001),
        )
        - F.lit(1000)
    )
    tagged = ex.withColumn("_w", F.when(F.col("tok").isNotNull(), w_int))
    agg = tagged.groupBy("id").agg(
        F.count("tok").alias("n_tokens"),
        F.sum("_w").alias("_sum_w"),
    )
    score = F.when(
        F.col("n_tokens") > 0,
        F.col("_sum_w").cast("double")
        / (F.lit(1000.0) * F.col("n_tokens")),
    ).otherwise(F.lit(0.0))
    return agg.select(
        F.col("id").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        score.alias("score"),
        (score > F.lit(threshold)).alias("keep"),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's
    OWN bigram MLE model — one Markov order up from
    ``unigram_logprob``, and a materially better perplexity proxy:
    word-salad documents score low here even when every individual
    word is corpus-typical. P(w2|w1) = C(w1 w2) / C(w1 ·), where
    C(w1 ·) counts bigram occurrences starting with w1, so every
    scored bigram has nonzero probability (the model is trained on
    the same corpus it scores — no smoothing needed).

    Shape: one explode to ALL bigram occurrences (not distinct —
    frequency is the signal), then a (doc, bigram) partial-agg
    groupBy. C(w1 w2) and C(w1 ·) are sum windows over that tf frame
    partitioned by the gram / its first word — no model join, the tf
    stream is sorted twice. Measured 1.56× faster at sf1 (6.3 s vs
    9.8 s) than deriving the model by groupBy and joining it back,
    where the model outgrows AQE's broadcast and the join pays a
    full shuffle of both sides.

    Determinism across engines: ln() rounded to 6 dp, accumulated as
    DECIMAL (order-independent), one double division at the end.

    Output: (id, n_bigrams, mean_logprob); null score for documents
    with fewer than two tokens.
    """
    from pyspark.sql import Window

    toks = F.transform(tokens(text_col), lambda t: F.lower(t))
    tc = F.col("_toks")
    k = F.size(tc) - 1
    grams = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.array_join(F.slice(tc, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # The explode_outer NULL row (docs with <2 tokens) is KEPT as a
    # per-doc marker: tf = count(g) = 0, it contributes nothing to the
    # weighted sum (lp guarded on tf > 0 below — the marker's cg/c1 is
    # 0/0, which ANSI mode must never evaluate), and bigram-less docs
    # reach the output without the pre-r12 corpus-scale id join-back
    # (r12; the unigram_logprob / dsir_log_weights pattern).
    gram_rows = df.select(
        F.col(id_col).alias("id"), toks.alias("_toks")
    ).select("id", F.explode_outer(grams).alias("g"))
    tf = gram_rows.groupBy("id", "g").agg(F.count("g").alias("tf"))
    scored = (
        tf.withColumn("w1", F.split(F.col("g"), " ").getItem(0))
        .withColumn("cg", F.sum("tf").over(Window.partitionBy("g")))
        .withColumn("c1", F.sum("tf").over(Window.partitionBy("w1")))
        .withColumn(
            "lp",
            F.when(
                F.col("tf") > 0,
                F.round(F.log(F.col("cg") / F.col("c1")), 6)
                .cast("decimal(28,6)"),
            ),
        )
    )
    agg = scored.groupBy("id").agg(
        F.sum("tf").alias("n_bigrams"),
        F.sum(F.col("tf") * F.col("lp")).alias("slp"),
    )
    return agg.select(
        F.col("id").alias(id_col),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.when(
            F.col("n_bigrams") > 0,
            F.col("slp").cast("double") / F.col("n_bigrams"),
        ).alias("mean_logprob"),
    )

# The Gopher rule-filter stopword probe (Rae et al. 2021, §A1.1.2):
# a document must contain at least ``min_stop_hits`` of these to pass.
GOPHER_STOP = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style document rule filters (Rae et al. 2021, §A1.1.2)
    as one narrow projection: word-count bounds, mean-word-length
    bounds, symbol-to-word ratio (``#`` and ellipses), bullet-line and
    ellipsis-line ratios, alphabetic-word fraction, and the stopword
    probe. The composite ``keep`` is the conjunction the paper
    applies before any model-based scoring.

    Everything is integer counting + one exact int/int→double division
    per ratio (no floats accumulate), so the DuckDB oracle reproduces
    every ratio bit-for-bit. Single-pass, no shuffle: this is a
    per-row projection that Catalyst keeps inside one WholeStageCodegen
    over the scan — the cheapest possible shape at 100 TB.

    The token/line arrays and the per-doc counts land in real columns
    (each referenced 2+ times, so CollapseProject keeps them
    materialized — the ``with_shingles`` discipline): the naive form
    re-ran split+lower per referencing output column and per stopword
    probe, ~20 tokenizations of every document (measured 10x at sf1).
    The materialized tokens stay RAW — JVM lowercasing is not length-
    or class-preserving (U+0130 'İ' lowers to two code points; Kelvin
    sign U+212A lowers to ASCII 'k'), so mean_word_len and the
    alphabetic probe must see the original tokens. The stopword probe
    gets its own materialized LOWERED array; its hit count is the
    size of array_intersect with the stopword literals (stopwords are
    distinct, so this equals the original per-stopword
    array_contains count), with the isNotNull guard doubling as the
    second reference that keeps the lowered array above the
    CollapseProject inline threshold. Values are bit-identical to the
    original inline form; only the evaluation count changed.
    """
    c = F.col(text_col)
    t_ = F.col("_gq_toks")
    low_ = F.col("_gq_low")
    lines_ = F.col("_gq_lines")
    n_words = F.col("n_words")
    n_lines = F.size(lines_)
    sum_word_len = F.aggregate(
        F.transform(t_, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    mean_word_len = F.when(
        n_words > 0, sum_word_len.cast("double") / n_words
    )
    # Non-overlapping occurrence counts via replace-length arithmetic —
    # identical semantics in Spark and DuckDB.
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#")))
    n_ell3 = (F.length(c) - F.length(F.replace(c, F.lit("...")))) / F.lit(3)
    n_ell1 = F.length(c) - F.length(F.replace(c, F.lit("…")))
    symbol_word_ratio = F.when(
        n_words > 0, (n_hash + n_ell3 + n_ell1).cast("double") / n_words
    )
    n_bullet = F.size(
        F.filter(
            lines_,
            lambda l: F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•"),
        )
    )
    ell_end = lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith(
        "…"
    )
    n_ell_lines = F.size(F.filter(lines_, ell_end))
    bullet_line_ratio = F.when(
        n_lines > 0, n_bullet.cast("double") / n_lines
    )
    ellipsis_line_ratio = F.when(
        n_lines > 0, n_ell_lines.cast("double") / n_lines
    )
    n_alpha = F.size(F.filter(t_, lambda t: t.rlike("[A-Za-z]")))
    alpha_word_ratio = F.when(n_words > 0, n_alpha.cast("double") / n_words)
    stop_hits = F.when(
        low_.isNotNull(),
        F.size(
            F.array_intersect(
                F.array(*[F.lit(s) for s in GOPHER_STOP]), low_
            )
        ),
    ).otherwise(F.lit(0))
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (
            F.coalesce(F.col("bullet_line_ratio"), F.lit(0.0))
            <= max_bullet_line_ratio
        )
        & (
            F.coalesce(F.col("ellipsis_line_ratio"), F.lit(0.0))
            <= max_ellipsis_line_ratio
        )
        & (F.col("alpha_word_ratio") >= min_alpha_word_ratio)
        & (F.col("stop_hits") >= min_stop_hits)
    )
    return (
        df.withColumn("_gq_toks", tokens(text_col))
        .withColumn("_gq_low", F.transform(t_, lambda t: F.lower(t)))
        .withColumn("_gq_lines", F.filter(F.split(c, "\n"), lambda l: F.trim(l) != ""))
        .withColumn("n_words", F.size(t_).cast("long"))
        .withColumn("mean_word_len", mean_word_len)
        .withColumn("symbol_word_ratio", symbol_word_ratio)
        .withColumn("bullet_line_ratio", bullet_line_ratio)
        .withColumn("ellipsis_line_ratio", ellipsis_line_ratio)
        .withColumn("alpha_word_ratio", alpha_word_ratio)
        .withColumn("stop_hits", stop_hits.cast("long"))
        .withColumn("keep", F.coalesce(keep, F.lit(False)))
        .drop("_gq_toks", "_gq_low", "_gq_lines")
    )


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy of the character distribution
    (nats) — the cheap compressibility proxy: near-zero entropy is
    repeated filler, unusually high is binary junk/mojibake. The
    standard companion to [[gopher_quality_flags]] in rule-based
    corpus filtering.

    H = -sum_i (c_i/n)·ln(c_i/n), accumulated with the same
    cross-engine determinism discipline as ``unigram_logprob``: ln is
    rounded to 6 dp and summed as DECIMAL weighted by exact integer
    counts, one double division at the end.

    Shape: one explode to (doc, char) — linear in corpus bytes — then
    one partial-agg groupBy, a per-doc SUM window (not a
    groupBy-then-rejoin, which would re-run the explode tree), and a
    final per-doc aggregation that reuses the window's partitioning.
    A per-doc NULL marker char (c = count(ch) = 0) keeps zero-char
    docs alive, so there is no join back to the corpus either (r12;
    the pre-r12 form scanned the corpus three times — count, total,
    id restore — and joined twice).
    """
    from pyspark.sql import Window

    chars = F.filter(F.split(F.col(text_col), ""), lambda ch: ch != "")
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.concat(
                F.array(F.lit(None).cast("string")),
                F.coalesce(chars, F.array().cast("array<string>")),
            )
        ).alias("ch"),
    )
    cnt = ex.groupBy("id", "ch").agg(F.count("ch").alias("c"))
    cwd = cnt.withColumn("n", F.sum("c").over(Window.partitionBy("id")))
    # The c > 0 guard skips the marker row: its c/n is 0/0 → NaN,
    # whose DECIMAL cast would throw under ANSI.
    clp = F.when(
        F.col("c") > 0,
        F.col("c")
        * F.round(F.log(F.col("c") / F.col("n")), 6).cast("decimal(28,6)"),
    )
    contrib = (
        cwd.select("id", "n", clp.alias("clp"))
        .groupBy("id")
        .agg(F.first("n").alias("n_chars"), F.sum("clp").alias("sclp"))
    )
    return contrib.select(
        F.col("id").alias(id_col),
        F.col("n_chars").cast("long").alias("n_chars_counted"),
        F.when(
            F.col("n_chars") > 0,
            -(F.col("sclp").cast("double")) / F.col("n_chars"),
        ).alias("entropy"),
    )


# (script label, Spark/Java regex, DuckDB/RE2 regex) — Java spells
# Unicode scripts \p{IsX}, RE2 spells them \p{X}; same char sets.
SCRIPT_CLASSES = [
    ("latin", r"\p{IsLatin}", r"\p{Latin}"),
    ("cyrillic", r"\p{IsCyrillic}", r"\p{Cyrillic}"),
    ("han", r"\p{IsHan}", r"\p{Han}"),
    ("arabic", r"\p{IsArabic}", r"\p{Arabic}"),
    ("digit", r"[0-9]", r"[0-9]"),
    ("space", r"\s", r"\s"),
]


def script_ratios(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode-script composition per document: for each script class
    (Latin, Cyrillic, Han, Arabic, digits, whitespace) the character
    count and its fraction of the document. The char-grain complement
    to the lexicon ``language_id`` — catches wrong-script contamination
    (e.g. a 'en'-labeled page that is 40% Cyrillic) that word lists
    miss entirely.

    Counts come from ``regexp_extract_all`` sizes (integers), ratios
    are one exact int/int→double division each: a pure per-row
    projection, no shuffle, fully codegen'd. Each ratio reads its
    count back as a column attribute, so every regex scans the
    document once (an inline ``cnt`` reference re-ran
    regexp_extract_all per consumer — 12 passes instead of 6).
    """
    c = F.col(text_col)
    n = F.length(c)
    out = df.withColumn("n_chars_total", n.cast("long"))
    for name, jre, _ in SCRIPT_CLASSES:
        cnt = F.size(F.regexp_extract_all(c, F.lit(jre), 0))
        out = out.withColumn(f"n_{name}", cnt.cast("long")).withColumn(
            f"{name}_ratio",
            F.when(n > 0, F.col(f"n_{name}").cast("double") / n),
        )
    return out


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Per-document DEFLATE compression ratio — the strongest cheap
    redundancy signal in web-corpus filtering (used alongside the
    Gopher rules): templated/repetitive pages compress far below
    natural prose (ratio >> 3), random/binary junk barely compresses
    (ratio ≈ 1).

    zlib is not expressible in SQL, so this is the deliberate
    Arrow-batched Python path: a scalar ``pandas_udf`` compresses each
    batch JVM→Arrow→pandas with no per-row py4j round trips. Only
    (id, text) cross the boundary — the projection happens before the
    UDF so column pruning reaches the scan. Deterministic for a fixed
    zlib level, hence unit-assertable; the correctness gate is
    rows-only (documented non-SQL-expressible op).

    Output adds: n_bytes (utf-8), n_compressed, ratio (null for empty
    docs).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _csize(texts: pandas.Series) -> pandas.Series:
        import zlib

        return texts.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), level))
            if t is not None
            else None
        )

    n_bytes = F.octet_length(F.col(text_col))
    return (
        df.withColumn("n_bytes", n_bytes.cast("long"))
        .withColumn("n_compressed", _csize(F.col(text_col)))
        .withColumn(
            "ratio",
            F.when(
                n_bytes > 0,
                n_bytes.cast("double") / F.col("n_compressed"),
            ),
        )
    )


def vocab_kl_divergence(
    delta: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """KL(delta ‖ corpus) over unigram distributions — the
    distribution-drift monitor for incoming data: a spike means the
    new batch's vocabulary departs from the standing corpus (new
    domain, new language, spam wave) and mixture weights/filters need
    a look. Every delta term also appears in the corpus when delta ⊆
    corpus (the intended monitoring setup: probe each day's slice
    against the whole); out-of-vocabulary terms would make KL infinite
    and are excluded with their mass reported separately (``oov_mass``
    — itself a strong drift signal).

    KL is computed over the RENORMALIZED in-vocabulary delta
    distribution: with C = in-vocab delta token count,
    KL = (Σ c_i·ln(c_i/d_i))/C + ln(N2/C) — one decimal-accumulated
    rounded ln per term (the ``unigram_logprob`` discipline), the
    corpus-size terms entering once at the end. A fully-OOV delta has
    no in-vocab distribution: ``kl_nats`` is null and ``oov_mass`` =
    1.0 is the drift signal — monitors must alert on EITHER (high KL
    ⇒ shifted shared vocabulary; high OOV mass ⇒ vocabulary replaced
    outright). One row out: (n_delta_tokens, n_corpus_tokens,
    oov_mass, kl_nats).

    Shape: two token explodes + two partial-agg counts + one join on
    the term. n_delta_tokens falls out of the join aggregation
    (in_vocab_c + oov — every delta term survives the left join) and
    n_corpus_tokens is a map-only size() sum, so the delta is scanned
    once and the corpus twice (r12; was four scans total).
    """
    def counts(df: DataFrame, name: str) -> DataFrame:
        toks = F.transform(tokens(text_col), lambda t: F.lower(t))
        return (
            df.select(F.explode_outer(toks).alias("term"))
            .filter(F.col("term").isNotNull())
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias(name))
        )

    c = counts(delta, "c")
    d = counts(corpus, "d")
    joined = c.join(d, "term", "left")
    # n2 = Σ_terms d = the corpus's total token count — a map-only
    # size() sum, not a second explode+groupBy pass over the corpus
    # (r12, guide §2.3/§2.4; same value: counts() drops exactly the
    # tokens size() never counts, i.e. none). n1 is recovered from
    # the joined aggregation itself (in_vocab_c + oov — every delta
    # term survives the left join), so the delta is also scanned
    # once. 4 corpus/delta scans → 2.
    sz = F.size(tokens(text_col))
    n2 = corpus.select(
        F.when(sz > 0, sz).otherwise(F.lit(0)).alias("_n")
    ).agg(F.sum("_n").alias("n2"))
    agg = (
        joined.select(
            "c",
            "d",
            F.when(
                F.col("d").isNotNull(),
                F.col("c")
                * F.round(F.log(F.col("c") / F.col("d")), 6).cast(
                    "decimal(28,6)"
                ),
            ).alias("clnr"),
            F.when(F.col("d").isNull(), F.col("c"))
            .otherwise(F.lit(0))
            .alias("oov_c"),
        )
        .agg(
            F.sum("clnr").alias("slnr"),
            F.sum("oov_c").alias("oov"),
            F.sum(F.when(F.col("d").isNotNull(), F.col("c")).otherwise(0))
            .alias("in_vocab_c"),
        )
    )
    agg = agg.withColumn("n1", F.col("in_vocab_c") + F.col("oov"))
    return (
        agg.crossJoin(F.broadcast(n2))
        .select(
            F.col("n1").cast("long").alias("n_delta_tokens"),
            F.col("n2").cast("long").alias("n_corpus_tokens"),
            (F.col("oov").cast("double") / F.col("n1")).alias("oov_mass"),
            F.when(
                F.col("in_vocab_c") > 0,
                F.round(
                    F.coalesce(F.col("slnr"), F.lit(0)).cast("double")
                    / F.col("in_vocab_c")
                    + F.log(
                        F.col("n2").cast("double") / F.col("in_vocab_c")
                    ),
                    6,
                ),
            ).alias("kl_nats"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 retrieval scoring (Robertson & Zaragoza 2009; Lucene idf form)
# ---------------------------------------------------------------------------


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents by BM25 against a bag of query terms — the
    lexical-retrieval primitive (quality-doc mining, seed expansion,
    eval-set retrieval) next to the dense ANN family.

    idf uses the non-negative Lucene form ln(1 + (N−df+0.5)/(df+0.5));
    the tf saturation/length normalization is the classic
    tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)).

    Shape: one explode → (doc, term) counts, query-term-pruned
    BEFORE scoring so only matching postings move; per-term document
    frequency is a count window over the pruned postings (one row
    per (doc, term), so count ≡ countDistinct) instead of a
    groupBy-plus-rejoin that would re-evaluate the explode; doc
    length is ``size(tokens)`` — a map-only projection, no second
    explode/groupBy pass (docs with zero tokens are excluded, the
    same population the posting-derived form counts); N and avgdl
    ride as a lazy one-row broadcast. Per-term scores are rounded to
    6 dp and accumulated as DECIMAL (the ln() discipline), making
    the ranking engine-reproducible bit-for-bit.

    Output: (id, n_terms_matched, score), ranked, ties broken by id.
    """
    toks = F.transform(tokens(text_col), lambda t: F.lower(t))
    term_rows = df.select(
        F.col(id_col).alias("id"), F.explode_outer(toks).alias("term")
    ).filter(F.col("term").isNotNull())
    tf_all = term_rows.groupBy("id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dl = df.select(
        F.col(id_col).alias("id"), F.size(toks).alias("dl")
    ).filter(F.col("dl") >= 1)
    stats = dl.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("_avgdl"),
    )
    terms = [t.lower() for t in query_terms]
    from pyspark.sql import Window

    tf_q = tf_all.filter(F.col("term").isin(terms)).withColumn(
        "df_t", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    scored = (
        tf_q.join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .select(
            "id",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (
                        F.col("_n_docs") - F.col("df_t") + F.lit(0.5)
                    )
                    / (F.col("df_t") + F.lit(0.5))
                )
                * (
                    F.col("tf") * F.lit(k1 + 1.0)
                    / (
                        F.col("tf")
                        + F.lit(k1)
                        * (
                            F.lit(1.0 - b)
                            + F.lit(b) * F.col("dl") / F.col("_avgdl")
                        )
                    )
                ),
                6,
            )
            .cast("decimal(28,6)")
            .alias("term_score"),
        )
    )
    agg = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_terms_matched"),
        F.sum("term_score").cast("double").alias("score"),
    )
    return agg.orderBy(F.desc("score"), F.asc("id")).limit(k)


def token_fertility(
    df: DataFrame,
    strata_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer fertility profile per stratum — the tokenizer-audit
    stat (how many sub-word tokens a language pays per word / per
    character) that drives vocabulary-size and mixture decisions for
    multilingual training sets.

    One projection computes whitespace-token and BPE-ish-token counts
    plus character counts per document; one groupBy aggregates them.
    Ratios (fertility = bpe/words, chars per bpe token) are computed
    from the exact integer sums and rounded to 6 dp — fully
    map-side-combinable, no window, no UDF.

    Output: (stratum, n_docs, n_words, n_bpe_tokens, n_chars,
    fertility, chars_per_token, words_per_doc).
    """
    per_doc = df.filter(F.col(strata_col).isNotNull()).select(
        F.col(strata_col).alias("stratum"),
        token_count(text_col).cast("long").alias("_w"),
        F.size(bpe_ish_tokens(text_col)).cast("long").alias("_b"),
        F.length(text_col).cast("long").alias("_c"),
    )
    agg = per_doc.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_w").alias("n_words"),
        F.sum("_b").alias("n_bpe_tokens"),
        F.sum("_c").alias("n_chars"),
    )
    return agg.select(
        "stratum",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        "n_chars",
        F.round(
            F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 6
        ).alias("fertility"),
        F.round(
            F.col("n_chars").cast("double") / F.col("n_bpe_tokens"), 6
        ).alias("chars_per_token"),
        F.round(
            F.col("n_words").cast("double") / F.col("n_docs"), 6
        ).alias("words_per_doc"),
    )
