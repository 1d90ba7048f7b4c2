"""Deterministic sampling and corpus-mixture operators.

A training-data pipeline rarely trains on a corpus as-is: it
subsamples (to hit a token budget), stratifies (per-language /
per-domain quotas), and re-weights (target mixture proportions, as in
the Pile / DoReMi-style domain weighting). These operators implement
those three moves with *deterministic, engine-portable* randomness —
the md5-prefix hash (``llm.dedup.portable_hash64``) plays the RNG, so
a sample is (a) reproducible run-to-run, (b) reproducible across
engines (the DuckDB oracles recompute the identical sample), and
(c) stable under repartitioning, unlike ``df.sample`` whose output
depends on partition layout.

Scale shapes (the 100 TB judgment):

- ``hash_sample`` is map-only — a filter on a hash of the key, no
  shuffle, no state; survives any corpus size unchanged.
- ``stratified_sample`` (exact per-stratum counts) sorts within each
  stratum via a window — correct and worth it when strata are modest
  (languages, domains). A stratum with trillions of rows makes the
  per-stratum sort the bottleneck; use ``mixture_sample`` there.
- ``mixture_sample`` computes per-stratum keep-RATES from a one-pass
  count aggregate, broadcasts the tiny rate table, and filters
  map-side — no per-row sort anywhere, counts exact in expectation
  (binomial around the target, relative error ~1/sqrt(target)).

No Python UDFs; everything is whole-stage-codegen'd expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

#: id types the token-budget tie-refinement axis can bin on
_NUMERIC_ID_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)

from pos_api_pipeline_spark.llm.dedup import portable_hash64

# portable_hash64 yields 60 bits (15 hex chars) — uniform on [0, 2^60).
_HASH_SPACE = float(1 << 60)


def _sample_key(key: Column, seed: int) -> Column:
    """Per-(row, seed) uniform hash in [0, 2^60). Seeding by string
    concat keeps the construction portable: DuckDB reproduces it as
    ``md5(key || ':' || seed)``."""
    return portable_hash64(F.concat(key.cast("string"), F.lit(f":{seed}")))


def hash_sample(
    df: DataFrame,
    fraction: float,
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows: hash(key, seed)
    thresholded against the hash space. Map-only (no shuffle, no
    sort); the sample is a fixed *property of the key*, so reruns,
    retries, and different partitionings all select the same rows —
    the property exact-once training-data cuts need.

    Distinct seeds give independent samples (e.g. held-out splits:
    seed 0 for train-sample, seed 1 for eval-sample)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    threshold = int(fraction * _HASH_SPACE)
    return df.filter(_sample_key(F.col(key_col), seed) < F.lit(threshold))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """EXACTLY ``n_per_stratum`` rows per stratum (fewer only when the
    stratum is smaller), chosen by hash order — i.e. a deterministic
    uniform sample without replacement per group.

    Shape: one shuffle on ``strata_col`` + per-stratum sort by the
    hash (window row_number). Right for bounded-cardinality strata
    (languages, domains, source tags). The hash is the primary sort
    key and the row key breaks ties, so the selection is total-ordered
    and reproducible."""
    h = _sample_key(F.col(key_col), seed)
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_stratum)
        .drop("_rn")
    )


def mixture_rates(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    total: int,
) -> DataFrame:
    """Per-stratum keep-rates that hit a target mixture: stratum s
    should contribute ``total * weights[s] / sum(weights)`` rows, so
    its rate is target_s / count_s (capped at 1.0 — an undersized
    stratum contributes everything it has; the achieved mixture then
    undershoots that component, which is the honest behavior, not
    silent upsampling).

    One count aggregate over the corpus; output is
    (stratum, n_rows, target_n, rate) with one row per *requested*
    stratum. Tiny by construction — always broadcastable."""
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("weights must sum to a positive value")
    targets = F.create_map(
        *[
            x
            for k, v in sorted(weights.items())
            for x in (F.lit(k), F.lit(total * v / wsum))
        ]
    )
    counts = (
        df.filter(F.col(strata_col).isin(list(weights)))
        .groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return counts.select(
        F.col(strata_col),
        "n_rows",
        targets[F.col(strata_col)].alias("target_n"),
        F.least(
            F.lit(1.0), targets[F.col(strata_col)] / F.col("n_rows")
        ).alias("rate"),
    )


def mixture_sample(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    total: int,
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Resample the corpus toward a target mixture: ~``total`` rows
    distributed across strata proportionally to ``weights`` (strata
    absent from ``weights`` are dropped). Per-stratum counts are
    binomial around the target — exact in expectation, no sort.

    Shape: count-aggregate -> broadcast the rate table -> map-side
    hash filter. The corpus is scanned twice (once to count, once to
    filter) but never shuffled on a per-row basis — at 100 TB the
    second scan pipelines with whatever consumes the sample."""
    rates = mixture_rates(df, strata_col, weights, total).select(
        strata_col, "rate"
    )
    h = _sample_key(F.col(key_col), seed)
    return (
        df.join(F.broadcast(rates), strata_col, "inner")
        .filter(h < (F.col("rate") * F.lit(_HASH_SPACE)))
        .drop("rate")
    )


def assign_shards(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    out_col: str = "shard",
) -> DataFrame:
    """Deterministic shard assignment for training-data loaders:
    ``shard = portable_hash64(key) % n_shards``.

    Hash-based (not round-robin / not zipWithIndex) so the assignment
    is stable under corpus reorderings, appends, and partial re-runs
    — the property a resumable data loader needs. The md5-based
    portable hash keeps the assignment reproducible outside Spark
    (any engine can recompute a document's shard). Map-side only; the
    downstream ``partitionBy(out_col)`` write is the single shuffle.
    """
    from pos_api_pipeline_spark.llm.dedup import portable_hash64

    h = portable_hash64(F.col(key_col).cast("string"))
    return df.withColumn(out_col, (h % F.lit(n_shards)).cast("int"))


def select_by_token_budget(
    df: DataFrame,
    budget_tokens: int,
    score_col: str,
    token_col: str,
    id_col: str = "doc_id",
    n_bins: int = 1000,
    score_lo: float = -1.0,
    score_hi: float = 1.0,
    max_edge_rows: int = 100_000,
    max_refine: int = 4,
) -> DataFrame:
    """Budgeted data selection: keep the best-scored documents, in
    (score desc, id asc) order, while the running token total stays
    within ``budget_tokens`` — the "top N tokens of the corpus by
    quality" cut every curated training run makes.

    EXACTLY the greedy global-order selection, WITHOUT a global sort:

    1. one aggregation bins scores into ``n_bins`` fixed-width bins
       over [score_lo, score_hi] (clamped at the edges) and sums
       tokens per bin — n_bins rows to the driver;
    2. the driver prefix-sums bins from the top to find the boundary
       bin: every bin strictly above it fits in budget whole;
    3. rows above the boundary bin pass with a map-only filter; ONLY
       the boundary bin's rows run the running-total window, against
       the leftover budget.

    A boundary bin holding more than ``max_edge_rows`` rows (scores
    concentrated in one bin — coarse classifier outputs do this) is
    REFINED instead of windowed: re-bin over the bin's observed
    [min_score, max_score] and repeat, up to ``max_refine`` rounds.
    When the boundary bin is a pure score TIE (min == max — refining
    on score can never split it), refinement switches to binning on
    a numeric ``id_col``: within equal scores the greedy order is id
    ascending, so id bins are walked from the BOTTOM and are
    order-homomorphic the same way. Each round is one cheap
    aggregation over an already-shrunk set; the final window runs
    over at most ``max_edge_rows`` rows unless the corpus defeats
    every round (non-numeric ids with massive score ties — the
    window then gets the smallest set refinement reached).

    Window work is confined to one (refined) bin instead of the
    corpus — the 100 TB shape for "take the top X tokens".
    Equivalence to the global-order greedy holds because fixed-width
    bins are order-homomorphic: bin(a) > bin(b) implies
    score(a) > score(b) (clamped outliers only ever JOIN an edge
    bin, never jump past one).

    Selection semantics: the MAXIMAL PREFIX of the order whose
    running token total fits the budget — the first document that
    would overflow ends the selection (no skip-and-continue
    knapsack). Deterministic, and replayable as one running-total
    window in SQL.
    """
    s = F.col(score_col)
    numeric_id = isinstance(
        df.schema[id_col].dataType, _NUMERIC_ID_TYPES
    )
    # Integral ids get an exact long/DIV binning path: casting a
    # 64-bit id to double collapses distinct ids above 2^53 to equal
    # doubles, which silently disables tie refinement (_ilo == _ihi)
    # and hands the final window a bin that can dwarf max_edge_rows.
    # DECIMAL(p≤18, s=0) — integral in practice, the shape JDBC /
    # bigint sources commonly deliver — fits a long exactly, so it
    # takes the same exact path (r11, ADVICE). Fractional/wider
    # decimals keep the double path (a float id axis above 2^53
    # retains the documented precision caveat).
    _id_type = df.schema[id_col].dataType
    integral_id = isinstance(
        _id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ) or (
        isinstance(_id_type, T.DecimalType)
        and _id_type.scale == 0
        and _id_type.precision <= 18
    )
    above_parts: list[DataFrame] = []
    edge = df
    remaining = budget_tokens
    # (key expression, lo, hi, walk-descending?, integer-axis?) of
    # the current refinement axis. Score bins are walked top-down
    # (best first); id bins bottom-up (within a score tie the order
    # is id asc). axis_int marks the exact long-arithmetic id path.
    key, lo, hi, desc, axis_int = s, float(score_lo), float(score_hi), True, False
    for _ in range(1 + max_refine):
        if axis_int:
            # Exact integer bins: ceil-width ≥ 1 (the axis only
            # switches when lo < hi), offset + DIV stay in longs —
            # no double round-trip, so ids above 2^53 still split.
            width = ((hi - lo + 1) + n_bins - 1) // n_bins
            binned = (
                edge.withColumn(
                    "_koff", key.cast("long") - F.lit(lo).cast("long")
                )
                .withColumn(
                    "_bin",
                    F.least(
                        F.lit(n_bins - 1),
                        F.greatest(
                            F.lit(0),
                            F.expr(f"CAST(_koff DIV {width} AS INT)"),
                        ),
                    ),
                )
                .drop("_koff")
            )
        else:
            width = (hi - lo) / n_bins
            if width <= 0:
                break
            bin_of = F.least(
                F.lit(n_bins - 1),
                F.greatest(
                    F.lit(0),
                    F.floor((key.cast("double") - F.lit(lo)) / F.lit(width)),
                ),
            ).cast("int")
            binned = edge.withColumn("_bin", bin_of)
        per_bin = {
            r["_bin"]: r
            for r in binned.groupBy("_bin")
            .agg(
                F.sum(token_col).alias("_toks"),
                F.count(F.lit(1)).alias("_cnt"),
                F.min(s).alias("_slo"),
                F.max(s).alias("_shi"),
                # id bounds only matter for the tie-refinement axis;
                # casting a non-numeric string id would THROW under
                # ANSI, so non-numeric ids contribute null bounds.
                F.min(
                    F.col(id_col).cast("long")
                    if integral_id
                    else F.col(id_col).cast("double")
                    if numeric_id
                    else F.lit(None).cast("double")
                ).alias("_ilo"),
                F.max(
                    F.col(id_col).cast("long")
                    if integral_id
                    else F.col(id_col).cast("double")
                    if numeric_id
                    else F.lit(None).cast("double")
                ).alias("_ihi"),
            )
            .collect()
        }
        boundary = None
        for b in sorted(per_bin, reverse=desc):
            if per_bin[b]["_toks"] <= remaining:
                remaining -= per_bin[b]["_toks"]
            else:
                boundary = b
                break
        if boundary is None:
            above_parts.append(edge)
            edge = None
            break
        fits = (
            F.col("_bin") > boundary if desc else F.col("_bin") < boundary
        )
        above_parts.append(binned.filter(fits).drop("_bin"))
        edge = binned.filter(F.col("_bin") == boundary).drop("_bin")
        row = per_bin[boundary]
        if row["_cnt"] <= max_edge_rows:
            break
        if row["_slo"] < row["_shi"]:
            key, lo, hi, desc, axis_int = (
                s, float(row["_slo"]), float(row["_shi"]), True, False
            )
        elif numeric_id and row["_ilo"] < row["_ihi"]:
            # pure score tie: order inside is id asc — refine on id
            # (exact long bins for integral id types, double bins
            # with the 2^53 caveat for fractional/decimal ids)
            key, lo, hi, desc, axis_int = (
                F.col(id_col),
                int(row["_ilo"]) if integral_id else float(row["_ilo"]),
                int(row["_ihi"]) if integral_id else float(row["_ihi"]),
                False,
                integral_id,
            )
        else:
            break  # unsplittable (single id, or non-numeric ids)
    if edge is None and len(above_parts) == 1 and above_parts[0] is df:
        return df  # whole corpus fit in the first pass
    parts = None
    for p in above_parts:
        parts = p if parts is None else parts.unionByName(p)
    if edge is None:
        return parts
    # Degenerate bounds (score_lo == score_hi, or reversed) never
    # enter the loop: above_parts is empty and the window runs over
    # the whole input against the full budget — the plain fallback.
    w = Window.orderBy(s.desc(), F.col(id_col).asc())
    # Single-partition window, but over one REFINED bin (bounded by
    # max_edge_rows except in the documented degenerate case), not
    # the corpus — that confinement is the whole point.
    edge_kept = (
        edge.withColumn("_cum", F.sum(token_col).over(w))
        .filter(F.col("_cum") <= F.lit(remaining))
        .drop("_cum")
    )
    return edge_kept if parts is None else parts.unionByName(edge_kept)


def weighted_sample_without_replacement(
    df: DataFrame,
    k: int,
    weight_col: str,
    strata_col: str | None = None,
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Efraimidis–Spirakis A-ES weighted sampling WITHOUT replacement:
    each row draws priority u^(1/w) for a uniform u and weight w; the
    top-``k`` priorities (per stratum when ``strata_col`` is given)
    are exactly a weighted sample without replacement. The
    distributed-friendly classic: one pass, no sequential draws — a
    top-k per group instead of k dependent selection rounds.

    u comes from the portable md5 hash of (key, seed), so the sample
    is a deterministic property of the data (rerun/retry-stable,
    engine-reproducible). Ranking uses ln(u)/w — monotone in
    u^(1/w) — with ln rounded to 6 dp so both engines order
    identically even at the last ulp (ties break on the row key).

    Rows with weight <= 0 or null never qualify. Shape: map-only
    priority + one top-k (window per stratum, or TakeOrderedAndProject
    globally) — the same cost as any top-k.
    """
    u = (_sample_key(F.col(key_col), seed) + 1).cast("double") / F.lit(
        float(_HASH_SPACE)
    )
    pri = F.round(F.log(u), 6) / F.col(weight_col)
    eligible = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("_pri", pri)
    if strata_col is None:
        out = eligible.orderBy(F.desc("_pri"), F.asc(key_col)).limit(k)
    else:
        w = Window.partitionBy(strata_col).orderBy(
            F.desc("_pri"), F.asc(key_col)
        )
        out = (
            eligible.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )
    return out.drop("_pri")


# ---------------------------------------------------------------------------
# DSIR — data selection via importance resampling (Xie et al. 2023,
# arXiv:2302.03169): hashed n-gram bucket distributions for a TARGET
# corpus vs the RAW pool give every raw document an importance
# log-weight; Gumbel-top-k on the weights is the resample.
# ---------------------------------------------------------------------------


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """Per-raw-document DSIR importance log-weight
    log p_target(doc)/p_raw(doc) under hashed-unigram bag-of-words
    models: tokens hash (portable md5) into ``n_buckets`` buckets,
    each corpus's bucket distribution is add-1 smoothed, and a doc's
    log-weight is Σ_tokens log-ratio of its buckets.

    Shape: two explode→count partial-agg passes (one per corpus).
    The raw corpus's bucket distribution is a SUM WINDOW over the
    bucket partition of its own per-(doc, bucket) counts — a
    groupBy-then-rejoin would re-evaluate the raw explode tree
    (lambda plans never get a ReusedExchange). The target bucket
    table is ≤ n_buckets rows by construction, so it broadcasts
    explicitly; corpus token totals ride as lazy one-row broadcasts
    computed by map-only ``size(tokens)`` projections.

    Determinism across engines: the log-ratio is rounded to 6 dp and
    accumulated as DECIMAL per document (the unigram_logprob
    discipline), so the DuckDB oracle reproduces weights
    bit-for-bit. Output: (id, n_tokens, log_weight) — higher means
    more target-like.
    """
    from pos_api_pipeline_spark.llm.text import tokens

    def bucket_tf(df: DataFrame, with_id: bool):
        toks = F.transform(tokens(text_col), lambda t: F.lower(t))
        cols = [F.col(id_col).alias("id")] if with_id else []
        rows = df.select(*cols, F.explode_outer(toks).alias("term"))
        if not with_id:
            rows = rows.filter(F.col("term").isNotNull())
        b = F.pmod(portable_hash64(F.col("term")), F.lit(n_buckets))
        keys = (["id"] if with_id else []) + ["b"]
        # With an id the explode_outer NULL row (empty/null token
        # array) is KEPT: it lands in bucket NULL with tf =
        # count(term) = 0, which is how zero-token docs survive to
        # the output without a corpus-scale join-back (r12) — the
        # null bucket matches nothing in the target join and
        # contributes tf·lr = 0 to the weight sum.
        # count("b") — null for exactly the null-term row — so the
        # null bucket's tf is 0, not 1.
        return rows.select(*(["id"] if with_id else []), b.alias("b")).groupBy(
            *keys
        ).agg(F.count("b").alias("tf"))

    def tok_total(df: DataFrame, name: str):
        toks = F.transform(tokens(text_col), lambda t: F.lower(t))
        return df.select(F.size(toks).alias("n")).agg(
            F.sum(
                F.when(F.col("n") > 0, F.col("n")).otherwise(F.lit(0))
            ).alias(name)
        )

    from pyspark.sql import Window

    raw_tf = bucket_tf(raw, with_id=True)
    cwd = raw_tf.withColumn("cr", F.sum("tf").over(Window.partitionBy("b")))
    tgt_b = bucket_tf(target, with_id=False).withColumnRenamed("tf", "ct")
    raw_tot = tok_total(raw, "_tr")
    tgt_tot = tok_total(target, "_tt")
    # add-1 smoothing over the bucket space: buckets the target never
    # saw still get a finite (negative) ratio instead of -inf.
    lr = (
        F.round(
            F.log(
                (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("_tt") + F.lit(n_buckets)).cast("double")
            )
            - F.log(
                (F.col("cr") + F.lit(1)).cast("double")
                / (F.col("_tr") + F.lit(n_buckets)).cast("double")
            ),
            6,
        )
        .cast("decimal(28,6)")
    )
    agg = (
        cwd.join(F.broadcast(tgt_b), "b", "left")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .withColumn("lr", lr)
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("lr")).alias("_slw"),
        )
    )
    # Zero-token docs ride through the aggregation as their null-
    # bucket tf=0 row (see bucket_tf), so no join back to the corpus
    # is needed to restore them (r12; was a corpus-scale
    # SortMergeJoin + one extra scan). Their weight is NULL by
    # contract — tf=0 makes the decimal sum 0, not NULL, so null it
    # explicitly on the n_tokens==0 condition.
    return agg.select(
        F.col("id").alias(id_col),
        F.col("n_tokens"),
        F.when(F.col("n_tokens") > 0, F.col("_slw"))
        .cast("double")
        .alias("log_weight"),
    )


def dsir_resample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    seed: int = 0,
) -> DataFrame:
    """DSIR selection: Gumbel-top-k over the importance log-weights —
    sampling k docs WITHOUT replacement with probability ∝ exp(log
    weight), as one deterministic top-k (the Gumbel-max trick; same
    A-ES family as weighted_sample_without_replacement).

    The Gumbel noise g = −ln(−ln u) uses the portable md5 uniform of
    (id, seed), rounded to 6 dp and added to the weight in DECIMAL,
    so selection is a reproducible property of the data on any
    engine. Docs with no tokens (null weight) never qualify.

    Output: the selected (id, n_tokens, log_weight, gumbel_key) rows,
    ranked."""
    w = dsir_log_weights(raw, target, text_col, id_col, n_buckets)
    u = (_sample_key(F.col(id_col), seed) + 1).cast("double") / F.lit(
        float(_HASH_SPACE)
    )
    # u spans (0, 1]; at exactly u=1 (hash 2^60-1, p≈2^-60 per doc)
    # −ln(−ln u) is +inf and the decimal cast would throw under ANSI.
    # The largest FINITE key is ≈41.58 (u = 1−2^-60), so a least()
    # against 50 touches only the infinite case; the oracle SQL
    # carries the same clamp. (Dividing by _HASH_SPACE+1 instead is
    # a no-op in doubles: float(2^60+1) == 2^60.)
    g = F.least(F.round(-F.log(-F.log(u)), 6), F.lit(50.0)).cast(
        "decimal(28,6)"
    )
    keyed = w.filter(F.col("log_weight").isNotNull()).withColumn(
        "gumbel_key",
        (F.col("log_weight").cast("decimal(28,6)") + g).cast("double"),
    )
    return (
        keyed.orderBy(F.desc("gumbel_key"), F.asc(id_col))
        .limit(k)
        .select(id_col, "n_tokens", "log_weight", "gumbel_key")
    )


def temperature_mixture_rates(
    df: DataFrame,
    strata_col: str,
    total: int,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled mixture (the multilingual-LM sampling rule,
    Conneau & Lample 2019): stratum s is sampled with probability
    ∝ p_s^alpha where p_s is its empirical share — alpha<1 upsamples
    the tail (low-resource languages), alpha=1 is proportional,
    alpha=0 uniform. Weights derive FROM the corpus (unlike
    ``mixture_rates``' explicit dict), so the op is one count
    aggregate + one tiny renormalization over the per-stratum frame.

    Determinism across engines: pow() is rounded to 6 dp before the
    renormalization, and every later value derives from those rounded
    weights — the ln()/log() discipline, applied to pow. Output:
    (stratum, n_rows, share, weight, target_n, rate), rate capped at
    1.0 (undersized strata contribute everything — no silent
    upsampling)."""
    # localCheckpoint (r12, guide §3.3): the per-stratum count frame
    # (≤ #strata rows) has three consumers — the total, the weight
    # renormalizer and the output — and each re-ran the corpus scan +
    # groupBy (ReusedExchange does not fire across the differently-
    # pruned branches). One corpus pass, then stratum-frame algebra.
    counts = (
        df.filter(F.col(strata_col).isNotNull())
        .groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .localCheckpoint()
    )
    tot = counts.agg(F.sum("n_rows").alias("_N"))
    weighted = counts.crossJoin(F.broadcast(tot)).select(
        F.col(strata_col),
        "n_rows",
        (F.col("n_rows").cast("double") / F.col("_N")).alias("share"),
        F.round(
            F.pow(F.col("n_rows").cast("double") / F.col("_N"), alpha), 6
        ).alias("weight"),
    )
    # Decimal-exact renormalizer: the weights are exact 6-dp values,
    # so summing them as DECIMAL is order-independent (a double sum
    # here drifts in the last ulp between engines/partitionings).
    wsum = weighted.agg(
        F.sum(F.col("weight").cast("decimal(18,6)"))
        .cast("double")
        .alias("_W")
    )
    return weighted.crossJoin(F.broadcast(wsum)).select(
        F.col(strata_col),
        "n_rows",
        "share",
        "weight",
        (F.lit(float(total)) * F.col("weight") / F.col("_W")).alias(
            "target_n"
        ),
        F.least(
            F.lit(1.0),
            F.lit(float(total))
            * F.col("weight")
            / F.col("_W")
            / F.col("n_rows"),
        ).alias("rate"),
    )


def unimax_allocation(
    df: DataFrame,
    strata_col: str,
    size_col: str,
    budget_frac: float = 0.5,
    max_epochs: float = 2.0,
) -> DataFrame:
    """UniMax corpus budget allocation (Chung et al. 2023): spread a
    token budget as uniformly as possible across strata (languages),
    capping any stratum at ``max_epochs`` passes over its data — the
    principled alternative to temperature sampling for multilingual
    mixes (no head-language overfitting, no tail starvation).

    UniMax's sequential loop (ascending corpus size: give each
    language min(cap, remaining/left)) is exactly water-filling, so
    it has a closed form: allocation_i = min(cap_i, t) where the
    water level t solves sum_i min(cap_i, t) = B. With caps sorted
    ascending, t = (B - prefix_j)/(n - j + 1) at the first rank j
    whose cap reaches it. That form is pure window algebra — no
    driver loop, no iteration.

    Scale shape: the groupBy is the only pass over data; the
    water-filling windows run over the per-stratum frame (a few
    hundred languages/domains at most), so the single-partition
    window is over an inherently tiny aggregate, not the corpus.

    A stratum's units are the sum of its rows' ``size_col`` (e.g.
    characters or tokens). Budget is
    ``floor(budget_frac * total_units + 0.5)`` — derived
    from the corpus so the op is scale-free. Determinism: budget and
    sizes are exact BIGINTs; caps/levels are IEEE doubles computed in
    the identical expression shape on both engines; outputs rounded
    (allocation 4 dp, epochs 6 dp) before emission.

    Output: (stratum, n_units, cap, allocation, epochs), ascending
    cap order — capped strata show epochs == max_epochs, uncapped
    share the water level.
    """
    counts = (
        df.filter(F.col(strata_col).isNotNull())
        .groupBy(strata_col)
        .agg(F.sum(size_col).cast("long").alias("n_units"))
    )
    # One corpus pass: the tiny per-stratum frame feeds both the
    # budget scalar and the water-filling windows (r12, guide §3.3 —
    # same rationale as temperature_mixture_rates above).
    counts = counts.localCheckpoint()
    tot = counts.agg(
        F.floor(
            F.sum("n_units").cast("double") * F.lit(budget_frac) + F.lit(0.5)
        )
        .cast("long")
        .alias("_B")
    )
    cap = (F.col("n_units").cast("double") * F.lit(max_epochs)).alias("cap")
    w = Window.orderBy("cap", strata_col)
    wfull = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = (
        counts.crossJoin(F.broadcast(tot))
        .select(strata_col, "n_units", "_B", cap)
        .select(
            strata_col,
            "n_units",
            "_B",
            "cap",
            F.row_number().over(w).alias("_j"),
            F.coalesce(
                F.sum("cap").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0.0),
            ).alias("_prefix"),
            F.count(F.lit(1)).over(wfull).alias("_n_s"),
        )
        .withColumn(
            "_t_j",
            (F.col("_B") - F.col("_prefix"))
            / (F.col("_n_s") - F.col("_j") + 1),
        )
        .withColumn(
            "_jstar",
            F.min(
                F.when(F.col("cap") >= F.col("_t_j"), F.col("_j"))
            ).over(wfull),
        )
        .withColumn(
            "_tstar",
            F.min(
                F.when(F.col("_j") == F.col("_jstar"), F.col("_t_j"))
            ).over(wfull),
        )
    )
    alloc = F.when(F.col("_tstar").isNull(), F.col("cap")).otherwise(
        F.least(F.col("cap"), F.col("_tstar"))
    )
    return staged.select(
        strata_col,
        "n_units",
        F.round("cap", 4).alias("cap"),
        F.round(alloc, 4).alias("allocation"),
        F.round(alloc / F.col("n_units"), 6).alias("epochs"),
    ).orderBy("cap", strata_col)
