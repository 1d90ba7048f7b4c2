"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k with native array arithmetic
(zip_with product + aggregate sum — JVM-side, no UDF). Scale path:
random-hyperplane LSH bucketing with fixed deterministic planes so
only same-bucket vectors are compared; and an IVF-style coarse
quantizer built from deterministic seed centroids.

At 100 TB the pattern is: broadcast the (small) query set, compute
partial top-k per partition (TakeOrderedAndProject after a window
rank), never materialize the full similarity matrix.

Each bit-parity decision the DuckDB oracles replay is written once and
every index variant calls it: the cosine operand order
(``_cos_normed``), the per-query ``(score, neighbor_id asc)`` rank
(``_top_k_per_query``), the subspace-ordered ADC fold
(``_adc_top_k``), the recall@k hit share (``recall_at_k``) and the
lowest-id over-cap representative (``_split_over_cap``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pos_api_pipeline_spark.llm.dedup import (
    DEFAULT_MAX_BUCKET,
    _capped_bucket_pairs,
    _exploded_id_pairs,
    _exploded_member_pairs,
    _cap_guard_needed,
    _replica_groups,
    _resolve_collapse,
)
from pos_api_pipeline_spark.session import local_frame


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def _cos_normed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine of ``a`` and ``b`` given their norms: one dot fold, then
    ``/ (na * nb)``. Every cosine in this module is this expression in
    this operand order — the order the DuckDB oracles replay — so the
    inline form (``cosine``), norms hoisted below a join and norms
    carried in member structs all score bit-identically."""
    return _dot(a, b) / (na * nb)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two double-array columns."""
    return _cos_normed(a, b, _norm(a), _norm(b))


def as_double_array(col: str) -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


# (id, vector, norm) column names of the two sides a search pairs up.
_QUERY = ("query_id", "qvec", "_qn")
_CORPUS = ("neighbor_id", "cvec", "_cn")


def _normed_side(
    df: DataFrame, side: tuple[str, str, str], id_col: str, vec: Column,
    *extra: Column,
) -> DataFrame:
    """``df`` as one side of a search: id and vector under ``side``'s
    names, ``extra`` columns between them, and the vector's norm. The
    norm is folded here, below the join (a join child is a real
    materialization barrier, unlike a projection), once per row — an
    inline ``cosine()`` re-folds both norms per candidate PAIR."""
    id_alias, vec_alias, norm_alias = side
    return df.select(
        F.col(id_col).alias(id_alias), *extra, vec.alias(vec_alias)
    ).select("*", _norm(F.col(vec_alias)).alias(norm_alias))


def _pair_cosine() -> Column:
    """Cosine of a joined query-side x corpus-side row over the two
    hoisted norms."""
    return _cos_normed(F.col("qvec"), F.col("cvec"), F.col("_qn"), F.col("_cn"))


def _exact_scored(corpus: DataFrame, queries: DataFrame, score: str) -> DataFrame:
    """Every (corpus row, query) pair of two normed sides except self
    pairs, with its cosine as ``score``. The query set is broadcast, so
    the corpus never shuffles."""
    return (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(score, _pair_cosine())
    )


def _top_k_per_query(
    scored: DataFrame, k: int, by: Column, cols: list, tie: str = "neighbor_id"
) -> DataFrame:
    """Each query's first ``k`` rows ordered by ``by``, ties to the
    lowest ``tie``, numbered 1..k as ``rank``; then ``cols``. Only the
    candidate rows move in the rank exchange, and the window partitions
    by query_id so each query ranks independently. row_number, not
    rank, so a tie never returns more than k rows, and the tie order
    makes the rows the oracles replay deterministic."""
    w = Window.partitionBy("query_id").orderBy(by, F.asc(tie))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*cols)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against the corpus,
    rank per query, keep k.

    Output: (query_id, neighbor_id, cosine, rank). Ties broken by
    neighbor id for determinism. The corpus is never shuffled.
    """
    q = _normed_side(queries, _QUERY, id_col, as_double_array(vec_col))
    c = _normed_side(corpus, _CORPUS, id_col, as_double_array(vec_col))
    return _top_k_per_query(
        _exact_scored(c, q, "cosine"), k, F.desc("cosine"),
        ["query_id", "neighbor_id", "cosine", "rank"],
    )


# Deterministic pseudo-random hyperplanes: plane p, dim d component =
# a fixed affine-hash pattern in {-1, +1}. Shared by build and query
# sides; portable to any engine (the DuckDB oracles embed the same
# sign arrays as SQL literals).
def _plane_sign(p: int, d: int) -> int:
    v = (1103515245 * (p * 997 + d) + 12345) % 2147483648
    return 1 if (v >> 16) & 1 else -1


def planes_for_corpus(n_vectors: int, target_bucket_size: int = 64) -> int:
    """Plane count scaled to the corpus: ~log2(n / target bucket
    size), clamped to [4, 24]. At 100× the corpus the per-bucket
    population stays ~constant (each extra plane halves it), so the
    in-bucket quadratic work never dominates — the fix for the
    fixed-64-bucket regime flagged in VERDICT r01."""
    import math

    if n_vectors <= target_bucket_size:
        return 4
    return max(4, min(24, math.ceil(math.log2(n_vectors / target_bucket_size))))


def centroids_for_corpus(
    n_vectors: int, target_cluster_size: int = 256
) -> int:
    """Centroid count scaled to the corpus: ceil(n / target cluster
    size), clamped to [4, 2^20] — the coarse-quantizer twin of
    ``planes_for_corpus``. Keeping per-cluster population ~constant
    as the corpus grows is what bounds SemDeDup's and IVF's
    in-cluster work: SemDeDup at corpus scale runs ~100k clusters so
    each holds a few hundred vectors, and IVF probe cost is
    n_probe/n_centroids of the corpus. ``semantic_dedup`` uses this
    when ``n_centroids`` is None (one count()
    of the corpus — model-selection state, same cost class as a
    KMeans fit); callers with a known corpus size can call it
    directly and stay fully lazy."""
    import math

    if n_vectors <= target_cluster_size:
        return 4
    return max(4, min(1 << 20, math.ceil(n_vectors / target_cluster_size)))


def _bucket_expr(
    vec_name: str, dim: int, n_planes: int, table: int
) -> Column:
    """Random-hyperplane LSH bucket id of the named vector column:
    bit p = sign(vec · plane_p), so cosine-similar vectors land in the
    same bucket with high probability and the id is an integer join
    key. ``table`` selects a disjoint plane set (planes
    table*n_planes .. table*n_planes+n_planes-1) so independent tables
    can be OR-ed for recall. Built as ONE parsed SQL expression, once
    per (name, dim, planes, table) per context (see llm.exprcache:
    construction measured ~2 s per banded query)."""
    from pos_api_pipeline_spark.llm.exprcache import memo_expr

    def build() -> Column:
        parts = []
        for p in range(n_planes):
            arr = ",".join(
                f"{float(_plane_sign(table * n_planes + p, d))}D"
                for d in range(dim)
            )
            proj = (
                f"aggregate(zip_with(`{vec_name}`, array({arr}), "
                f"(x, y) -> x * y), cast(0.0 as double), "
                f"(acc, v) -> acc + v)"
            )
            parts.append(
                f"(CASE WHEN {proj} > 0 THEN cast({1 << p} as bigint) "
                f"ELSE cast(0 as bigint) END)"
            )
        return F.expr("(" + " | ".join(parts) + ")")

    return memo_expr(("bucket", vec_name, dim, n_planes, table), build)


def _multi_table_buckets(
    df: DataFrame, vec_alias: str, dim: int, n_planes: int, n_tables: int
) -> DataFrame:
    """Explode each vector into one row per LSH table with that
    table's bucket id. The join key becomes (table, bucket); matching
    in ANY table makes a candidate — OR-ed tables trade one extra
    explode row per table for exponentially better recall (P(miss) =
    (1 - s^n_planes)^n_tables for bit-agreement probability s)."""
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                _bucket_expr(vec_alias, dim, n_planes, table=t).alias(
                    "bucket"
                ),
            )
            for t in range(n_tables)
        ]
    )
    return df.select("*", F.explode(tables).alias("_tb")).select(
        *df.columns, F.col("_tb.tbl").alias("tbl"), F.col("_tb.bucket").alias("bucket")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 3,
) -> DataFrame:
    """Approximate top-k: compare only vectors sharing a hyperplane
    bucket in at least one of ``n_tables`` independent plane tables
    (banding — OR of AND-ed plane agreements, exactly the MinHash
    band construction). Recall < 1 by construction; each table's
    candidate set shrinks ~2^n_planes-fold, which is the entire point
    at scale (equi-join on (table, bucket) instead of a cross join).
    Scale n_planes with ``planes_for_corpus`` to keep per-bucket
    population constant as the corpus grows; add tables to buy back
    recall."""
    q = _multi_table_buckets(
        _normed_side(queries, _QUERY, id_col, as_double_array(vec_col)),
        "qvec",
        dim,
        n_planes,
        n_tables,
    )
    c = _multi_table_buckets(
        _normed_side(corpus, _CORPUS, id_col, as_double_array(vec_col)),
        "cvec",
        dim,
        n_planes,
        n_tables,
    )
    # Distinct BEFORE scoring: a pair can meet in several tables;
    # dedup on ids only, so each candidate's cosine is computed once.
    cand = (
        c.join(F.broadcast(q), on=["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qvec", "_qn", "neighbor_id", "cvec", "_cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _top_k_per_query(
        cand.withColumn("cosine", _pair_cosine()), k, F.desc("cosine"),
        ["query_id", "neighbor_id", "cosine", "rank"],
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """Train coarse centroids with MLlib KMeans (fixed seed) and
    return them as a (centroid_id, cvec_c) frame for ivf_topk's
    ``centroids`` parameter. At 100 TB: fit on a sample
    (``corpus.sample(...)``) — the returned centroid frame is tiny and
    broadcast either way."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        array_to_vector(as_double_array(vec_col)).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(train)
    spark = corpus.sparkSession
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return local_frame(spark, rows, T.StructType([
        T.StructField("centroid_id", T.IntegerType()),
        T.StructField("cvec_c", T.ArrayType(T.DoubleType())),
    ]))


def deterministic_centroids(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """First-``n_centroids`` corpus vectors by id as a (centroid_id,
    cvec_c) frame — the deterministic, oracle-reproducible stand-in
    for a KMeans fit shared by IVF routing and semantic dedup. Cached:
    centroids are model state consumed by several plan branches, and
    a lazy tiny frame would re-run the take-ordered pass per branch
    (broadcast subplans with differing attribute ids never reuse)."""
    return (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).cast("long").alias("centroid_id"),
            as_double_array(vec_col).alias("cvec_c"),
        )
        .cache()
    )


def assign_nearest_centroids(
    df: DataFrame,
    cents: DataFrame,
    id_alias: str,
    vec_alias: str,
    n: int,
    keep_sim: bool = False,
) -> DataFrame:
    """Attach each row's ``n`` nearest centroids (cosine, ties to the
    lowest centroid id). The centroid frame is broadcast — and for
    ``n=1`` (every corpus-side assignment) the argmax is computed
    row-locally over the collected centroid array, so the plan has NO
    exchange at all; ``n>1`` (query-side probing, small inputs) keeps
    the per-id row_number window. ``keep_sim=True`` retains the
    cosine as ``_sim`` (prototypicality consumers). Row and centroid
    norms are hoisted below the join — the inline cosine() re-folded
    the row norm once per CENTROID (n_centroids x per row) and the
    centroid norm once per pair."""
    cents_n = cents.select("*", _norm(F.col("cvec_c")).alias("_ccn"))
    rows = df.select("*", _norm(F.col(vec_alias)).alias("_vn"))
    if n == 1:
        # Nearest-1 is a row-local argmax, not a shuffle: the
        # centroids are broadcast model state either way, so collect
        # them into ONE array row and pick the best per input row
        # with array_max over per-candidate (sim, -centroid_id)
        # structs. The row_number form shuffled the WHOLE input
        # (vector payload included, x n_centroids candidate rows)
        # through an exchange and sorted it; this form has ZERO
        # exchanges (guide 2.4) — at corpus scale that is a full
        # payload shuffle removed per assignment. Ordering parity
        # with the window's (desc _sim, asc centroid_id): struct max
        # compares _sim first (NaN greatest, exactly like desc sort;
        # a null _sim sorts below every number, and an all-null row
        # falls through to the tie-break, like the window's
        # nulls-last desc), then -centroid_id, i.e. ties go to the
        # LOWEST centroid id. Assumes ``df`` ids are unique (every
        # caller's corpus/rep frame is keyed); the window form would
        # additionally collapse duplicate ids, which this form — one
        # output row per INPUT row — does not.
        carr = cents_n.agg(
            F.collect_list(
                F.struct(
                    F.col("centroid_id").alias("cid"),
                    F.col("cvec_c").alias("cv"),
                    F.col("_ccn").alias("cn"),
                )
            ).alias("_cents")
        )
        best = F.array_max(
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    _cos_normed(
                        F.col(vec_alias), c["cv"], F.col("_vn"), c["cn"]
                    ).alias("_s"),
                    (-c["cid"]).alias("_negc"),
                ),
            )
        )
        out_cols = list(df.columns) + [
            (-F.col("_b._negc")).alias("centroid_id")
        ]
        if keep_sim:
            out_cols.append(F.col("_b._s").alias("_sim"))
        return (
            rows.crossJoin(F.broadcast(carr))
            .withColumn("_b", best)
            .select(*out_cols)
        )
    scored = (
        rows.crossJoin(F.broadcast(cents_n))
        .withColumn(
            "_sim",
            _cos_normed(
                F.col(vec_alias), F.col("cvec_c"), F.col("_vn"), F.col("_ccn")
            ),
        )
    )
    w = Window.partitionBy(id_alias).orderBy(
        F.desc("_sim"), F.asc("centroid_id")
    )
    drop = ["cvec_c", "_cr", "_vn", "_ccn"] + ([] if keep_sim else ["_sim"])
    return (
        scored.withColumn("_cr", F.row_number().over(w))
        .filter(F.col("_cr") <= n)
        .drop(*drop)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus against a centroid
    set, search only the ``n_probe`` clusters nearest each query.
    Probe cost is n_probe/n_centroids of the corpus, so scale
    ``n_centroids`` with the corpus (``centroids_for_corpus``) or a
    fixed count degrades toward full scan as the corpus grows.

    ``centroids`` defaults to the first ``n_centroids`` corpus vectors
    by id — deterministic and oracle-friendly; pass
    ``kmeans_centroids(...)`` for trained cells with better recall.
    Assignment is a broadcast cross-join + min-by over n_centroids
    cosines; search joins on cluster id, so the scored candidate set
    is ~n_probe/n_centroids of the corpus.

    The default centroid set is cached: centroids are model state
    (like a fitted KMeans model), consumed by BOTH assignment
    branches, and leaving the 16-row frame lazy made each branch
    re-run the full take-ordered pass over the corpus (broadcast
    subplans with differing attribute ids never reuse). The cache
    entry is n_centroids rows — negligible, evicted LRU.
    """
    cents = (
        centroids
        if centroids is not None
        else deterministic_centroids(corpus, n_centroids, id_col, vec_col)
    )

    def nearest_clusters(df, id_alias, vec_alias, n):
        return assign_nearest_centroids(df, cents, id_alias, vec_alias, n)

    c = _normed_side(corpus, _CORPUS, id_col, as_double_array(vec_col))
    # each corpus vec → 1 cluster; each query → n_probe clusters
    assigned = nearest_clusters(c, "neighbor_id", "cvec", 1)
    q = _normed_side(queries, _QUERY, id_col, as_double_array(vec_col))
    probed = nearest_clusters(q, "query_id", "qvec", n_probe)
    scored = (
        assigned.join(F.broadcast(probed), on="centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _pair_cosine())
    )
    return _top_k_per_query(
        scored, k, F.desc("cosine"), ["query_id", "neighbor_id", "cosine", "rank"]
    )


def _member_cosine(a: Column, b: Column) -> Column:
    """Cosine between two (vec, nrm) member structs."""
    return _cos_normed(a["vec"], b["vec"], a["nrm"], b["nrm"])


def _cos_pair_struct(a: Column, b: Column) -> Column:
    """(id_a, id_b, cosine) pair struct of two (id, vec, nrm)
    members — the pair builder for the embedding family's two-stage
    expansion. One dot fold + a divide per pair (norms precomputed
    per member)."""
    return F.struct(
        a["id"].alias("id_a"),
        b["id"].alias("id_b"),
        _member_cosine(a, b).alias("cosine"),
    )


def _grp_cos_pair_struct(a: Column, b: Column) -> Column:
    """(ids_a, ids_b, cosine, within) group-pair struct of two
    (id, vec, nrm, ids) members — the collapsed (rule-7) twin of
    ``_cos_pair_struct``; within marks self pairs."""
    return F.struct(
        a["ids"].alias("ids_a"),
        b["ids"].alias("ids_b"),
        _member_cosine(a, b).alias("cosine"),
        (a["id"] == b["id"]).alias("within"),
    )


def _grp_self_entries(m: Column) -> Column:
    """Self pairs for groups with 2+ exact-duplicate ids (the
    self_entries hook of dedup._exploded_member_pairs); the cosine
    threshold rides in pair_filter with the cross pairs."""
    return F.filter(
        F.transform(m, lambda g: _grp_cos_pair_struct(g, g)),
        lambda pr: F.size(pr["ids_a"]) > 1,
    )


def _member_buckets(src: DataFrame, keys: list[str], collapsed: bool) -> DataFrame:
    """``src`` rows grouped by ``keys`` into sorted (id, vec, nrm[,
    ids]) member arrays, the norm evaluated row-side; only buckets that
    owe a pair survive: 2+ members or, collapsed, a lone group of 2+
    exact-duplicate ids. The frame is tiny in ROWS but each row carries
    quadratic in-bucket pair work; AQE would coalesce it to 1-2 tasks
    by byte size and serialize that work, so the fan-out is pinned."""
    fields = [
        F.col("id").alias("id"),
        F.col("vec").alias("vec"),
        _norm(F.col("vec")).alias("nrm"),
    ]
    owes = F.size("members") > 1
    if collapsed:
        fields.append(F.col("ids").alias("ids"))
        owes = owes | F.exists("members", lambda g: F.size(g["ids"]) > 1)
    return (
        src.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct(*fields))).alias("members"))
        .filter(owes)
        .repartition(src.sparkSession.sparkContext.defaultParallelism)
    )


def _split_over_cap(
    src: DataFrame, keys: list[str], rep: list[str], max_bucket: int
) -> tuple[DataFrame, DataFrame]:
    """Split ``src`` rows grouped by ``keys`` at the star cap:
    ``(over, under)``. ``over`` holds one row per group of more than
    ``max_bucket`` rows — its keys and its lowest-(id, vec) row's
    ``rep`` fields as ``_rep_<field>``, the star representative —
    from a count + min-struct pre-aggregation (a map-combined shuffle
    of ~1 tiny row per group per task; no members array is built, so
    resident memory is O(1)/row at any group size). ``under`` is
    ``src`` without those groups, by a broadcast anti-join.

    ``over`` is cached: it is model state (hot groups are rare by
    construction) consumed by both the star branch and the anti-join,
    and an uncached tiny frame would re-run the full stats scan per
    consumer (lambda-laden subplans never reuse)."""
    over = (
        src.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("_bn"),
            F.min(F.struct(*rep)).alias("_rep"),
        )
        .filter(F.col("_bn") > max_bucket)
        .select(*keys, *[F.col(f"_rep.{f}").alias(f"_rep_{f}") for f in rep])
        .cache()
    )
    under = src.join(F.broadcast(over.select(*keys)), keys, "left_anti")
    return over, under


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 6,
    n_tables: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    collapse_exact: bool | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed with
    ``n_tables`` OR-ed plane tables (banding): candidate pairs share
    a hyperplane bucket in at least one table, then exact cosine
    filters. Scale n_planes with ``planes_for_corpus`` so buckets
    stay small as the corpus grows; tables buy back the recall the
    extra planes cost.

    ``collapse_exact=None`` (default) auto-picks via the shared
    distinct-ratio probe (``dedup._resolve_collapse`` on the vector
    column — HLL handles array types): measured at sf0.1 the collapse
    COSTS 1.9× on an all-distinct embedding corpus (2.81 vs 1.45 s)
    and WINS ~5× wall on 10-way replica families at sf1. ``True``
    groups EXACT-duplicate vectors before
    any pair work — the standard first stage of every near-dup
    pipeline: crawled corpora are full of byte-identical documents,
    and computing the same cosine for every replica pair is O(r^2)
    redundant work per duplicate family (a 10x-replicated corpus pays
    100x the distinct-grain cost; measured 5x wall at sf1). Pair
    enumeration then runs at distinct-vector grain with each group's
    sorted id list riding inside the member struct (single corpus
    scan, no rejoin), and surviving group pairs expand back to id
    pairs at the very end. Scores are bit-identical to the
    uncollapsed form: replicas share one vector, so every expanded
    pair inherits exactly the cosine the direct pair would compute.

    Hot-bucket guard (``max_bucket``, None disables): buckets over
    the cap emit star pairs against the lowest-id representative
    (linear, components rejoin under connected components) — with
    collapse the cap counts DISTINCT vectors, so a mega-bucket of
    replicas collapses to one group instead of tripping the cap.

    .. versionchanged:: round 12
       Over-cap buckets are ROW-GRAIN in BOTH arms: the star set is
       computed by broadcasting each over-cap bucket's (rep id, rep
       vec — plus the rep's replica-id list in the collapsed arm,
       whose star group pairs and per-group self pairs feed the
       shared _exploded_id_pairs tail) from a tiny count+min
       pre-aggregation and filtering members by a per-row cosine —
       no members array is ever built for them, so resident memory
       is O(1)/row at ANY bucket size
       (the array form's unspillable aggregation buffer measured an
       OOM between 600k and 1.2M vector members at 16g,
       BENCH_megastar_embedding_r12.json; the row-grain form clears
       1.2M+). Pair values are bit-identical: both forms score with
       ``_cos_normed`` with the rep on the left. The guard's stats
       pre-aggregation is skipped entirely when the collapse probe's
       full-corpus pass proves no bucket can be over-cap
       (``dedup._cap_guard_skippable`` — exact rows bound the
       uncollapsed arm, HLL distinct × 1.25 the collapsed arm;
       measured 1.32× idle cost on sf10 semantic_dedup,
       AB_sf10_semantic_dedup_r12.json); sampled-only probes and
       pinned ``collapse_exact`` never certify, so the guard stays
       wherever nothing proves it empty.
    The same linear guard applies at expansion grain: a self group
    over the cap emits star id pairs, and a cross-group pair whose
    id fan-out exceeds the cap emits the two stars (a0 x B) U
    (A x b0) instead of the full A x B product."""
    collapse_exact, probe_stats = _resolve_collapse(
        df, vec_col, collapse_exact
    )
    # The probe's full-corpus pass (when one ran) can prove the
    # over-cap guard empty — skip its stats pre-aggregation then,
    # restoring the r11 plan bit-identically (see
    # dedup._cap_guard_skippable; measured 1.32x on sf10
    # semantic_dedup, AB_sf10_semantic_dedup_r12.json).
    guard = _cap_guard_needed(probe_stats, max_bucket)
    base = df.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("vec")
    )
    keys = ["tbl", "bucket"]
    if not collapse_exact:
        v = _multi_table_buckets(base, "vec", dim, n_planes, n_tables)
        # Over-cap buckets take a ROW-GRAIN star path (r12): members
        # here carry the full dim-double vector, so even ONE
        # collect_list'd members array for a mega-bucket is a
        # ~0.5 GB/1M-members aggregation-buffer row that cannot
        # spill (HashAggregate spills BETWEEN groups, never inside
        # one group's buffer) — measured OOM at 16g between 600k and
        # 1.2M members (BENCH_megastar_embedding_r12.json), where
        # the text family's string members ride to 3M+. The star
        # output is linear, so no array is needed at all: split the
        # over-cap buckets off (``_split_over_cap``) and compute each
        # member's cosine against its bucket representative per ROW
        # (O(1) resident, any bucket size). Under-cap buckets keep
        # the exact r11 array plan. Costs one extra corpus-lineage
        # scan (the stats pass) — at scale a columnar (id, vec)
        # projection — and buys an unbounded mega-bucket regime; the
        # wide members shuffle it rides next to is unchanged.
        big_pairs = None
        if guard(False):
            # Plan-shape choice, measured not guessed: a window over
            # the same (tbl, bucket) clustering would let both
            # branches share one shuffle ONLY via ReuseExchange, and
            # the lambda-bearing bucket expressions below the
            # exchange defeat plan canonicalization (the same reason
            # the pair enumeration is bucket-pair form, not a
            # self-join) — measured as a SECOND full-width shuffle +
            # sort. The stats pre-aggregation instead costs two
            # extra (id, vec) COLUMNAR SCANS (stats + big branch)
            # and shuffles ~one tiny min/count row per bucket per
            # task; at scale an extra 2-column parquet scan is far
            # cheaper than an extra corpus-wide shuffle. Locked in
            # test_plans.py (embedding_near_dups = 3 scans, both
            # stats joins broadcast).
            over_stats, under = _split_over_cap(
                v, keys, ["id", "vec"], max_bucket
            )
            # The rep is the left operand, as in _cos_pair_struct, so
            # a pair meeting a small bucket in one table and a mega
            # bucket in another dedups bit-exactly in the distinct
            # below.
            big_pairs = (
                v.join(F.broadcast(over_stats), keys)
                .filter(F.col("id") != F.col("_rep_id"))
                .select(
                    F.col("_rep_id").alias("id_a"),
                    F.col("id").alias("id_b"),
                    cosine(F.col("_rep_vec"), F.col("vec")).alias("cosine"),
                )
                .filter(F.col("cosine") >= threshold)
            )
            v = under
        # Bucket-pair form, not a self-join on bucket: lambda-bearing
        # plans defeat exchange reuse, so the join would scan +
        # re-hash the corpus once per side. A pair meeting in several
        # tables is deduped after the explode (cosine is bit-identical
        # across tables — same fold over the same doubles).
        # Two-stage expansion with the cosine computed in the pair
        # builder and the threshold applied in-array (see
        # dedup._exploded_member_pairs): survivors-only explode,
        # resident O(bucket).
        pairs = _exploded_member_pairs(
            _member_buckets(v, keys, False),
            max_bucket=max_bucket,
            pair_builder=_cos_pair_struct,
            pair_filter=lambda pr: pr["cosine"] >= threshold,
        ).select(
            F.col("p.id_a").alias("id_a"),
            F.col("p.id_b").alias("id_b"),
            F.col("p.cosine").alias("cosine"),
        )
        if big_pairs is not None:
            pairs = pairs.unionByName(big_pairs)
        return pairs.distinct()
    v = _multi_table_buckets(
        _replica_groups(base, "vec"), "vec", dim, n_planes, n_tables
    )
    # Over-cap buckets (counting DISTINCT vector groups) take the
    # same ROW-GRAIN star guard as the uncollapsed arm (r12): a
    # mega-bucket of distinct-but-near-identical groups would build
    # the same unspillable vector-carrying members array. The
    # broadcast rep carries its replica-id list so the star GROUP
    # pairs (and each group's self pair, which the array path emits
    # per bucket member regardless of the cap) feed the shared
    # _exploded_id_pairs tail identically.
    big_flat = None
    if guard(True):
        over_stats, under = _split_over_cap(
            v, keys, ["id", "vec", "ids"], max_bucket
        )
        joined = v.join(F.broadcast(over_stats), keys)
        # Per group row: its star cross pair vs the rep (a=rep, as in
        # _grp_cos_pair_struct) and its self pair — built in one
        # array so the threshold filter runs before the explode, like
        # pair_filter.
        cross = F.when(
            F.col("id") != F.col("_rep_id"),
            F.struct(
                cosine(F.col("_rep_vec"), F.col("vec")).alias("cosine"),
                F.lit(False).alias("within"),
                F.col("_rep_ids").alias("ids_a"),
                F.col("ids").alias("ids_b"),
            ),
        )
        self_p = F.when(
            F.size("ids") > 1,
            F.struct(
                cosine(F.col("vec"), F.col("vec")).alias("cosine"),
                F.lit(True).alias("within"),
                F.col("ids").alias("ids_a"),
                F.col("ids").alias("ids_b"),
            ),
        )
        big_flat = (
            joined.select(
                F.explode(
                    F.filter(
                        F.array(cross, self_p),
                        lambda pr: pr.isNotNull()
                        & (pr["cosine"] >= threshold),
                    )
                ).alias("p")
            )
            .select(
                F.col("p.cosine").alias("cosine"),
                F.col("p.within").alias("_w"),
                F.col("p.ids_a").alias("_ids_a"),
                F.col("p.ids_b").alias("_ids_b"),
            )
        )
        v = under
    # Two-stage group-pair expansion (dedup._exploded_member_pairs):
    # cosine computed in the pair builder, threshold applied
    # in-array, self entries for replica families via the hook.
    exploded = _exploded_member_pairs(
        _member_buckets(v, keys, True),
        max_bucket=max_bucket,
        pair_builder=_grp_cos_pair_struct,
        self_entries=_grp_self_entries,
        pair_filter=lambda pr: pr["cosine"] >= threshold,
    )
    flat = exploded.select(
        F.col("p.cosine").alias("cosine"),
        F.col("p.within").alias("_w"),
        F.col("p.ids_a").alias("_ids_a"),
        F.col("p.ids_b").alias("_ids_b"),
    )
    if big_flat is not None:
        flat = flat.unionByName(big_flat)
    # Doc-grain expansion shares the two-stage ids machinery with
    # _expand_rep_pairs; the id fan-out guard is identical.
    return _exploded_id_pairs(
        flat, F.col("_w"), ["cosine"], max_bucket
    ).distinct()


def semantic_dedup(
    corpus: DataFrame,
    dim: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = 16,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    collapse_exact: bool | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, compare pairs only
    WITHIN a cluster, and drop the higher id of every pair whose
    cosine reaches ``threshold`` (greedy lowest-id survivor — the same
    pair-dedup convention as the MinHash family's
    ``dedup.apply_pair_dedup``).

    Scale shape: centroid assignment is a broadcast projection (the
    corpus never shuffles to be clustered); within-cluster pairs use
    the bucket-pair form shared with ``embedding_near_dup_pairs`` —
    one groupBy on centroid id, pairs generated and threshold-filtered
    inside the bucket's array expression. In-cluster work is quadratic
    in cluster population; two guards bound it: scale ``n_centroids``
    with corpus size — ``n_centroids=None`` does it automatically via
    ``centroids_for_corpus`` — exactly like ``planes_for_corpus``
    scales LSH planes, and clusters over
    ``max_bucket`` members fall back to star pairs against the
    lowest-id member (the shared ``_capped_bucket_pairs`` hot-bucket
    guard). Star pairs are semantically right for SemDeDup: every
    over-threshold neighbor of the representative is still dropped,
    and a mega-cluster of near-identical boilerplate embeddings —
    the only way a cluster goes that hot — is exactly the case where
    all members match the representative. ``max_bucket=None``
    restores uncapped all-pairs. Uncollapsed over-cap clusters are
    ROW-GRAIN as of r12 (see ``embedding_near_dup_pairs``): the drop
    set comes from a broadcast of the cluster's lowest-id member and
    a per-row cosine, never a mega members array. The guard is
    certified away (identical output, one fewer evaluation of the
    centroid-assignment lineage — measured 1.32× at sf10,
    AB_sf10_semantic_dedup_r12.json) whenever the collapse probe's
    full-corpus pass proves no cluster can exceed the cap; see
    ``dedup._cap_guard_skippable``.

    .. versionchanged:: round 5
       ``max_bucket`` defaults to ``DEFAULT_MAX_BUCKET`` (was
       uncapped). For a cluster ABOVE the cap this is not
       output-neutral: a member over-threshold with some other member
       but NOT with the lowest-id representative is no longer
       dropped (there is no connected-components rejoin on this
       path), so kept counts can rise for mega-clusters. Audit with
       ``dedup.lsh_bucket_stats(assigned, ["centroid_id"])`` on the
       assignment frame — ``n_over_cap > 0`` means the cap changed
       results; pass ``max_bucket=None`` to reproduce pre-cap output.

    Returns one row per corpus vector: (id_col, centroid_id, kept) —
    ``kept=false`` marks semantic duplicates to discard.

    .. versionchanged:: round 11
       ``collapse_exact`` defaults to ``None`` — the same
       distinct-ratio auto-probe as ``embedding_near_dup_pairs``
       (``dedup._resolve_collapse`` on the vector column). The r10
       pin-True rationale ("parity on distinct corpora") was an
       sf0.1 artifact where centroid assignment dominates: at sf1 on
       an all-distinct 20k-vector corpus the collapse COSTS 1.45×
       (25.2 vs 17.4 s min-of-4 interleaved) because in-cluster pair
       work dominates and the groupBy(vec) + expansion joins are
       pure overhead, while on the 10-way-replica sf1 corpus it
       WINS 9× (2.1 vs 19.1 s) — both measured,
       BENCH_semdedup_collapse_sf1_r11.json, output parity verified
       both ways. Pin True/False to skip the probe.

    .. versionchanged:: round 10
       ``collapse_exact`` was pinned ``True`` on an sf0.1
       parity-on-distinct measurement (1.88 vs 1.96 s — superseded
       by the r11 sf1 measurement above).

    .. versionchanged:: round 8
       ``collapse_exact`` (default) groups EXACT-duplicate vectors
       first (SCALE.md rule 7): centroid assignment and in-cluster
       pair work run at distinct-vector grain — a replica family costs
       one member instead of squaring the in-cluster fan-out — and a
       vector x is dropped exactly when the uncollapsed rule drops it:
       some lower-id in-cluster vector is over-threshold with it
       (within a replica family every non-minimum id; across families,
       any x above the smallest over-threshold neighbor family's
       minimum id). Below the cap this is output-IDENTICAL (identical
       vectors share a centroid by construction). The ``max_bucket``
       star cap now counts DISTINCT vectors — a mega-cluster of
       replicas collapses to one member instead of tripping it — and
       the over-cap arm keeps replica-family drops in every family
       (the uncollapsed star only dropped against the global lowest-id
       member); audit cap engagement as before with
       ``dedup.lsh_bucket_stats``.
    """
    collapse_exact, probe_stats = _resolve_collapse(
        corpus, vec_col, collapse_exact
    )
    # As in embedding_near_dup_pairs: when the probe's full-corpus
    # pass proves no cluster can be over-cap, skip the stats guard —
    # bit-identical output, and the centroid-assignment lineage
    # evaluates 2x (the r11 shape) instead of 3x (measured 1.32x on
    # sf10, AB_sf10_semantic_dedup_r12.json).
    guard = _cap_guard_needed(probe_stats, max_bucket)
    if n_centroids is None:
        n_centroids = centroids_for_corpus(corpus.count())
    cents = deterministic_centroids(corpus, n_centroids, id_col, vec_col)
    v = corpus.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("vec")
    )
    keys = ["centroid_id"]
    if not collapse_exact:
        assigned = assign_nearest_centroids(v, cents, "id", "vec", 1)
        # Over-cap clusters take the ROW-GRAIN star path (r12, same
        # rationale as embedding_near_dup_pairs): a mega-cluster's
        # vector-carrying members array is an unspillable
        # aggregation-buffer row (measured OOM between 600k and 1.2M
        # members at 16g), while its star output is linear — so
        # split the over-cap clusters off and mark each member
        # dropped by a per-row cosine against its cluster
        # representative. Under-cap clusters keep the r11 array plan.
        pair_src = assigned
        over_stats = None
        if guard(False):
            # Broadcast-stats split, not a shared window: the
            # lambda-bearing cosine expressions below any
            # centroid_id exchange defeat ReuseExchange exactly as
            # in embedding_near_dup_pairs, so the stats
            # pre-aggregation + broadcast joins is the cheap shape.
            # Unlike the pair function, the mega-cluster drop
            # decision FUSES into the final output join below (kept
            # is per-row computable from the broadcast rep), so the
            # expensive centroid-assignment lineage evaluates 3x
            # total (output join, under-cap array path, once-run
            # stats) — not 4x.
            over_stats, pair_src = _split_over_cap(
                assigned, keys, ["id", "vec"], max_bucket
            )
        dropped = (
            _exploded_member_pairs(
                _member_buckets(pair_src, keys, False),
                max_bucket=max_bucket,
                pair_builder=_cos_pair_struct,
                pair_filter=lambda pr: pr["cosine"] >= threshold,
            )
            .select(F.col("p.id_b").alias("id"))
            .distinct()
            .withColumn("_dup", F.lit(1))
        )
        out = assigned
        mega_drop = F.lit(False)
        if over_stats is not None:
            out = out.join(F.broadcast(over_stats), "centroid_id", "left")
            # The rep is the left operand, as in _cos_pair_struct.
            mega_drop = (
                F.col("_rep_id").isNotNull()
                & (F.col("id") != F.col("_rep_id"))
                & (cosine(F.col("_rep_vec"), F.col("vec")) >= threshold)
            )
        return out.join(dropped, "id", "left").select(
            F.col("id").alias(id_col),
            "centroid_id",
            (F.col("_dup").isNull() & ~mega_drop).alias("kept"),
        )
    assigned = assign_nearest_centroids(
        _replica_groups(v, "vec"), cents, "id", "vec", 1
    )
    # Over-cap clusters at distinct-GROUP grain take the same
    # ROW-GRAIN guard as every other vector arm (r12): the star
    # arm's per-family decision (self-cosine drop + lim vs the
    # cluster's lowest-id family) is computable per exploded row
    # from a broadcast rep, so no vector-carrying members array is
    # built; the drop fuses into the per_vec output join below
    # (same 3-evaluations shape as the uncollapsed arm's fusion).
    pair_src = assigned
    over_stats = None
    if guard(True):
        over_stats, pair_src = _split_over_cap(
            assigned, keys, ["id", "vec"], max_bucket
        )
    buckets = _member_buckets(pair_src, keys, True)
    m = F.col("members")
    # Per family g: self_ok = its self-cosine reaches the threshold
    # (drops every non-minimum replica id); lim = the smallest
    # over-threshold neighbor family's minimum id (drops every id
    # above it). Each family's (ids, rep, lim, ok) is built in ONE
    # lambda evaluation and the id filter reads only bound fields —
    # never re-evaluating the O(members x dim) lim scan per id
    # (SCALE.md rule 6).
    def _fam(lim: Column | None, g: Column) -> Column:
        return F.struct(
            g["ids"].alias("ids"),
            g["id"].alias("rep"),
            lim.alias("lim"),
            (_member_cosine(g, g) >= threshold).alias("ok"),
        )

    all_fams = F.transform(
        m,
        lambda g: _fam(
            F.array_min(
                F.transform(
                    F.filter(
                        m,
                        lambda o: (o["id"] != g["id"])
                        & (_member_cosine(o, g) >= threshold),
                    ),
                    lambda o: o["id"],
                )
            ),
            g,
        ),
    )
    star_fams = F.transform(
        m,
        lambda g: _fam(
            F.when(
                (g["id"] != F.element_at(m, 1)["id"])
                & (_member_cosine(F.element_at(m, 1), g) >= threshold),
                F.element_at(m, 1)["id"],
            ),
            g,
        ),
    )
    fams = _capped_bucket_pairs(m, all_fams, star_fams, max_bucket)
    dropped_ids = F.flatten(
        F.transform(
            fams,
            lambda e: F.filter(
                e["ids"],
                lambda x: (e["ok"] & (x != e["rep"]))
                | (e["lim"].isNotNull() & (x > e["lim"])),
            ),
        )
    )
    dropped = (
        buckets.select(F.explode_outer(dropped_ids).alias("id"))
        .filter(F.col("id").isNotNull())
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    per_vec = assigned.select(
        "centroid_id",
        F.col("id").alias("_fam_rep"),
        "vec",
        F.explode("ids").alias("id"),
    )
    mega_drop = F.lit(False)
    if over_stats is not None:
        per_vec = per_vec.join(F.broadcast(over_stats), "centroid_id", "left")
        # Star-arm semantics per family, row-grain, with the rep the
        # left operand as in star_fams: self_ok drops every
        # non-minimum replica id; lim = the cluster rep's id when
        # this family is over-threshold with the rep — drops every
        # id above it.
        self_ok = cosine(F.col("vec"), F.col("vec")) >= threshold
        lim_hit = (F.col("_fam_rep") != F.col("_rep_id")) & (
            cosine(F.col("_rep_vec"), F.col("vec")) >= threshold
        )
        mega_drop = F.col("_rep_id").isNotNull() & (
            (self_ok & (F.col("id") != F.col("_fam_rep")))
            | (lim_hit & (F.col("id") > F.col("_rep_id")))
        )
    return per_vec.join(dropped, "id", "left").select(
        F.col("id").alias(id_col),
        "centroid_id",
        (F.col("_dup").isNull() & ~mega_drop).alias("kept"),
    )


# ---------------------------------------------------------------------------
# Grouped embedding aggregation (centroids + outlier scoring)
# ---------------------------------------------------------------------------


def group_centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    quantize: int = 7,
) -> DataFrame:
    """Per-group mean vector (centroid) over an embedding column —
    the aggregation behind embedding-based cluster profiling and
    outlier filters. Output: (group, n_vectors, centroid).

    Shape: posexplode each vector to (group, dim, component) → one
    partial-aggregated groupBy (group, dim) → reassemble the vector
    with sort+collect inside a final per-group aggregate. The shuffle
    payload after the partial combine is one row per (group, dim) —
    never the vectors themselves.

    Determinism: components are rounded to ``quantize`` decimals in
    DOUBLE, then accumulated as DECIMAL (exact, order-independent —
    float sums would drift with partitioning and never hash-match an
    oracle), divided once at the end in double. The round-in-double
    step matters for cross-engine parity: engines disagree at ~1e-9
    on float→decimal casts (shortest-string vs exact binary
    expansion semantics — measured Spark vs DuckDB), but agree
    bit-for-bit on double rounding; 7 decimals is already below
    float32 input noise."""
    v = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double"), quantize).cast(
            f"decimal(28,{quantize})"
        ),
    )
    parts = df.select(
        F.col(group_col).alias("grp"), F.posexplode(v).alias("dim", "x")
    )
    per_dim = parts.groupBy("grp", "dim").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        per_dim.groupBy("grp")
        .agg(
            F.first("n").alias("n_vectors"),
            F.array_sort(
                F.collect_list(F.struct("dim", "s"))
            ).alias("_pairs"),
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("n_vectors").cast("long"),
            F.transform(
                F.col("_pairs"),
                # Cast the exact decimal sum to double BEFORE the
                # division: dividing in decimal would round the
                # quotient to the decimal scale (7 dp) instead of
                # keeping full double precision.
                lambda p: p["s"].cast("double") / F.col("n_vectors"),
            ).alias("centroid"),
        )
    )


def centroid_outlier_scores(
    df: DataFrame,
    group_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine of every vector to its group's centroid — low scores
    flag embeddings that do not belong to their group's cluster (the
    embedding-side quality filter next to the text-side heuristics).

    The centroid table is one row per group (always broadcast-sized);
    the corpus joins it map-side and scores in a single projection —
    no per-row shuffle beyond the centroid aggregation itself. The
    centroid norm is computed ONCE per group on the broadcast side —
    an inline cosine() would re-fold it for every corpus row."""
    cents = group_centroids(df, group_col, vec_col).select(
        group_col, "centroid", _norm(F.col("centroid")).alias("_cn")
    )
    v = as_double_array(vec_col)
    return (
        df.join(F.broadcast(cents), group_col)
        .select(
            group_col,
            id_col,
            _cos_normed(v, F.col("centroid"), _norm(v), F.col("_cn")).alias(
                "centroid_cosine"
            ),
        )
    )


def _subspaces(vec: Column, m: int, sub: int, name: str) -> Column:
    """``vec`` exploded to ``m`` rows ``e`` = (subspace, ``name``), one
    per contiguous ``sub``-wide slice — the PQ split shared by the
    codebooks, the encoder and the ADC lookup table."""
    return F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.struct(
                s.alias("subspace"),
                F.slice(vec, s * sub + 1, sub).alias(name),
            ),
        )
    ).alias("e")


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance as a sequential double fold over the
    components — bit-identical across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _adc_top_k(
    codes: DataFrame,
    queries: DataFrame,
    cb: DataFrame,
    on: list[str],
    dim: int,
    m: int,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """PQ asymmetric-distance scoring and ranking: each query's EXACT
    sub-vectors against the corpus ``codes`` (neighbor_id, subspace,
    code[, query_id]) through a per-query lookup table of queries x m
    x k_codes rows (tiny, broadcast), joined on ``on``; one hash
    aggregation on (query_id, neighbor_id) then sums the m partial
    distances.

    Determinism: the partial distances are collected, sorted by
    subspace, and summed with a sequential fold — bit-identical to an
    oracle folding the same doubles in the same order (a plain SUM()
    would expose cross-engine partial-aggregation order).

    Output: (query_id, neighbor_id, rank, adc_dist), k per query."""
    q_sub = queries.select(
        F.col(id_col).alias("query_id"),
        _subspaces(as_double_array(vec_col), m, dim // m, "q_slice"),
    ).select("query_id", "e.subspace", "e.q_slice")
    lut = q_sub.join(F.broadcast(cb), on="subspace").select(
        "query_id",
        "subspace",
        "code",
        _sq_dist(F.col("q_slice"), F.col("cb_slice")).alias("d"),
    )
    totals = (
        codes.join(F.broadcast(lut), on=on)
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("subspace"), F.col("d")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["d"],
            ).alias("adc_dist")
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _top_k_per_query(
        totals, k, F.asc("adc_dist"), ["query_id", "neighbor_id", "rank", "adc_dist"]
    )


def pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic product-quantization codebooks: the first ``k``
    corpus vectors by id, each cut into ``m`` contiguous sub-vectors.
    Same seed-centroid convention as ``ivf_topk`` — deterministic and
    oracle-reproducible.

    Returns (subspace, code, cb_slice:array<double>) — m*k tiny rows,
    meant to be broadcast.
    """
    sub = dim // m
    seeds = (
        corpus.orderBy(id_col)
        .limit(k)
        .select(
            F.col(id_col).alias("_seed_id"),
            as_double_array(vec_col).alias("_v"),
        )
    )
    w = Window.orderBy("_seed_id")
    coded = seeds.withColumn("code", F.row_number().over(w) - 1)
    slices = coded.select("code", _subspaces(F.col("_v"), m, sub, "cb_slice"))
    return slices.select("e.subspace", "code", "e.cb_slice")


def pq_encode(
    corpus: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization encoding: split each embedding into ``m``
    contiguous sub-vectors and snap each to its nearest codebook entry
    (L2, ties to the lowest code) — the standard 8-32x vector
    compression in front of large-scale ANN (each vector becomes m
    small ints).

    Scale shape: the corpus is exploded to m rows per vector (map-
    side, no shuffle), the m*k codebook is broadcast, and the argmin
    is a single hash aggregation via ``min(struct(dist, code))`` —
    one shuffle on (id, subspace), partial-aggregated map-side. No
    Python, no window over the full corpus.

    Float determinism (for the DuckDB oracle): sub-vector distances
    are sequential double folds over <=dim/m elements — bit-identical
    across engines — and the argmin compares those exact doubles with
    the code as tiebreaker.

    Returns (id_col, subspace, code).
    """
    cb = codebooks if codebooks is not None else pq_codebooks(
        corpus, dim, m=m, k=k, id_col=id_col, vec_col=vec_col
    )
    sub = dim // m
    exploded = corpus.select(
        F.col(id_col), _subspaces(as_double_array(vec_col), m, sub, "sub_vec")
    ).select(id_col, "e.subspace", "e.sub_vec")
    scored = exploded.join(F.broadcast(cb), on="subspace").withColumn(
        "_d", _sq_dist(F.col("sub_vec"), F.col("cb_slice"))
    )
    return (
        scored.groupBy(id_col, "subspace")
        .agg(F.min(F.struct(F.col("_d"), F.col("code"))).alias("_best"))
        .select(id_col, "subspace", F.col("_best.code").alias("code"))
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: score each query's EXACT
    sub-vectors against every corpus vector's PQ codes via a
    per-query lookup table — the memory-bound search mode a PQ index
    exists for (corpus touched as m small ints per vector, never as
    floats).

    Scale shape: the LUT is queries x m x k_codes rows (tiny,
    broadcast); the corpus codes table joins it map-side on
    (subspace, code), then one hash aggregation on
    (query_id, neighbor_id) sums the m partial distances in
    subspace order (``_adc_top_k``). No all-pairs float work, no
    shuffle of raw vectors.
    """
    cb = pq_codebooks(
        corpus, dim, m=m, k=k_codes, id_col=id_col, vec_col=vec_col
    )
    codes = pq_encode(
        corpus, dim, m=m, k=k_codes, id_col=id_col, vec_col=vec_col,
        codebooks=cb,
    ).select(
        F.col(id_col).alias("neighbor_id"), "subspace", "code"
    )
    return _adc_top_k(
        codes, queries, cb, ["subspace", "code"], dim, m, id_col, vec_col, k
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 4,
    k_codes: int = 16,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """IVFADC (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011): IVF coarse routing composed with
    PQ asymmetric-distance scoring — the standard billion-scale ANN
    index layout. Queries probe ``n_probe`` cells; ADC runs ONLY over
    corpus vectors in a probed cell, so scored work is
    ~n_probe/n_centroids of ``pq_topk`` on top of PQ's m-small-ints
    compression.

    Scale shape: cell assignment and probing are broadcast
    projections; PQ codes join their cell id on the vector id
    (map-side combinable), then the probed (query, cell) pairs —
    queries x n_probe rows, always broadcast — restrict the code
    stream BEFORE the LUT join, so non-probed cells never reach the
    ADC arithmetic. One hash aggregation on (query, neighbor) sums
    the m partial distances with ``pq_topk``'s ``_adc_top_k``
    (bit-identical to the oracle's ordered list_reduce).
    """
    cents = deterministic_centroids(corpus, n_centroids, id_col, vec_col)
    cb = pq_codebooks(
        corpus, dim, m=m, k=k_codes, id_col=id_col, vec_col=vec_col
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("cvec"),
    )
    assigned = assign_nearest_centroids(
        c, cents, "neighbor_id", "cvec", 1
    ).select("neighbor_id", "centroid_id")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("qvec"),
    )
    probed = assign_nearest_centroids(
        q, cents, "query_id", "qvec", n_probe
    ).select("query_id", "centroid_id")

    codes = pq_encode(
        corpus, dim, m=m, k=k_codes, id_col=id_col, vec_col=vec_col,
        codebooks=cb,
    ).select(F.col(id_col).alias("neighbor_id"), "subspace", "code")
    routed = codes.join(assigned, "neighbor_id").join(
        F.broadcast(probed), "centroid_id"
    )
    return _adc_top_k(
        routed, queries, cb, ["query_id", "subspace", "code"], dim, m,
        id_col, vec_col, k,
    )


def l2_normalize(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "normalized",
    eps: float = 0.0,
) -> DataFrame:
    """Unit-normalize an embedding column (and emit the original L2
    norm): after this, inner product == cosine and PQ's L2 objective
    aligns with cosine search — run it before building IVF/PQ indexes
    when the corpus isn't normalized at the source. Zero vectors
    (norm <= eps) pass through unchanged with their zero norm rather
    than minting NaNs. Map-only projection, no shuffle.

    The divisor is delivered through ``zip_with(v, array_repeat(norm,
    d), ...)`` rather than referenced inside a ``transform`` lambda:
    HOF lambdas are interpreted with no common-subexpression
    elimination, so a lambda body that mentions the norm re-runs the
    full sum-of-squares fold per element — O(d^2) per row (measured
    20x at sf1, d=64). ``array_repeat`` evaluates the fold once and
    the lambda sees only bound variables. Values are bit-identical
    (same fold, same IEEE divide)."""
    v = as_double_array(vec_col)
    nrm = _norm(v)
    n = F.col("norm")
    return df.withColumn("norm", nrm).withColumn(
        out_col,
        F.when(
            n > F.lit(eps),
            F.zip_with(v, F.array_repeat(n, F.size(v)), lambda x, d: x / d),
        ).otherwise(v),
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the ``k`` most-similar vectors with a DIFFERENT label — the
    near-misses that make the strongest negatives. Same broadcast
    shape as ``brute_force_topk`` (queries broadcast, corpus never
    shuffles, per-query rank window); swap in the LSH/IVF candidate
    generators upstream for the 100 TB path — the label-mismatch
    filter and ranking are unchanged.

    Output: (query_id, query_label, neighbor_id, neighbor_label,
    cosine, rank)."""
    q = _normed_side(
        queries, _QUERY, id_col, as_double_array(vec_col),
        F.col(label_col).alias("query_label"),
    )
    c = _normed_side(
        corpus, _CORPUS, id_col, as_double_array(vec_col),
        F.col(label_col).alias("neighbor_label"),
    )
    scored = _exact_scored(c, q, "cosine").filter(
        F.col("neighbor_label") != F.col("query_label")
    )
    return _top_k_per_query(
        scored, k, F.desc("cosine"),
        ["query_id", "query_label", "neighbor_id", "neighbor_label", "cosine", "rank"],
    )


def knn_predict_labels(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN label prediction over the embedding column: majority vote
    among the ``k`` nearest neighbors (cosine; vote ties break to the
    smallest label, neighbor ties to the smallest id — fully
    deterministic, so the oracle replays it). The standard embedding
    sanity check: if k-NN can't recover the labels, neither will
    anything downstream.

    Output: (vec_id, true_label, predicted_label, n_votes, correct).
    """
    topk = brute_force_topk(corpus, queries, id_col, vec_col, k)
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
    )
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "neighbor_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    pred = _top_k_per_query(
        votes, 1, F.desc("n_votes"),
        ["query_id", F.col("neighbor_label").alias("predicted_label"), "n_votes"],
        tie="neighbor_label",
    )
    truth = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("true_label"),
    )
    return (
        truth.join(pred, "query_id")
        .select(
            F.col("query_id").alias(id_col),
            "true_label",
            "predicted_label",
            "n_votes",
            (F.col("true_label") == F.col("predicted_label")).alias(
                "correct"
            ),
        )
    )


# Disjoint plane-table id for the projection matrix so its signs never
# collide with the LSH bucket tables used elsewhere.
_PROJ_TABLE = 101


def random_projection(
    df: DataFrame,
    dim: int,
    out_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a
    DETERMINISTIC ±1 sign matrix (the same ``_plane_sign`` family the
    LSH planes use, disjoint table): y_p = (1/√out_dim)·Σ_d s(p,d)·x_d.
    Sign matrices match dense Gaussian projections for JL purposes
    (Achlioptas 2001) and cost one multiply-free fold per component.

    Map-only, no shuffle, one Literal per component row — and because
    the signs are reproducible integers, the DuckDB oracle recomputes
    every component bit-for-bit (the products are exact IEEE ±x, and
    the fold order matches).

    Output: (id, projected array<double>). Rounded to 9 dp after the
    final scale to keep the one cross-engine multiply boundary-free.
    """
    import math

    from pos_api_pipeline_spark.llm.exprcache import memo_expr

    # Memoized single parsed expression (same rationale as
    # _bucket_expr): 16 components × 64 literals re-built per call
    # measured ~1.7 s of driver-side construction — more than the
    # execution. Values are bit-identical: same cast, same fold
    # order, same one scale multiply, same 9-dp round.
    def build() -> Column:
        scale = 1.0 / math.sqrt(out_dim)
        vec_sql = f"transform(`{vec_col}`, x -> cast(x as double))"
        comps = []
        for p in range(out_dim):
            arr = ",".join(
                f"{float(_plane_sign(_PROJ_TABLE * out_dim + p, d))}D"
                for d in range(dim)
            )
            fold = (
                f"aggregate(zip_with({vec_sql}, array({arr}), "
                f"(x, y) -> x * y), cast(0.0 as double), "
                f"(acc, v) -> acc + v)"
            )
            comps.append(f"round({fold} * {scale!r}D, 9)")
        return F.expr("array(" + ", ".join(comps) + ")")

    proj = memo_expr(("jl", vec_col, dim, out_dim), build)
    return df.select(F.col(id_col), proj.alias("projected"))


def recall_at_k(
    corpus: DataFrame,
    queries: DataFrame,
    approx: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of an approximate top-k against exact brute-force
    truth for ``queries`` over ``corpus``: one row (recall_at_{k},
    n_truth_pairs), the share of truth pairs the approximate search
    also returned.

    ``approx`` is top-k output: <= n_queries*k rows BY CONSTRUCTION at
    any corpus size, so it is broadcast — the planner only sees an
    unknown-size aggregate and falls back to a sort-merge join (2
    exchanges + 2 sorts) without the hint (guide 3.1)."""
    exact = brute_force_topk(corpus, queries, id_col, vec_col, k).select(
        "query_id", "neighbor_id"
    )
    hits = approx.select("query_id", "neighbor_id").withColumn("hit", F.lit(1))
    marked = exact.join(F.broadcast(hits), ["query_id", "neighbor_id"], "left")
    return marked.agg(
        (F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1))).alias(
            f"recall_at_{k}"
        ),
        F.count(F.lit(1)).alias("n_truth_pairs"),
    )


def projection_recall_at_k(
    df: DataFrame,
    dim: int,
    out_dim: int,
    k: int = 10,
    n_queries: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Neighbor preservation under the JL projection: brute-force
    top-k in the ORIGINAL space vs the PROJECTED space over the first
    ``n_queries`` vectors, reported as one recall row — the
    measurement that tells you whether out_dim is high enough before
    you commit the cheap space to an index build."""
    proj = random_projection(df, dim, out_dim, id_col, vec_col).select(
        F.col(id_col), F.col("projected").alias("embedding")
    )
    qs_p = proj.filter(F.col(id_col) < n_queries)
    approx = brute_force_topk(proj, qs_p, id_col, "embedding", k)
    return recall_at_k(
        df, df.filter(F.col(id_col) < n_queries), approx, k, id_col, vec_col
    )


# ---------------------------------------------------------------------------
# SQ8 scalar quantization (faiss's SQ8 / int8 per-dimension min-max):
# 8× memory vs float64 (4× vs float32) with near-exact recall at
# typical embedding distributions. The missing middle of the ANN
# family: cheaper than raw vectors, far more faithful than PQ's
# codebook cells.
# ---------------------------------------------------------------------------


def sq8_minmax(
    corpus: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """One-row training frame for SQ8: per-dimension corpus min/max
    as two ``array<double>`` columns (mins, maxs).

    One partial-aggregable pass — 2·dim min/max aggregates, map-side
    combined, so the full corpus reduces to one row without a wide
    shuffle. Broadcast the result into the search plan."""
    v = as_double_array(vec_col)
    aggs = []
    for d in range(dim):
        aggs.append(F.min(F.element_at(v, d + 1)).alias(f"_mn{d}"))
        aggs.append(F.max(F.element_at(v, d + 1)).alias(f"_mx{d}"))
    return corpus.agg(*aggs).select(
        F.array(*[F.col(f"_mn{d}") for d in range(dim)]).alias("mins"),
        F.array(*[F.col(f"_mx{d}") for d in range(dim)]).alias("maxs"),
    )


def _sq8_pairs() -> Column:
    """(mn, mx) structs zipped from the broadcast stats row."""
    return F.zip_with(
        F.col("mins"),
        F.col("maxs"),
        lambda mn, mx: F.struct(mn.alias("mn"), mx.alias("mx")),
    )


def _sq8_code(x: Column, s: Column) -> Column:
    """Quantize one component: round((x−mn)·255/range), clamped to
    [0, 255]; degenerate dimensions (range 0) encode as 0. The exact
    float expression — ``floor((x − mn) * 255.0 / rng + 0.5)`` — is
    replayed verbatim by the DuckDB oracle, so codes are
    cross-engine-identical integers."""
    rng = s["mx"] - s["mn"]
    raw = F.floor((x - s["mn"]) * F.lit(255.0) / rng + F.lit(0.5))
    return (
        F.when(rng == 0, F.lit(0))
        .otherwise(
            F.least(F.lit(255.0), F.greatest(F.lit(0.0), raw)).cast("int")
        )
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric SQ8 search: corpus encoded to int codes, queries
    stay full-precision; cosine is computed against the DEQUANTIZED
    corpus vectors (x̂_d = mn_d + code_d·range_d/255).

    Same scale shape as ``brute_force_topk`` — the corpus never
    shuffles; only per-query candidate rows move into the rank
    exchange. Encode and decode fuse into ONE projection against ONE
    broadcast stats row, so the one-row min/max aggregate runs once: a
    broadcast subplan carrying lambda expressions never canonicalizes
    equal, so a second reference to the stats frame would rerun the
    full corpus pass. Output: (query_id, neighbor_id, adc_cosine,
    rank), ties broken by neighbor id."""
    st = sq8_minmax(corpus, dim, vec_col)
    decoded = _normed_side(
        corpus.crossJoin(F.broadcast(st)),
        _CORPUS,
        id_col,
        F.zip_with(
            as_double_array(vec_col),
            _sq8_pairs(),
            lambda x, s: s["mn"]
            + _sq8_code(x, s) * (s["mx"] - s["mn"]) / F.lit(255.0),
        ),
    )
    q = _normed_side(queries, _QUERY, id_col, as_double_array(vec_col))
    return _top_k_per_query(
        _exact_scored(decoded, q, "adc_cosine"), k, F.desc("adc_cosine"),
        ["query_id", "neighbor_id", "adc_cosine", "rank"],
    )


def sq8_recall_at_k(
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    n_queries: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall of SQ8 search vs exact brute-force truth over the first
    ``n_queries`` vectors — the fidelity check that says whether the
    8× compression costs any neighbors on THIS corpus before the
    codes table replaces raw vectors."""
    qs = corpus.filter(F.col(id_col) < n_queries)
    approx = sq8_topk(corpus, qs, dim, k, id_col, vec_col)
    return recall_at_k(corpus, qs, approx, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# Prototypicality pruning (Sorscher et al. 2022, "Beyond neural
# scaling laws": with abundant data, prune the EASY/prototypical
# examples — the ones closest to their cluster centroid).
# ---------------------------------------------------------------------------


def prototypicality_scores(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector prototypicality = cosine to its NEAREST cluster
    centroid (SSL-prototype metric): high = redundant/easy, low =
    informative/hard. Reuses the SemDeDup broadcast-assignment shape
    (``assign_nearest_centroids`` with the similarity kept). Cosine
    rounded to 9 dp for cross-engine determinism. Output:
    (id_col, centroid_id, prototypicality)."""
    cents = deterministic_centroids(corpus, n_centroids, id_col, vec_col)
    v = corpus.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("vec")
    )
    return assign_nearest_centroids(
        v, cents, "id", "vec", 1, keep_sim=True
    ).select(
        F.col("id").alias(id_col),
        "centroid_id",
        F.round("_sim", 9).alias("prototypicality"),
    )


def prototype_prune(
    corpus: DataFrame,
    keep_fraction: float,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-balanced prototypicality pruning: within every
    cluster, keep ceil(keep_fraction · cluster size) examples —
    the LEAST prototypical (hardest), per the abundant-data regime
    of Sorscher et al.

    Per-cluster ranking (two window functions over the same
    partition — one sort) keeps the class balance that a global
    score cutoff would destroy. Output: every corpus vector with its
    score and a ``kept`` flag — filter on it, or audit the boundary.
    """
    scores = prototypicality_scores(corpus, n_centroids, id_col, vec_col)
    w = Window.partitionBy("centroid_id").orderBy(
        F.asc("prototypicality"), F.asc(id_col)
    )
    wc = Window.partitionBy("centroid_id")
    return scores.select(
        id_col,
        "centroid_id",
        "prototypicality",
        (
            F.row_number().over(w)
            <= F.ceil(F.count(F.lit(1)).over(wc) * F.lit(keep_fraction))
        ).alias("kept"),
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    query_vec_id: int = 0,
    k: int = 10,
    depth: int = 50,
    rrf_k: int = 60,
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    text_col: str = "text",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval: fuse a lexical (BM25) ranking and a dense
    (cosine) ranking with reciprocal-rank fusion (Cormack et al.
    2009) — the standard two-tower retrieval merge for RAG /
    eval-set mining. RRF(d) = Σ_r 1/(rrf_k + rank_r(d)) over the
    rankers that returned d in their top-``depth``.

    Scale shape: the heavy lifting is the two rankers, which are the
    already-scale-audited ``bm25_topk`` and ``brute_force_topk`` (or
    any ANN drop-in) — fusion itself touches only 2·depth rows, so
    the outer join and re-rank are driver-trivial at any corpus size.
    Document ids and vector ids are joined 1:1 (row i's embedding is
    vector i).

    Determinism: ranks are exact ints; 1/(rrf_k+rank) is the same
    IEEE division on both engines; the two-term sum is rounded to
    9 dp. Ties broken by id.

    Output: (id, lex_rank, dense_rank, rrf_score, rank).
    """
    from pos_api_pipeline_spark.llm.text import bm25_topk

    lex = bm25_topk(
        docs, query_terms, k=depth, text_col=text_col, id_col=doc_id_col
    )
    # bm25_topk is already ordered (score desc, id); re-derive the
    # rank as an explicit column over the tiny top-`depth` frame.
    wl = Window.orderBy(F.desc("score"), F.asc("id"))
    lex_r = lex.select("id", "score").withColumn(
        "lex_rank", F.row_number().over(wl)
    ).select("id", "lex_rank")
    dense = brute_force_topk(
        emb,
        emb.filter(F.col(vec_id_col) == query_vec_id),
        id_col=vec_id_col,
        vec_col=vec_col,
        k=depth,
    )
    dense_r = dense.select(
        F.col("neighbor_id").alias("id"), F.col("rank").alias("dense_rank")
    )
    fused = lex_r.join(dense_r, "id", "full_outer")
    rrf = F.round(
        F.coalesce(
            F.lit(1.0) / (F.lit(rrf_k) + F.col("lex_rank")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(rrf_k) + F.col("dense_rank")), F.lit(0.0)
        ),
        9,
    )
    wr = Window.orderBy(F.desc("rrf_score"), F.asc("id"))
    return (
        fused.withColumn("rrf_score", rrf)
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("id", "lex_rank", "dense_rank", "rrf_score", "rank")
    )
