"""Skew mitigations under hot keys: the LSH star caps, the row-grain
mega-cluster paths and AQE's skew-join split."""

from __future__ import annotations

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# LSH hot-bucket cap (llm/dedup.py): one bucket of N identical docs
# must emit N-1 star pairs, not N(N-1)/2 — the quadratic-residue fix
# from VERDICT r03 item 2.
# ---------------------------------------------------------------------------


def test_minhash_hot_bucket_star_cap(spark):
    from pos_api_pipeline_spark.llm import dedup as D

    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("same boilerplate text repeated in every document").alias(
            "text"
        ),
    )
    pairs = D.minhash_lsh_candidates(docs, max_bucket=100)
    rows = pairs.collect()
    # star pairs: (0, i) for every other member, each matching all 4 bands
    assert len(rows) == n - 1
    assert all(r.id_a == 0 and r.n_matching_bands == 4 for r in rows)


def test_minhash_cap_none_restores_all_pairs(spark):
    from pos_api_pipeline_spark.llm import dedup as D

    docs = spark.range(6).select(
        F.col("id").alias("doc_id"),
        F.lit("the same identical document text here").alias("text"),
    )
    capped = D.minhash_lsh_candidates(docs, max_bucket=3).count()
    exact = D.minhash_lsh_candidates(docs, max_bucket=None).count()
    assert capped == 5  # star: 6-1
    assert exact == 15  # all pairs: 6*5/2


def test_simhash_hot_bucket_star_cap(spark):
    from pos_api_pipeline_spark.llm import dedup as D

    n = 2_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("same boilerplate text repeated in every document").alias(
            "text"
        ),
    )
    pairs = D.simhash_near_dups(docs, max_bucket=50)
    rows = pairs.collect()
    # identical text -> identical fingerprint -> hamming 0 survives
    assert len(rows) == n - 1
    assert all(r.id_a == 0 and r.hamming == 0 for r in rows)


def test_lsh_bucket_stats_reports_truncation(spark):
    from pos_api_pipeline_spark.llm import dedup as D

    docs = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.lit("the same identical document text here").alias("text"),
    )
    banded = D.minhash_bands(docs)
    row = D.lsh_bucket_stats(banded, ["band", "bhash"], max_bucket=5).first()
    assert row.n_buckets == 4  # 4 bands, one bucket each
    assert row.max_bucket_size == 20
    assert row.n_over_cap == 4
    # per bucket: 20*19/2 - 19 = 171 pairs saved, x4 bands
    assert row.pairs_dropped == 171 * 4


def test_embedding_near_dups_hot_bucket_star_cap(spark):
    from pos_api_pipeline_spark.llm import similarity as S

    n = 1_000
    # identical embeddings -> one bucket per table -> cosine 1.0 pairs
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(d % 7 + 1)) for d in range(8)]).alias(
            "embedding"
        ),
    )
    pairs = S.embedding_near_dup_pairs(
        emb, dim=8, threshold=0.99, max_bucket=50
    ).collect()
    assert len(pairs) == n - 1  # star: representative vs each member
    assert all(r.id_a == 0 and r.cosine >= 0.99 for r in pairs)


def test_semantic_dedup_hot_cluster_star_cap(spark):
    from pos_api_pipeline_spark.llm import similarity as S

    n = 10_000
    # identical embeddings -> every vector lands in ONE centroid's
    # cluster; the star cap must keep the in-cluster pair expression
    # linear (n-1 drops), not quadratic, and still drop every dup.
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(d % 5 + 1)) for d in range(8)]).alias(
            "embedding"
        ),
    )
    out = S.semantic_dedup(
        emb, dim=8, threshold=0.99, n_centroids=4, max_bucket=100
    )
    kept = out.filter(F.col("kept")).collect()
    # star pairs against the lowest-id representative drop everyone
    # but the representative itself
    assert len(kept) == 1
    assert kept[0].vec_id == 0
    assert out.count() == n


def test_semantic_dedup_cap_matches_uncapped_survivors(spark):
    from pos_api_pipeline_spark.llm import similarity as S

    # mixed corpus: 3 near-identical groups + distinct tail; with the
    # cap far above any cluster size, output must equal max_bucket=None
    emb = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.col("id") % 3 + 1).cast("double") * F.lit(float(d + 1))
                for d in range(6)
            ]
        ).alias("embedding"),
    )
    capped = S.semantic_dedup(emb, dim=6, threshold=0.999, n_centroids=3)
    uncapped = S.semantic_dedup(
        emb, dim=6, threshold=0.999, n_centroids=3, max_bucket=None
    )
    assert sorted(map(tuple, capped.collect())) == sorted(
        map(tuple, uncapped.collect())
    )


def test_centroids_for_corpus_bounds_cluster_population():
    from pos_api_pipeline_spark.llm.similarity import centroids_for_corpus

    target = 256
    for n in (100, 1_000, 10_000, 100_000, 1_000_000, 10_000_000):
        k = centroids_for_corpus(n, target_cluster_size=target)
        assert 4 <= k <= 1 << 20
        if n > 4 * target:
            # expected population per cluster stays within 2x target
            # across a 10^5 spread of corpus sizes
            assert n / k <= 2 * target


def test_semantic_dedup_auto_centroids(spark):
    from pos_api_pipeline_spark.llm import similarity as S

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                ((F.col("id") % 50) + 1).cast("double") * F.lit(float(d + 1))
                for d in range(4)
            ]
        ).alias("embedding"),
    )
    out = S.semantic_dedup(
        emb, dim=4, threshold=0.999, n_centroids=None
    )
    # auto-scale picked centroids_for_corpus(200) = 4; result is one
    # row per vector either way
    assert out.count() == 200
    assert out.select("centroid_id").distinct().count() <= 4


def test_repeated_substring_hot_gram_window_completes(spark):
    """The window document-frequency pass buffers each gram-hash
    partition; a boilerplate 8-gram shared by thousands of docs must
    stay LINEAR (one window row per occurrence, never a pair
    blowup)."""
    import time

    from pos_api_pipeline_spark.llm.curation import repeated_substring_spans

    boiler = "this content is copyright of the example corporation inc"
    docs = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(boiler + " unique"),
            F.col("id").cast("string"),
            F.lit(" tail words here"),
        ).alias("text"),
    )
    t0 = time.perf_counter()
    w = repeated_substring_spans(docs, k=8)
    n_window = w.count()
    elapsed = time.perf_counter() - t0
    # one span per doc (the shared boilerplate prefix), not O(n^2)
    assert n_window == 3000
    assert elapsed < 60


# ---------------------------------------------------------------------------
# Plan proof for the shuffled-skew mitigation the bench entry
# (registry_llm skew_aqe_hot_user_spend) times each round: AQE's
# skew-join actually splits a hot sort-merge partition under this
# session's configuration.
# ---------------------------------------------------------------------------


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_aqe_skew_join_split_engages(spark):
    """AQE OptimizeSkewedJoin must split the hot partition: one key
    carries ~100k padded rows while the rest carry one each, the skew
    thresholds are lowered to bench-grain sizes, and the merge hint
    pins sort-merge. After execution the final adaptive plan marks
    the join ``skew=true``."""
    lowered = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    }
    saved = {k: spark.conf.get(k) for k in lowered}
    for k, v in lowered.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(100_000).select(
            F.when(F.col("id") < 90_000, F.lit(1))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("x" * 96), F.col("id").cast("string")).alias(
                "payload"
            ),
        )
        small = spark.range(200).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("tag")
        )
        joined = big.join(small.hint("merge"), "k")
        joined.collect()  # run THIS QueryExecution so AQE finalizes it
        plan = _executed_plan(joined)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_embedding_near_dups_row_grain_megastar(spark):
    """r12: uncollapsed over-cap buckets take the row-grain star
    path (broadcast rep + per-row cosine, no members array). Byte-
    DISTINCT near-identical vectors (collapse_exact=False is what
    the auto-probe picks) in one mega bucket next to an under-cap
    cluster: star set for the mega bucket, all-pairs for the small
    one, no duplicate (id_a, id_b) rows across branches."""
    from pos_api_pipeline_spark.llm import similarity as S

    n_big, n_small = 200, 4
    big = spark.range(n_big).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                F.lit(1.0) + (F.col("id") * 8 + d) * 1e-9
                for d in range(8)
            ]
        ).alias("embedding"),
    )
    # Orthogonal-ish direction, far from the big cluster: lands in
    # its own under-cap bucket(s) and yields its own all-pairs.
    small = spark.range(n_small).select(
        (F.col("id") + 10_000).alias("vec_id"),
        F.array(
            *[
                (F.lit(1.0) if d < 4 else F.lit(-1.0))
                + (F.col("id") * 8 + d) * 1e-9
                for d in range(8)
            ]
        ).alias("embedding"),
    )
    pairs = S.embedding_near_dup_pairs(
        big.unionByName(small),
        dim=8,
        threshold=0.999,
        max_bucket=50,
        collapse_exact=False,
    ).collect()
    tuples = [(r.id_a, r.id_b) for r in pairs]
    assert len(tuples) == len(set(tuples))  # cross-branch dedup holds
    star = {t for t in tuples if t[0] == 0}
    assert star == {(0, i) for i in range(1, n_big)}
    small_pairs = {t for t in tuples if t[0] >= 10_000}
    assert small_pairs == {
        (a, b)
        for a in range(10_000, 10_000 + n_small)
        for b in range(a + 1, 10_000 + n_small)
    }
    assert len(tuples) == (n_big - 1) + n_small * (n_small - 1) // 2


def test_semantic_dedup_row_grain_mega_cluster(spark):
    """r12 row-grain twin for semantic_dedup's uncollapsed arm:
    byte-distinct near-identical vectors over the cap — every
    non-representative is dropped via the broadcast-rep per-row
    cosine; a far-away under-cap cluster still runs the array path
    and keeps its own survivor."""
    from pos_api_pipeline_spark.llm import similarity as S

    n = 500
    big = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                F.lit(1.0) + (F.col("id") * 8 + d) * 1e-9
                for d in range(8)
            ]
        ).alias("embedding"),
    )
    out = S.semantic_dedup(
        big,
        dim=8,
        threshold=0.999,
        n_centroids=1,
        max_bucket=100,
        collapse_exact=False,
    )
    kept = [r.vec_id for r in out.filter(F.col("kept")).collect()]
    assert kept == [0]
    assert out.count() == n


def test_embedding_collapsed_row_grain_megastar(spark):
    """r12: the COLLAPSED arm's over-cap guard is row-grain too. 150
    distinct near-identical vector groups (2 exact replicas each) in
    one mega bucket with max_bucket=50: star group pairs vs the
    lowest-id rep expand to 2x2 id pairs each, and every group's
    within-family self pair survives — no members array built."""
    from pos_api_pipeline_spark.llm import similarity as S

    n_grp = 150
    rows = spark.range(n_grp).select(
        F.col("id"),
        F.array(
            *[
                F.lit(1.0) + (F.col("id") * 8 + d) * 1e-9
                for d in range(8)
            ]
        ).alias("embedding"),
    )
    corpus = rows.select(F.col("id").alias("vec_id"), "embedding").unionByName(
        rows.select((F.col("id") + 10_000).alias("vec_id"), "embedding")
    )
    pairs = S.embedding_near_dup_pairs(
        corpus,
        dim=8,
        threshold=0.999,
        max_bucket=50,
        collapse_exact=True,
    ).collect()
    tuples = {(r.id_a, r.id_b) for r in pairs}
    assert len(tuples) == len(pairs)  # cross-table dedup holds
    expected = set()
    for g in range(1, n_grp):  # star cross pairs, id-expanded 2x2
        for a in (0, 10_000):
            for b in (g, g + 10_000):
                expected.add((min(a, b), max(a, b)))
    for g in range(n_grp):  # within-family self pairs
        expected.add((g, g + 10_000))
    assert tuples == expected
    assert len(tuples) == (n_grp - 1) * 4 + n_grp


def test_semantic_dedup_collapsed_row_grain_mega_cluster(spark):
    """r12: semantic_dedup's COLLAPSED arm over-cap guard is
    row-grain. One mega cluster (n_centroids=1, cap 50) holding 60
    base-direction replica families (over-threshold with the cluster
    rep: fully dropped above the rep) and 100 orthogonal replica
    families (below threshold vs the rep: keep their own family rep,
    drop only their exact replica via self_ok) — the documented
    star-cap semantics, now computed per row from the broadcast rep
    with no members array."""
    from pos_api_pipeline_spark.llm import similarity as S

    n_base, n_orth = 60, 100
    base = spark.range(n_base).select(
        F.col("id"),
        F.array(
            *[
                F.lit(1.0) + (F.col("id") * 8 + d) * 1e-9
                for d in range(8)
            ]
        ).alias("embedding"),
    )
    orth = spark.range(n_orth).select(
        (F.col("id") + 1000).alias("id"),
        F.array(
            *[
                (F.lit(1.0) if d < 4 else F.lit(-1.0))
                + (F.col("id") * 8 + d) * 1e-9
                for d in range(8)
            ]
        ).alias("embedding"),
    )
    fams = base.unionByName(orth)
    corpus = fams.select(F.col("id").alias("vec_id"), "embedding").unionByName(
        fams.select((F.col("id") + 100_000).alias("vec_id"), "embedding")
    )
    out = S.semantic_dedup(
        corpus,
        dim=8,
        threshold=0.9,
        n_centroids=1,
        max_bucket=50,
        collapse_exact=True,
    )
    kept = sorted(r.vec_id for r in out.filter(F.col("kept")).collect())
    assert kept == [0] + [1000 + j for j in range(n_orth)]
    assert out.count() == 2 * (n_base + n_orth)
