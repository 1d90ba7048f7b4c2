"""Tests for the training-data-pipeline layer: text analysis, dedup
family, similarity search, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pos_api_pipeline_spark.llm import dedup, similarity, text
from pos_api_pipeline_spark.llm.multimodal import extract_features, synthetic_assets


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "completely different words entirely unrelated content here"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (4, "dog lazy the over jumps fox brown quick the"),  # reordered 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_stats(docs):
    out = {r.doc_id: r for r in text.with_token_stats(docs).collect()}
    assert out[0].n_tokens == 9
    assert out[0].n_bpe_tokens == 9


def test_quality_score(spark):
    df = spark.createDataFrame([(0, "Hello, world! The end.")], "doc_id long, text string")
    r = text.quality_score(df).collect()[0]
    assert r.n_tokens == 4
    # punctuation: , ! . = 3 of 22 chars
    assert r.punct_ratio == pytest.approx(3 / 22)
    assert r.stopword_ratio == pytest.approx(1 / 4)  # 'The'


def test_language_id(spark):
    df = spark.createDataFrame(
        [(0, "the data table is full of value"),
         (1, "el valor de la tabla para los datos"),
         (2, "xyzzy plugh")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.predicted_lang for r in text.language_id(df).collect()}
    assert out == {0: "en", 1: "es", 2: "und"}


def test_fingerprint_order_invariant(docs):
    out = {r.doc_id: r.fingerprint for r in text.fingerprint(docs).collect()}
    assert out[0] == out[3] == out[4]  # exact dup and reordering collapse
    assert out[0] != out[2]


def test_exact_dedup(docs):
    groups = {r.text_hash: r for r in dedup.exact_dedup(docs).collect()}
    copies = sorted(g.n_copies for g in groups.values())
    assert copies == [1, 1, 1, 2]  # docs 0 and 3 collapse
    dup = [g for g in groups.values() if g.n_copies == 2][0]
    assert dup.keep_id == 0


def test_ngram_jaccard(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(0, 3)] == pytest.approx(1.0)  # identical
    assert (0, 1) in pairs  # near-dup shares most shingles
    assert all(not (a == 0 and b == 2) for a, b in pairs)


def test_minhash_lsh_finds_exact_and_near(docs):
    cands = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(docs).collect()
    }
    assert (0, 3) in cands  # identical docs always collide on all bands
    assert all(not (a == 0 and b == 2) for a, b in cands)


def test_shingle_ops_tolerate_short_docs(spark):
    # Docs with < n tokens must not crash (Spark's sequence(1,0) runs
    # BACKWARDS to [1,0] and slice(…,0,…) errors) — they simply have
    # no shingles and drop out of candidate generation.
    df = spark.createDataFrame(
        [(0, "a b"), (1, ""), (2, "x y z w x y"), (3, "x y z w x y")],
        "doc_id long, text string",
    )
    assert sorted(
        (r.id_a, r.id_b) for r in dedup.minhash_lsh_candidates(df).collect()
    ) == [(2, 3)]
    assert sorted(
        (r.id_a, r.id_b) for r in dedup.ngram_jaccard_pairs(df).collect()
    ) == [(2, 3)]


def test_simhash_near_dups(docs):
    # blocks=8: the (0,1) pair differs by hamming 11, beyond the
    # 4-block guarantee — the finer blocking recovers it (at the cost
    # of a weaker sieve, which is why 4 stays the scale default).
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_dups(docs, max_hamming=16, blocks=8).collect()
    }
    assert pairs[(0, 3)] == 0  # identical text, identical simhash
    assert pairs[(0, 4)] == 0  # simhash is order-invariant
    assert (0, 1) in pairs  # one-word change: small hamming distance
    # Default 4-block sieve: exact/reordered dups (hamming 0) are
    # always guaranteed candidates.
    strict = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_dups(docs, max_hamming=16).collect()
    }
    assert strict[(0, 3)] == 0 and strict[(0, 4)] == 0


def test_dedupe_corpus_methods(docs):
    # docs: 0==3 exactly; 4 is a reordering of 0; 1 is a near-dup.
    exact = {r.doc_id for r in dedup.dedupe_corpus(docs, method="exact").collect()}
    assert exact == {0, 1, 2, 4}  # only the byte-identical dup (3) dropped
    fp = {r.doc_id for r in dedup.dedupe_corpus(docs, method="fingerprint").collect()}
    assert fp == {0, 1, 2}  # reordering (4) also collapses
    # near-dups: compose a pair detector with apply_pair_dedup
    jac = {
        r.doc_id
        for r in dedup.apply_pair_dedup(
            docs, dedup.ngram_jaccard_pairs(docs, threshold=0.3)
        ).collect()
    }
    assert 0 in jac and 3 not in jac and 2 in jac
    with pytest.raises(ValueError, match="unknown dedup method"):
        dedup.dedupe_corpus(docs, method="nope")


def test_with_shingles_matches_column_api(spark):
    docs = spark.createDataFrame(
        [(1, "The quick Brown fox jumps"), (2, "tiny"), (3, "a b c")],
        "doc_id long, text string",
    )
    from pyspark.sql import functions as F

    col_api = {
        r.doc_id: r.sh
        for r in docs.select(
            "doc_id", dedup.word_shingles("text", 3).alias("sh")
        ).collect()
    }
    df_api = {
        r.id: r.shingles
        for r in dedup.with_shingles(docs, "text", "doc_id", 3).collect()
    }
    assert {k: sorted(v) for k, v in df_api.items()} == {
        k: sorted(v) for k, v in col_api.items()
    }
    hashed = {
        r.id: sorted(r.shingles)
        for r in dedup.with_shingles(
            docs, "text", "doc_id", 3, hashed=True
        ).collect()
    }
    expect = {
        r.id: sorted(r.h)
        for r in dedup.with_shingles(docs, "text", "doc_id", 3)
        .select("id", F.transform("shingles", lambda s: F.xxhash64(s)).alias("h"))
        .collect()
    }
    assert hashed == expect
    # Portability contract: portable=True must equal what the DuckDB
    # oracle computes (md5-hex-prefix as a 60-bit int).
    import hashlib

    portable = {
        r.id: sorted(r.shingles)
        for r in dedup.with_shingles(
            docs, "text", "doc_id", 3, hashed=True, portable=True
        ).collect()
    }
    one = dedup.with_shingles(docs, "text", "doc_id", 3, hashed=False).collect()
    by_id = {r.id: r.shingles for r in one}
    expect_py = {
        k: sorted(
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in v
        )
        for k, v in by_id.items()
    }
    assert portable == expect_py


def test_connected_components_chain(spark):
    # Chain 1~2, 2~3 plus isolated pair 10~11: CC groups {1,2,3} and
    # {10,11} even though (1,3) was never directly paired.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comps = {
        r.id: r.component for r in dedup.connected_components(pairs).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 5, 10, 11]],
        "doc_id long, text string",
    )
    kept = {
        r.doc_id for r in dedup.dedupe_corpus_cc(docs, pairs).collect()
    }
    assert kept == {1, 5, 10}  # one representative per component + untouched 5


def test_connected_components_nonconvergence_raises(spark):
    # A 6-node path cannot reach a star forest in one large-star /
    # small-star round, so strict mode raises instead of silently
    # returning partial labels.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iterations=1)
    # Non-strict: warns, and the min-label reduction still returns
    # exactly one row per node, so dedupe_corpus_cc never drops a
    # node twice or keeps two rows for it.
    with pytest.warns(RuntimeWarning, match="did not converge"):
        partial = dedup.connected_components(
            pairs, max_iterations=1, strict=False
        ).collect()
    assert sorted(r.id for r in partial) == [1, 2, 3, 4, 5, 6]
    assert all(r.component <= r.id for r in partial)


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),  # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        (4, [0.95, 0.05, 0.0, 0.0]),  # closest to 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(vectors):
    out = similarity.brute_force_topk(vectors, vectors.filter("vec_id = 0"), k=2)
    got = [(r.neighbor_id, r.rank) for r in out.orderBy("rank").collect()]
    assert got == [(4, 1), (1, 2)]


def test_lsh_topk_same_bucket_neighbors(vectors):
    out = similarity.lsh_topk(
        vectors, vectors.filter("vec_id = 0"), dim=4, k=3, n_planes=2
    ).collect()
    ids = {r.neighbor_id for r in out}
    assert 3 not in ids  # opposite vector can't share all hyperplane signs


def test_embedding_near_dup_pairs(vectors):
    pairs = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dup_pairs(
            vectors, dim=4, threshold=0.95
        ).collect()
    }
    assert (0, 4) in pairs
    assert (0, 2) not in pairs


def test_embedding_near_dup_collapse_parity(spark):
    # Exact-duplicate replicas (the collapse path's whole point) mixed
    # with near- and non-duplicates: the collapsed default must emit
    # EXACTLY the uncollapsed pair set, including within-replica pairs
    # at the self-cosine and cross pairs at the direct-pair cosine.
    base = [
        [1.0, 0.0, 0.0, 0.0],
        [0.97, 0.03, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
    ]
    rows = [
        (i * 10 + r, base[i]) for i in range(3) for r in range(i + 1)
    ]  # vec 0 x1, vec 1 x2, vec 2 x3 replicas, non-contiguous ids
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(dim=4, threshold=0.9, n_planes=4, n_tables=2)
    old = {
        (r.id_a, r.id_b, r.cosine)
        for r in similarity.embedding_near_dup_pairs(
            df, collapse_exact=False, **kw
        ).collect()
    }
    new = {
        (r.id_a, r.id_b, r.cosine)
        for r in similarity.embedding_near_dup_pairs(
            df, collapse_exact=True, **kw
        ).collect()
    }
    assert new == old
    assert (10, 11) in {(a, b) for a, b, _ in new}  # within-replica pair


def test_semantic_dedup_collapse_parity(spark):
    # Replica families + near-dups across families: the collapsed
    # default must keep/drop exactly the same vector ids as the
    # uncollapsed per-vector pair rule, with identical centroids.
    base = [
        [1.0, 0.0, 0.0, 0.0],
        [0.97, 0.03, 0.0, 0.0],  # near-dup of base[0]
        [0.0, 1.0, 0.0, 0.0],
    ]
    rows = [(i * 10 + r, base[i]) for i in range(3) for r in range(i + 1)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(dim=4, threshold=0.9, n_centroids=2)
    old = {
        (r.vec_id, r.centroid_id, r.kept)
        for r in similarity.semantic_dedup(
            df, collapse_exact=False, **kw
        ).collect()
    }
    new = {
        (r.vec_id, r.centroid_id, r.kept)
        for r in similarity.semantic_dedup(
            df, collapse_exact=True, **kw
        ).collect()
    }
    assert new == old
    kept = {v for v, _, k in new if k}
    assert 0 in kept and 21 not in kept  # family minimum survives


def _random_vectors(spark, n, dim, seed=7):
    # Deterministic LCG (no RNG dependency): values in [-1, 1).
    rows = []
    state = seed
    for i in range(n):
        vec = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            vec.append(state / (1 << 30) - 1.0)
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_lsh_multitable_recall_beats_single_table(spark):
    # 120 corpus vectors + near-dup partners of the first 10 as
    # queries: ground truth rank-1 neighbor of query 1000+i is i.
    base = _random_vectors(spark, 120, 16)
    partners = base.filter("vec_id < 10").selectExpr(
        "vec_id + 1000 AS vec_id",
        "transform(embedding, x -> x * 1.05 + 0.01) AS embedding",
    )
    corpus = base
    queries = partners

    def recall(n_tables):
        out = similarity.lsh_topk(
            corpus, queries, dim=16, k=1, n_planes=6, n_tables=n_tables
        ).collect()
        return sum(1 for r in out if r.neighbor_id == r.query_id - 1000) / 10

    r1, r3 = recall(1), recall(3)
    assert r3 >= r1  # OR-ed tables can only add candidates
    assert r3 >= 0.8  # banding recovers nearly all true neighbors


def test_lsh_bucket_sizes_bounded(spark):
    # planes_for_corpus keeps expected bucket population ~constant.
    assert similarity.planes_for_corpus(1_000_000) > similarity.planes_for_corpus(
        10_000
    )
    n = 512
    v = _random_vectors(spark, n, 16)
    n_planes = similarity.planes_for_corpus(n, target_bucket_size=32)
    bucketed = similarity._multi_table_buckets(
        v.selectExpr("vec_id", "embedding AS vec"), "vec", 16, n_planes, 2
    )
    sizes = (
        bucketed.groupBy("tbl", "bucket")
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]
    )
    # Random projections split unevenly, but no bucket should hold
    # more than ~1/4 of the corpus once planes scale with n.
    assert sizes.mx <= n / 4


def test_ngram_jaccard_hot_shingle_cap(spark):
    # Skew regime: one boilerplate shingle lands in 50% of docs. Each
    # hot doc shares ONLY that shingle with its peers; docs 300/301
    # are a genuine near-dup pair.
    rows = [
        (i, f"lorem ipsum dolor w{i}a w{i}b w{i}c w{i}d") for i in range(100)
    ]
    rows += [(i, f"u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f") for i in range(100, 200)]
    rows += [
        (300, "alpha beta gamma delta epsilon zeta"),
        (301, "alpha beta gamma delta epsilon eta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.0, max_df=len(rows)
        ).collect()
    }
    assert len(uncapped) == 100 * 99 // 2 + 1  # all hot pairs + the real one

    capped = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.0, max_df=64
        ).collect()
    }
    # DF cap (100 > 64) drops the hot bucket BEFORE pair expansion:
    # boilerplate-only pairs vanish, the genuine pair survives.
    assert capped == {(300, 301)}

    # Default cap (1000) never triggers on a normal corpus: identical
    # output to the exact inverted index.
    default = {
        (r.id_a, r.id_b, r.shared)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    exact = {
        (r.id_a, r.id_b, r.shared)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.0, max_df=len(rows)
        ).collect()
    }
    assert default == exact


def test_multimodal_feature_extraction(spark):
    assets = synthetic_assets(spark, n=12)
    feats = extract_features(assets, n_dims=4).collect()
    assert len(feats) == 12
    by_id = {r.asset_id: r for r in feats}
    assert by_id[0].n_bytes == 32  # md5 hex = 32 bytes
    assert len(by_id[0].feature) == 4
    # Determinism: same payload -> same features across runs.
    feats2 = {r.asset_id: r.feature for r in extract_features(assets, n_dims=4).collect()}
    assert feats2[0] == by_id[0].feature
    assert by_id[0].payload_hash is not None


def test_multimodal_stub_raises(spark):
    from pos_api_pipeline_spark.llm.multimodal import resize_images

    assets = synthetic_assets(spark, n=2)
    with pytest.raises(Exception, match="codec library"):
        resize_images(assets, 32, 32).collect()


def _checkerboard_png(w=8, h=8):
    """A real 8x8 RGB PNG: red/blue checkerboard, stdlib-encoded."""
    from pos_api_pipeline_spark.llm import png

    pixels = bytearray()
    for y in range(h):
        for x in range(w):
            pixels += b"\xff\x00\x00" if (x + y) % 2 == 0 else b"\x00\x00\xff"
    return png.encode_png(png.Image(w, h, 3, pixels))


def test_png_codec_roundtrip():
    from pos_api_pipeline_spark.llm import png

    data = _checkerboard_png()
    assert png.is_png(data)
    img = png.decode_png(data)
    assert (img.width, img.height, img.channels) == (8, 8, 3)
    # Corner pixels of the checkerboard.
    assert bytes(img.pixels[:3]) == b"\xff\x00\x00"
    assert bytes(img.pixels[3:6]) == b"\x00\x00\xff"
    # Encode→decode→encode is a fixpoint.
    assert png.decode_png(png.encode_png(img)).pixels == img.pixels


def test_png_features_on_real_image(spark):
    # extract_features on genuine PNG bytes: per-channel mean/std.
    data = _checkerboard_png()
    assets = spark.createDataFrame(
        [(0, "image", bytearray(data))],
        "asset_id long, modality string, payload binary",
    )
    row = extract_features(assets, n_dims=6).collect()[0]
    # Half the pixels are 255 in R, half in B: mean 0.5, std 0.5.
    r_mean, r_std, g_mean, g_std, b_mean, b_std = row.feature
    assert r_mean == pytest.approx(0.5)
    assert r_std == pytest.approx(0.5)
    assert g_mean == 0.0 and g_std == 0.0
    assert b_mean == pytest.approx(0.5)


def test_png_resize_through_spark(spark):
    from pos_api_pipeline_spark.llm import png
    from pos_api_pipeline_spark.llm.multimodal import resize_images

    data = _checkerboard_png(8, 8)
    assets = spark.createDataFrame(
        [
            (
                0,
                "image",
                bytearray(data),
                "image/png",
                {"width": 8, "height": 8, "duration_ms": 0, "sample_rate": 0},
            )
        ],
        schema="asset_id long, modality string, payload binary, "
        "media_type string, meta struct<width:int,height:int,"
        "duration_ms:bigint,sample_rate:int>",
    )
    out = resize_images(assets, 4, 4).collect()[0]
    assert out.meta.width == 4 and out.meta.height == 4
    resized = png.decode_png(bytes(out.payload))
    assert (resized.width, resized.height) == (4, 4)
    # Nearest-neighbor at stride 2 samples even pixels: all red.
    assert bytes(resized.pixels[:3]) == b"\xff\x00\x00"


def test_unigram_logprob_hand_computed(spark):
    import math

    from pos_api_pipeline_spark.llm.text import unigram_logprob

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "b c"), (2, "   ")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in unigram_logprob(docs).collect()}
    # Corpus: a=2, b=2, c=1 of 5 tokens → p(a)=p(b)=0.4, p(c)=0.2.
    lp4 = round(math.log(0.4), 6)
    lp2 = round(math.log(0.2), 6)
    assert out[0].n_tokens == 3
    assert abs(out[0].mean_logprob - (3 * lp4) / 3) < 1e-9
    assert out[1].n_tokens == 2
    assert abs(out[1].mean_logprob - (lp4 + lp2) / 2) < 1e-9
    # Token-less document survives with null score, not a lost row.
    assert out[2].n_tokens == 0 and out[2].mean_logprob is None


def test_cross_corpus_exact_dedup(spark):
    from pos_api_pipeline_spark.llm.dedup import cross_corpus_exact_dedup

    old = spark.createDataFrame(
        [(0, "shared text"), (1, "lake only")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(10, "shared text"), (11, "fresh one"), (12, "another fresh")],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in cross_corpus_exact_dedup(new, old).collect()
    )
    assert kept == [11, 12]


def test_cross_corpus_near_dups_flags_only_new_side(spark):
    from pos_api_pipeline_spark.llm.dedup import cross_corpus_near_dups

    base = "the quick brown fox jumps over the lazy dog again and again"
    old = spark.createDataFrame([(0, base)], "doc_id long, text string")
    new = spark.createDataFrame(
        [
            (10, base),  # identical → must be flagged
            (11, "completely different words about database engines here"),
        ],
        "doc_id long, text string",
    )
    flagged = sorted(
        r.doc_id for r in cross_corpus_near_dups(new, old).collect()
    )
    assert flagged == [10]


def test_minhash_bands_consistent_with_candidates(spark, docs):
    # The refactored band helper must reproduce the self-join
    # candidate semantics: pair (a,b) is a candidate iff the band
    # tables intersect on (band, bhash).
    from pos_api_pipeline_spark.llm.dedup import (
        minhash_bands,
        minhash_lsh_candidates,
    )

    cands = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(docs).collect()
    }
    bands = minhash_bands(docs).collect()
    by_key = {}
    for r in bands:
        by_key.setdefault((r.band, r.bhash), set()).add(r.id)
    derived = set()
    for members in by_key.values():
        for a in members:
            for b in members:
                if a < b:
                    derived.add((a, b))
    assert cands == derived


def test_group_centroids_hand_computed(spark):
    from pos_api_pipeline_spark.llm.similarity import group_centroids

    df = spark.createDataFrame(
        [
            (0, "a", [1.0, 0.0]),
            (1, "a", [0.0, 1.0]),
            (2, "b", [2.0, 2.0]),
        ],
        "vec_id long, grp string, embedding array<float>",
    )
    out = {r.grp: r for r in group_centroids(df, "grp").collect()}
    assert out["a"].n_vectors == 2
    assert list(out["a"].centroid) == [0.5, 0.5]
    assert list(out["b"].centroid) == [2.0, 2.0]


def test_centroid_outlier_scores_orders_outliers_last(spark):
    from pos_api_pipeline_spark.llm.similarity import centroid_outlier_scores

    # Three aligned vectors and one orthogonal outlier in one group.
    df = spark.createDataFrame(
        [
            (0, "g", [1.0, 0.05]),
            (1, "g", [0.9, 0.0]),
            (2, "g", [1.1, -0.05]),
            (3, "g", [0.0, 1.0]),
        ],
        "vec_id long, grp string, embedding array<float>",
    )
    rows = {r.vec_id: r.centroid_cosine
            for r in centroid_outlier_scores(df, "grp").collect()}
    assert min(rows, key=rows.get) == 3  # the orthogonal vector
    assert rows[3] < 0.5 < min(rows[i] for i in (0, 1, 2))


def test_strip_html_hand_computed(spark):
    from pos_api_pipeline_spark.llm.text import strip_html

    html = (
        '<html><style>p {}</style><script>if (a < b) { x() }</script>'
        "<h1>Title</h1><p>Hello &amp; welcome to &lt;Spark&gt;"
        " &quot;engine&quot;&#39;s&nbsp;docs</p></html>"
    )
    r = strip_html(
        spark.createDataFrame([(0, html)], "doc_id long, text string")
    ).collect()[0]
    assert r.stripped == 'Title Hello & welcome to <Spark> "engine"\'s docs'
    # Script content (with a bare '<') is gone entirely, not just tags.
    assert "x()" not in r.stripped and "color" not in r.stripped
    assert r.n_chars_stripped == len(html) - len(r.stripped)


def test_standing_band_index_roundtrip(spark, tmp_path):
    from pos_api_pipeline_spark.llm.dedup import (
        build_band_index,
        cross_corpus_near_dups,
        near_dups_against_index,
        update_band_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different content about query engines and plans"
    corpus = spark.createDataFrame(
        [(0, base), (1, other)], "doc_id long, text string"
    )
    idx = str(tmp_path / "band_index")
    build_band_index(corpus, idx)

    delta = spark.createDataFrame(
        [(10, base), (11, "novel text that matches nothing else here")],
        "doc_id long, text string",
    )
    flagged = sorted(
        r.doc_id
        for r in near_dups_against_index(delta, spark, idx).collect()
    )
    assert flagged == [10]
    # Index probe ≡ recomputing cross-corpus from raw text.
    direct = sorted(
        r.doc_id for r in cross_corpus_near_dups(delta, corpus).collect()
    )
    assert flagged == direct

    # Grow the index with the delta; a copy of doc 11 now flags.
    update_band_index(delta, idx)
    delta2 = spark.createDataFrame(
        [(20, "novel text that matches nothing else here")],
        "doc_id long, text string",
    )
    assert [
        r.doc_id
        for r in near_dups_against_index(delta2, spark, idx).collect()
    ] == [20]


def test_image_near_dups_via_perceptual_hash(spark):
    from pos_api_pipeline_spark.llm.multimodal import (
        image_near_dups,
        phash_assets,
    )
    from pos_api_pipeline_spark.llm.png import Image, encode_png

    def checker(flip_one=False):
        # 16x16 gray checkerboard of 4x4 tiles; optionally flip one
        # pixel slightly — a near-duplicate, not an identical file.
        px = bytearray(
            (255 if ((x // 4 + y // 4) % 2 == 0) else 0)
            for y in range(16)
            for x in range(16)
        )
        if flip_one:
            px[0] = 250
        return encode_png(Image(16, 16, 1, px))

    def gradient():
        px = bytearray((x * 16 + y) % 256 for y in range(16) for x in range(16))
        return encode_png(Image(16, 16, 1, px))

    rows = [
        (0, "image", checker(), "image/png", None),
        (1, "image", checker(flip_one=True), "image/png", None),
        (2, "image", gradient(), "image/png", None),
        (3, "audio", b"not an image", "application/octet-stream", None),
    ]
    from pos_api_pipeline_spark.llm.multimodal import ASSET_SCHEMA

    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    hashes = {r.asset_id: r.phash for r in phash_assets(assets).collect()}
    assert hashes[3] is None  # non-PNG → codec boundary, not garbage
    assert hashes[0] is not None and hashes[0] == hashes[1] or (
        bin(hashes[0] ^ hashes[1]).count("1") <= 6
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in image_near_dups(assets).collect()
    }
    assert (0, 1) in pairs  # near-identical boards pair up
    assert all({a, b} != {0, 2} and {a, b} != {1, 2} for a, b in pairs)


def test_cluster_survivor_is_longest_member(spark):
    """Survivor must be the member with the most tokens (ties to the
    lowest id), and the component label the minimum member id."""
    import __spark_entry__ as entry

    out = entry.queries()["near_dup_cluster_survivors"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert out, "sf0.001 corpus has seeded near-dup clusters"
    for r in out:
        assert r.component <= r.survivor_doc_id or r.n_members >= 1
        assert r.n_members >= 2  # components only exist for paired docs


def test_semantic_dedup_hand_computed(spark):
    # Centroids = first 2 ids: c0=[1,0,0,0], c1=[0,1,0,0].
    # Cluster 0: ids 0, 2 (cos(0,2)~0.9999 -> 2 dropped), 4 (cos to
    # both cluster mates ~0.11 -> kept). Cluster 1: ids 1, 3
    # (cos(1,3)~0.994 -> 3 dropped).
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0, 0.0]),
        (3, [0.0, 0.9, 0.1, 0.0]),
        (4, [0.1, 0.0, 0.9, 0.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: r
        for r in similarity.semantic_dedup(
            vecs, dim=4, threshold=0.95, n_centroids=2
        ).collect()
    }
    assert len(out) == 5  # every vector gets a row
    assert {k for k, r in out.items() if r.kept} == {0, 1, 4}
    assert out[2].centroid_id == 0 and not out[2].kept
    assert out[3].centroid_id == 1 and not out[3].kept


def test_semantic_dedup_no_pairs_above_threshold_keeps_all(vectors):
    out = similarity.semantic_dedup(
        vectors, dim=4, threshold=1.01, n_centroids=2
    ).collect()
    assert all(r.kept for r in out)


def test_hashed_linear_scores_hand_computed(spark):
    from pos_api_pipeline_spark.llm.dedup import portable_hash64
    from pos_api_pipeline_spark.llm.text import hashed_linear_scores

    docs = spark.createDataFrame(
        [(0, "good good bad"), (1, "bad"), (2, "")],
        "doc_id long, text string",
    )
    # The stand-in model's milliweight of each token's bucket.
    bucket = F.pmod(portable_hash64(F.col("tok")), F.lit(64))
    w = {
        r.tok: r.w
        for r in spark.createDataFrame([("good",), ("bad",)], "tok string")
        .select(
            "tok",
            (
                F.pmod(
                    portable_hash64(F.concat(F.lit("w:"), bucket.cast("string"))),
                    F.lit(2001),
                )
                - F.lit(1000)
            ).alias("w"),
        )
        .collect()
    }
    out = {r.doc_id: r for r in hashed_linear_scores(docs, n_buckets=64).collect()}
    assert out[0].score == (2 * w["good"] + w["bad"]) / 3000.0
    assert out[0].keep == (out[0].score > 0)
    assert out[1].score == w["bad"] / 1000.0
    # empty doc: row preserved, zero score, not kept at threshold 0
    assert out[2].n_tokens == 0 and out[2].score == 0.0 and not out[2].keep


def test_l2_normalize_unit_norms_and_zero_vector_passthrough(spark):
    import math

    vecs = spark.createDataFrame(
        [(0, [3.0, 4.0]), (1, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in similarity.l2_normalize(vecs).collect()}
    assert out[0].norm == 5.0
    assert out[0].normalized == [0.6, 0.8]
    assert math.isclose(
        sum(x * x for x in out[0].normalized), 1.0, rel_tol=1e-12
    )
    # Zero vector: unchanged, no NaNs.
    assert out[1].norm == 0.0 and out[1].normalized == [0.0, 0.0]


def test_bigram_logprob_hand_computed(spark):
    import math

    from pos_api_pipeline_spark.llm.text import bigram_logprob

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a c"), (2, "x")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_logprob(docs).collect()}
    # Model: C(a b)=1, C(a c)=1, C(a ·)=2 → P = 0.5 for both bigrams;
    # lp is ln(0.5) rounded to 6 dp, exactly what each doc's mean is.
    expected = round(math.log(0.5), 6)
    assert out[0].n_bigrams == 1 and abs(out[0].mean_logprob - expected) < 1e-9
    assert out[1].n_bigrams == 1 and abs(out[1].mean_logprob - expected) < 1e-9
    # single-token doc: no bigrams, null score
    assert out[2].n_bigrams == 0 and out[2].mean_logprob is None


def test_gopher_rule_flags_hand_computed(spark):
    good = "the data and that table have rows with " + "word " * 20
    bullets = "\n".join("- item one two" for _ in range(5))
    symbols = "the of and that have with " + "# " * 30
    docs = spark.createDataFrame(
        [(0, good), (1, bullets), (2, symbols), (3, "")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in text.gopher_quality_flags(docs, min_words=5).collect()
    }
    assert out[0].keep
    assert out[0].stop_hits >= 4 and out[0].alpha_word_ratio == 1.0
    # All 5 lines are bullets → ratio 1.0 > 0.9 → rejected.
    assert out[1].bullet_line_ratio == 1.0 and not out[1].keep
    # 30 '#' over 36 words → symbol ratio > 0.1 → rejected.
    assert out[2].symbol_word_ratio > 0.1 and not out[2].keep
    # Empty doc: 0 words, keep is False (not null).
    assert out[3].n_words == 0 and out[3].keep is False


def test_gopher_unicode_case_semantics(spark):
    # JVM lowercasing is not length- or class-preserving: 'İ' (U+0130)
    # lowers to two code points and Kelvin sign 'K' (U+212A) lowers to
    # ASCII 'k'. The materialized-token rewrite must keep measuring
    # RAW tokens: mean_word_len counts original lengths and the
    # alphabetic probe must not start matching a lowered form.
    dotted_i = "\u0130" * 4  # dotted capital I
    kelvin = "K" * 4  # Kelvin-sign 'KKKK' (not ASCII K)
    t = f"{dotted_i} {kelvin} the of and that have with extra words here now"
    docs = spark.createDataFrame([(0, t)], "doc_id long, text string")
    r = text.gopher_quality_flags(docs, min_words=3).collect()[0]
    assert r.n_words == 12
    # 'İİİİ' and 'KKKK' are length 4 RAW (lowered 'i̇i̇i̇i̇' would be 8):
    # lengths 4+4 + the/of/and/that/have/with (3+2+3+4+4+4)
    # + extra/words/here/now (5+5+4+3) = 45.
    assert abs(r.mean_word_len - 45 / 12) < 1e-12
    # Kelvin-sign token has no A-Za-z char raw; lowered it would.
    assert abs(r.alpha_word_ratio - 10 / 12) < 1e-12
    assert r.stop_hits == 6  # the of and that have with

    q = text.quality_score(docs).collect()[0]
    assert abs(q.mean_token_len - 45 / 12) < 1e-12


def test_gopher_ellipsis_lines(spark):
    t = "one line fine\nsecond line trails...\nthird line trails…"
    docs = spark.createDataFrame([(0, t)], "doc_id long, text string")
    r = text.gopher_quality_flags(docs).collect()[0]
    assert abs(r.ellipsis_line_ratio - 2 / 3) < 1e-12


def test_char_entropy_hand_computed(spark):
    import math

    docs = spark.createDataFrame(
        [(0, "aaaa"), (1, "ab"), (2, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in text.char_entropy(docs).collect()}
    # Uniform single char: H = 0 (ln(1) rounds to 0 exactly).
    assert out[0].n_chars_counted == 4 and out[0].entropy == 0.0
    # Two equiprobable chars: H = ln 2 (to the 6-dp rounding).
    assert abs(out[1].entropy - math.log(2)) < 1e-5
    assert out[2].n_chars_counted == 0 and out[2].entropy is None


def test_script_ratios_mixed_scripts(spark):
    docs = spark.createDataFrame(
        [(0, "ab бв 汉字 12")], "doc_id long, text string"
    )
    r = text.script_ratios(docs).collect()[0]
    assert r.n_chars_total == 11
    assert (r.n_latin, r.n_cyrillic, r.n_han, r.n_digit, r.n_space) == (
        2, 2, 2, 2, 3,
    )
    assert abs(r.latin_ratio - 2 / 11) < 1e-12


def test_compression_ratio_signal_direction(spark):
    import zlib

    rep = "spam ham " * 200        # highly repetitive → high ratio
    prose = "The quick brown fox jumps over the lazy dog near a bank."
    docs = spark.createDataFrame(
        [(0, rep), (1, prose), (2, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in text.compression_ratio(docs).collect()}
    assert out[0].n_compressed == len(zlib.compress(rep.encode(), 6))
    assert out[0].ratio > 10 > out[1].ratio > 0.5
    assert out[2].n_bytes == 0 and out[2].ratio is None
    assert out[1].n_bytes == len(prose.encode())


def test_keep_best_duplicate_picks_highest_score(spark):
    docs = spark.createDataFrame(
        [
            (0, "b a"),            # same token set as 1 and 2
            (1, "a b a  b"),       # longest member of the group → kept
            (2, "a b"),
            (3, "unique words"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in dedup.keep_best_duplicate(docs).collect())
    assert kept == [1, 3]


def test_minhash_confirmed_pairs_filters_false_positives(spark):
    a = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(0, a), (1, a + " iota"), (2, "totally different words entirely here now")],
        "doc_id long, text string",
    )
    rows = dedup.minhash_confirmed_pairs(docs, threshold=0.3).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in rows}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.5
    assert all(k == (0, 1) for k in pairs)
    # Confirmation is EXACT jaccard: recompute by hand.
    import itertools

    def shingles(t):
        w = t.lower().split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    sa, sb = shingles(a), shingles(a + " iota")
    assert abs(pairs[(0, 1)] - len(sa & sb) / len(sa | sb)) < 1e-12


def test_hard_negatives_exclude_same_label(spark):
    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [0.99, 0.1], "a"),   # same label: never a negative for 0
        (2, [0.95, 0.2], "b"),   # closest cross-label
        (3, [0.0, 1.0], "b"),
        (4, [-1.0, 0.0], "c"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    qs = df.filter(F.col("vec_id") == 0)
    out = similarity.hard_negatives(df, qs, k=2).collect()
    assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)] == [2, 3]
    assert all(r.neighbor_label != "a" for r in out)


def test_knn_predict_labels_majority_and_ties(spark):
    rows = [
        (0, [1.0, 0.0], "x"),
        (1, [0.9, 0.1], "a"),
        (2, [0.9, -0.1], "a"),
        (3, [0.8, 0.0], "b"),
        (4, [0.0, 1.0], "b"),
        (5, [0.0, -1.0], "b"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    qs = df.filter(F.col("vec_id") == 0)
    # cosines vs [1,0]: id3 ([0.8,0] colinear) = 1.0 > id1 = id2 ≈ 0.994.
    r = similarity.knn_predict_labels(df, qs, k=3).collect()[0]
    # 3-NN of 0 are {3, 1, 2}: votes a=2, b=1 → predict a, incorrect.
    assert r.predicted_label == "a" and r.n_votes == 2 and not r.correct
    # k=2: neighbors {3, 1} (1 beats 2 on the id tiebreak) → vote tie
    # a=1, b=1 → smallest label wins.
    r2 = similarity.knn_predict_labels(df, qs, k=2).collect()[0]
    assert r2.predicted_label == "a" and r2.n_votes == 1
    # Vote tie at k=4 ({3,1,2,4}: a=2, b=2) → smallest label wins.
    r4 = similarity.knn_predict_labels(df, qs, k=4).collect()[0]
    assert r4.predicted_label == "a" and r4.n_votes == 2


def test_random_projection_preserves_cluster_structure(spark):
    """JL preserves GROSS separation, not fine intra-cluster order:
    every projected-space top-k neighbor must come from the query's
    own (well-separated) cluster. Exact top-k recall inside a tight
    cluster is ~k/cluster_size by construction — which is what the
    recall measurement is for: it tells you when out_dim is too low
    for the separation your corpus actually has."""
    import random

    rng = random.Random(7)
    rows = []
    dim = 64
    for c in range(5):
        center = [rng.gauss(0, 1) * 5 for _ in range(dim)]
        for j in range(40):
            rows.append(
                (c * 40 + j, [x + rng.gauss(0, 0.05) for x in center])
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    proj = similarity.random_projection(df, dim, 16).select(
        "vec_id", F.col("projected").alias("embedding")
    )
    qs = proj.filter(F.col("vec_id") < 10)  # all from cluster 0
    topk = similarity.brute_force_topk(proj, qs, k=10).collect()
    assert len(topk) == 100
    assert all(r.neighbor_id < 40 for r in topk)  # same cluster only
    # and the measurement itself runs end to end on this frame
    r = similarity.projection_recall_at_k(
        df, dim=dim, out_dim=16, k=10, n_queries=10
    ).collect()[0]
    assert r.n_truth_pairs == 100 and 0.0 <= r.recall_at_10 <= 1.0


def test_random_projection_deterministic_and_scaled(spark):
    df = spark.createDataFrame(
        [(0, [1.0] * 64)], "vec_id long, embedding array<double>"
    )
    a = similarity.random_projection(df, 64, 16).collect()[0].projected
    b = similarity.random_projection(df, 64, 16).collect()[0].projected
    assert a == b and len(a) == 16
    # components are 0.25 * (sum of ±1) for the all-ones vector:
    # multiples of 0.25, bounded by 16
    assert all(abs(x) <= 16 and (x / 0.25) == int(x / 0.25) for x in a)


def test_dedupe_corpus_minhash_confirmed(docs):
    # docs: 0==3 exact, 4 reorder of 0, 1 one-word near-dup of 0.
    # Confirmation at a high threshold keeps the near-dup (1) but
    # still collapses exact/reordered duplicates.
    kept = {
        r.doc_id
        for r in dedup.apply_pair_dedup(
            docs, dedup.minhash_confirmed_pairs(docs, threshold=0.9)
        ).collect()
    }
    assert 0 in kept and 3 not in kept and 2 in kept
    # At a permissive threshold the near-dup is dropped too.
    loose = {
        r.doc_id
        for r in dedup.apply_pair_dedup(
            docs, dedup.minhash_confirmed_pairs(docs, threshold=0.3)
        ).collect()
    }
    assert loose <= kept and 1 not in loose


def test_vocab_kl_divergence_hand_computed(spark):
    import math

    # delta: 2×'a' 1×'b'; corpus: 3×'a' 3×'b'. p=(2/3,1/3), q=(.5,.5)
    delta = spark.createDataFrame([(0, "a a b")], "doc_id long, text string")
    corp = spark.createDataFrame(
        [(0, "a a b"), (1, "a b b")], "doc_id long, text string"
    )
    r = text.vocab_kl_divergence(delta, corp).collect()[0]
    assert (r.n_delta_tokens, r.n_corpus_tokens) == (3, 6)
    assert r.oov_mass == 0.0
    expect = (2 / 3) * math.log((2 / 3) / 0.5) + (1 / 3) * math.log(
        (1 / 3) / 0.5
    )
    assert abs(r.kl_nats - expect) < 1e-4
    # identical distributions → KL 0
    same = text.vocab_kl_divergence(corp, corp).collect()[0]
    assert abs(same.kl_nats) < 1e-9
    # OOV terms excluded from KL but reported as mass
    oov = spark.createDataFrame([(0, "a zzz")], "doc_id long, text string")
    r2 = text.vocab_kl_divergence(oov, corp).collect()[0]
    assert r2.oov_mass == 0.5


def test_vocab_kl_fully_oov_delta_is_null_kl_full_oov_mass(spark):
    corp = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    delta = spark.createDataFrame([(0, "x y z")], "doc_id long, text string")
    r = text.vocab_kl_divergence(delta, corp).collect()[0]
    assert r.kl_nats is None and r.oov_mass == 1.0


def test_apply_pair_dedup_best_keeps_higher_score(spark):
    docs = spark.createDataFrame(
        [(0, "short"), (1, "a much longer better capture"), (2, "mid text")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(0, 1)], "id_a long, id_b long"
    )
    kept = {
        r.doc_id
        for r in dedup.apply_pair_dedup_best(
            docs, pairs, score=F.length("text")
        ).collect()
    }
    # higher-score member (1) survives even though it has the higher id
    assert kept == {1, 2}
    # tie → higher id drops (parity with apply_pair_dedup)
    tie_docs = spark.createDataFrame(
        [(0, "abc"), (1, "xyz")], "doc_id long, text string"
    )
    kept2 = {
        r.doc_id
        for r in dedup.apply_pair_dedup_best(
            tie_docs, pairs, score=F.length("text")
        ).collect()
    }
    assert kept2 == {0}
    # chain a~b, b~c with ascending scores: only the best survives
    chain_docs = spark.createDataFrame(
        [(0, "a"), (1, "bb"), (2, "ccc")], "doc_id long, text string"
    )
    chain_pairs = spark.createDataFrame(
        [(0, 1), (1, 2)], "id_a long, id_b long"
    )
    kept3 = {
        r.doc_id
        for r in dedup.apply_pair_dedup_best(
            chain_docs, chain_pairs, score=F.length("text")
        ).collect()
    }
    assert kept3 == {2}


def test_bm25_ranks_matching_docs(spark):
    from pos_api_pipeline_spark.llm.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark engine"),
            (2, "spark engine"),
            (3, "engine room only"),
            (4, "completely unrelated words here"),
            (5, "spark spark spark spark spark spark spark spark"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, ["spark"], k=10).collect()
    ids = [r.id for r in out]
    assert set(ids) == {1, 2, 5}  # only matching docs
    # doc 2 (short, 1 hit) vs doc 1 (3 hits of 4): tf saturation +
    # length norm rank 1 and 5 above 2
    assert ids[-1] == 2
    assert all(r.n_terms_matched == 1 for r in out)
    # multi-term query counts matched terms
    two = bm25_topk(docs, ["spark", "room"], k=10).collect()
    m = {r.id: r.n_terms_matched for r in two}
    assert m[3] == 1 and m[1] == 1


def test_connected_components_matches_union_find(spark, cc_reference):
    # chain + triangle + pair + hub
    pairs = (
        [(i, i + 1) for i in range(8)]
        + [(20, 21), (21, 22), (20, 22), (30, 31)]
        + [(40, x) for x in range(41, 46)]
    )
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r.id: r.component for r in dedup.connected_components(df).collect()}
    assert got == cc_reference(pairs)
    assert got[8] == 0 and got[22] == 20 and got[45] == 40


def test_connected_components_handles_deep_chains(spark):
    """A 30-hop chain converges within the default round bound: the
    large-star/small-star rounds grow with log n, not with the
    chain's diameter."""
    chain = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    labels = {
        r.id: r.component for r in dedup.connected_components(df).collect()
    }
    assert set(labels.values()) == {0} and len(labels) == 31


def test_connected_components_keeps_self_pair_singletons(spark, cc_reference):
    pairs = [(1, 2), (7, 7)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r.id: r.component for r in dedup.connected_components(df).collect()}
    assert got == cc_reference(pairs) == {1: 1, 2: 1, 7: 7}


def test_prototype_prune_keeps_hardest_per_cluster(spark):
    from pos_api_pipeline_spark.llm.similarity import prototype_prune

    import math

    # Two clusters along different axes + in-cluster spread. Ids 0
    # and 1 span BOTH axes so deterministic_centroids (first 2 by id)
    # actually picks one centroid per cluster — every later vector
    # has a non-trivial nearest-centroid choice.
    def vec(axis, jitter):
        v = [0.0] * 8
        v[axis] = 1.0
        v[(axis + 4) % 8] = jitter
        return v

    rows = (
        [(0, vec(0, 0.0)), (1, vec(1, 0.0))]
        + [(2 + i, vec(0, 0.05 * (i + 1))) for i in range(5)]
        + [(10 + i, vec(1, 0.05 * (i + 1))) for i in range(5)]
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = prototype_prune(emb, keep_fraction=0.5, n_centroids=2).collect()
    assert len(out) == 12
    # cluster assignment is real: axis-0 docs -> centroid 0, axis-1 -> 1
    assert all(
        r.centroid_id == (0 if r.vec_id < 10 and r.vec_id != 1 else 1)
        for r in out
    )
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r.centroid_id, []).append(r)
    for members in by_cluster.values():
        kept = [r for r in members if r.kept]
        # cluster-balanced: ceil(half) kept in EVERY cluster
        assert len(kept) == math.ceil(len(members) / 2)
        # hardest kept: every kept score <= every dropped score
        dropped = [r.prototypicality for r in members if not r.kept]
        if dropped:
            assert max(r.prototypicality for r in kept) <= min(dropped)


def test_kmv_small_union_reduces_to_exact(spark):
    """When the pooled union holds fewer than k distinct hashes the
    KMV estimate must EQUAL the exact Jaccard/containment (dividing
    by the constant k would bias it low by k/|union|)."""
    from pos_api_pipeline_spark.llm.dedup import kmv_corpus_jaccard

    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "a"),
        (1, "alpha beta gamma delta eta theta", "a"),
        (2, "alpha beta gamma delta epsilon zeta", "b"),
        (3, "iota kappa lambda mu nu xi", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, corpus string")
    row = kmv_corpus_jaccard(
        df, F.col("corpus"), "a", "b", k=256, n=3
    ).collect()[0]
    # tiny corpus: union << k, so the sketch IS the union
    assert row.n_hashes_a + row.n_hashes_b - row.n_common < 256
    assert row.kmv_jaccard == row.exact_jaccard
    assert row.kmv_containment_a == row.exact_containment_a
    assert row.n_common > 0  # docs 0 and 2 share every shingle


def test_sq8_code_decode_bounds(spark, sq8_codes):
    """SQ8 codes live in [0,255]; degenerate (constant) dimensions
    encode 0; dequantized values stay inside the trained min/max box
    and within half a quantization step of the input."""
    from pos_api_pipeline_spark.llm.similarity import sq8_minmax, sq8_topk

    rows = [
        (0, [0.0, 1.0, 5.0, -2.0]),
        (1, [1.0, 1.0, 0.0, 2.0]),
        (2, [0.5, 1.0, 2.5, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    enc = sq8_codes(emb, 4)
    assert all(0 <= c <= 255 for codes in enc.values() for c in codes)
    # dim 1 is constant -> degenerate range -> code 0 everywhere
    assert all(codes[1] == 0 for codes in enc.values())
    # extremes map to the code range ends
    assert enc[0][0] == 0 and enc[1][0] == 255
    assert enc[0][2] == 255 and enc[1][2] == 0
    st = sq8_minmax(emb, dim=4).collect()[0]
    for vid, x in rows:
        for d in range(4):
            rng = st.maxs[d] - st.mins[d]
            decoded = st.mins[d] + enc[vid][d] * rng / 255.0
            if rng == 0:
                assert decoded == st.mins[d]
            else:
                assert abs(decoded - x[d]) <= rng / 255.0 / 2 + 1e-12
    # ADC search returns every query with exactly k ranked neighbors
    out = sq8_topk(emb, emb, dim=4, k=2).collect()
    assert len(out) == 6
    assert all(r.rank in (1, 2) for r in out)


def test_sq8_recall_perfect_on_coarse_corpus(spark):
    """On a corpus whose neighbors are far apart relative to the
    quantization step, SQ8 must lose nothing: recall@k == 1.0."""
    from pos_api_pipeline_spark.llm.similarity import sq8_recall_at_k

    # 12 well-separated directions in 8 dims
    rows = []
    for i in range(12):
        v = [0.0] * 8
        v[i % 8] = 1.0 + 0.3 * (i // 8)
        v[(i + 3) % 8] = 0.1 * i
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    row = sq8_recall_at_k(emb, dim=8, k=3, n_queries=4).collect()[0]
    assert row.n_truth_pairs == 12
    assert row.recall_at_3 == 1.0
