"""Rule-7 exact-duplicate collapse for the n-gram Jaccard, MinHash-LSH
and SimHash near-dup detectors (llm/dedup.py): shingles and signatures
are computed once per DISTINCT text and pairs expand back to doc grain
at the very end. Contract mirrors the r8 embedding collapse:
BIT-PARITY with the uncollapsed form whenever no bucket trips
max_bucket (Jaccard: no family trips max_family, and the max_df cap
counts expanded docs); under the cap, bucket sizes count distinct
texts and a linear guard applies at expansion grain instead.

Reference behavior: near-dedup over the documents table, same family
as reference etl/transform.py's drop_duplicates (exact) generalized
to the standard LLM-corpus near-dup stack.
"""

import collections
import random

import pytest
from pyspark.sql import functions as F

from pos_api_pipeline_spark.llm import dedup as D


def _replica_rows(seed=7, n_groups=12, max_grp=5):
    """Mixed corpus: replica groups of varying size over a small text
    space (so near-dup buckets collide across groups too), plus a few
    sub-3-token docs that drop out of shingling."""
    rng = random.Random(seed)
    rows = []
    i = 0
    for g in range(n_groups):
        base = (
            f"the shared quick brown fox variant {g % 4} jumps over "
            f"the lazy dog number {g % 3}"
        )
        for _ in range(rng.randint(1, max_grp)):
            rows.append((i, base))
            i += 1
    rows += [(i, "too short"), (i + 1, "")]
    # shuffled ids so group mins aren't contiguous
    ids = [r[0] for r in rows]
    rng.shuffle(ids)
    return [(ids[k], rows[k][1]) for k in range(len(rows))]


def _replica_corpus(spark, seed=7):
    return spark.createDataFrame(_replica_rows(seed), "doc_id long, text string")


def _key_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


#: detector -> (fixture seed, result columns, run(docs, cap, collapse)).
#: ``jaccard_max_df`` caps buckets at 8 docs: on the seed-7 fixture
#: the "fox variant 0" bucket holds 9 docs but 3 distinct texts, so the
#: two grains agree only if the collapsed DF cap weighs each bucket by
#: its expanded doc count.
_PARITY_CASES = {
    "jaccard": (
        7,
        ["id_a", "id_b", "shared", "jaccard"],
        lambda docs, cap, c: D.ngram_jaccard_pairs(
            docs, threshold=0.2, max_family=cap, collapse_exact=c
        ),
    ),
    "jaccard_max_df": (
        7,
        ["id_a", "id_b", "shared", "jaccard"],
        lambda docs, cap, c: D.ngram_jaccard_pairs(
            docs, threshold=0.1, max_df=8, max_family=cap, collapse_exact=c
        ),
    ),
    "minhash": (
        7,
        ["id_a", "id_b", "n_matching_bands"],
        lambda docs, cap, c: D.minhash_lsh_candidates(
            docs, max_bucket=cap, collapse_exact=c
        ),
    ),
    "simhash": (
        11,
        ["id_a", "id_b", "hamming"],
        lambda docs, cap, c: D.simhash_near_dups(
            docs, max_hamming=16, max_bucket=cap, collapse_exact=c
        ),
    ),
}


@pytest.mark.parametrize("max_bucket", [None, D.DEFAULT_MAX_BUCKET])
@pytest.mark.parametrize("detector", sorted(_PARITY_CASES))
def test_collapse_bit_parity_uncapped(spark, detector, max_bucket):
    """Below the caps the distinct-text grain returns exactly the
    doc-grain pairs and values, for every text detector."""
    seed, cols, run = _PARITY_CASES[detector]
    docs = _replica_corpus(spark, seed=seed)
    a = run(docs, max_bucket, True)
    b = run(docs, max_bucket, False)
    assert _key_rows(a, cols) == _key_rows(b, cols)
    assert _key_rows(b, cols), "vacuous parity: no pairs"


def test_jaccard_max_df_case_caps_by_doc_count():
    """The jaccard_max_df parity case checks the DF-cap weight only if
    some bucket is over ``max_df`` by doc count and under it by
    distinct-text count."""
    docs, texts = collections.Counter(), collections.defaultdict(set)
    for _, text in _replica_rows(7):
        toks = text.split()
        for sh in {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}:
            docs[sh] += 1
            texts[sh].add(text)
    assert any(len(texts[sh]) <= 8 < docs[sh] for sh in docs)


def test_minhash_collapse_within_group_counts_all_bands(spark):
    """Replica pairs agree on every band: n_matching_bands == bands
    for within-group pairs, exactly like the doc-grain form."""
    docs = spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon"),
         (1, "alpha beta gamma delta epsilon"),
         (2, "completely different text tokens here")],
        "doc_id long, text string",
    )
    rows = D.minhash_lsh_candidates(docs, bands=4).collect()
    assert [(r.id_a, r.id_b, r.n_matching_bands) for r in rows] == [(1, 3, 4)]


def test_minhash_collapse_expansion_guard_linear(spark):
    """A replica family over the cap expands to star id pairs —
    output linear in family size, components preserved."""
    n = 500
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("same boilerplate text repeated in every document").alias(
            "text"
        ),
    )
    rows = D.minhash_lsh_candidates(docs, max_bucket=50).collect()
    assert len(rows) == n - 1
    assert all(r.id_a == 0 and r.n_matching_bands == 4 for r in rows)


def test_minhash_collapse_cross_group_guard(spark):
    """Two replica families whose fan-out exceeds the cap emit the
    two stars (a0 x B) U ((A\\a0) x b0) instead of |A|x|B| pairs."""
    text_a = "the shared quick brown fox jumps over the lazy dog one"
    text_b = "the shared quick brown fox jumps over the lazy dog two"
    rows = [(i, text_a) for i in range(40)] + [
        (100 + i, text_b) for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = D.minhash_lsh_candidates(docs, max_bucket=100).collect()
    cross = [(r.id_a, r.id_b) for r in got if (r.id_a < 100) != (r.id_b < 100)]
    # The two texts differ in one trailing token, so with 4 bands of
    # 4 hashes they MUST share at least one band for this test to
    # exercise the cross-family guard at all — assert it, so a hash
    # or shingling change can't silently turn this test into a no-op.
    assert cross, "fixture texts no longer band-collide; pick closer texts"
    # 40*40=1600 > 100 -> two stars: 40 + 39 pairs
    assert len(cross) == 79
    assert all(a == 0 or b == 100 for a, b in cross)
    # within-family pairs stay all-pairs (40*39/2 each, fan-out 40<=100)
    within_a = [(r.id_a, r.id_b) for r in got if r.id_a < 100 and r.id_b < 100]
    assert len(within_a) == 40 * 39 // 2


def test_simhash_collapse_replicas_hamming_zero(spark):
    docs = spark.createDataFrame(
        [(9, "alpha beta gamma delta"), (4, "alpha beta gamma delta"),
         (5, "unrelated words entirely disjoint")],
        "doc_id long, text string",
    )
    rows = D.simhash_near_dups(docs, max_hamming=3).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in rows}
    assert got[(4, 9)] == 0


def test_collapse_signature_computed_once_per_distinct_text(spark):
    """The collapsed plan aggregates by text before shingling: the
    scan side of the signature pipeline sees distinct texts, not
    docs. Verify via the physical plan: exactly one scan of the
    input relation feeds the banding (the mapping joins reuse the
    groupBy(text) exchange instead of rescanning)."""
    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text variant "), (F.col("id") % 5).cast("string"))
        .alias("text"),
    )
    df = D.minhash_lsh_candidates(docs)
    df.collect()  # finalize AQE so ReusedExchange nodes materialize
    plan = df._jdf.queryExecution().executedPlan().toString()
    # final plan: map_a reuses the groupBy(text) shuffle, map_b reuses
    # map_a's broadcast -> one corpus scan feeds everything
    final = plan.split("Initial Plan")[0]
    assert final.count("ReusedExchange") >= 2


def test_ngram_jaccard_max_family_bounds_expansion(spark):
    """The r9 scale contract: a replica family past max_family emits
    star pairs (linear), with connected components preserved."""
    n = 200
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same exact boilerplate document text here now").alias(
            "text"
        ),
    )
    rows = D.ngram_jaccard_pairs(docs, max_family=50).collect()
    assert len(rows) == n - 1
    assert all(r.id_a == 0 and r.jaccard == 1.0 for r in rows)
    # None restores the exact all-pairs diagnostic output
    exact = D.ngram_jaccard_pairs(docs, max_family=None).count()
    assert exact == n * (n - 1) // 2


def test_ngram_jaccard_max_family_cross_guard_components(spark, cc_reference):
    """Cross-family fan-out past the cap -> two stars; the capped and
    exact outputs have identical connected components."""
    text_a = "alpha beta gamma delta epsilon zeta eta theta"
    text_b = "alpha beta gamma delta epsilon zeta eta iota"
    rows = [(i, text_a) for i in range(30)] + [
        (1000 + i, text_b) for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = D.ngram_jaccard_pairs(docs, threshold=0.3, max_family=100)
    exact = D.ngram_jaccard_pairs(docs, threshold=0.3, max_family=None)
    assert capped.count() < exact.count()

    def comps(pairs):
        return cc_reference(pairs.select("id_a", "id_b").collect())

    assert comps(capped) == comps(exact)


def test_pair_chunk_windows_bit_parity(spark, monkeypatch):
    """PAIR_CHUNK windowing (r10): member i's tail is enumerated in
    at-most-chunk windows that PARTITION the tail — output must be
    bit-identical at any window width, including widths that force
    multi-window rows on every bucket and on capped star rows. Run
    across all three text detectors and both collapse forms."""
    random.seed(10)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = []
    for i in range(120):
        base = " ".join(random.choices(words, k=12))
        rows.append((i, base))
        if i % 3 == 0:  # exact replicas for the collapsed forms
            rows.append((1000 + i, base))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run_all():
        return {
            "jac": sorted(
                map(tuple, D.ngram_jaccard_pairs(
                    docs, n=2, threshold=0.2, collapse_exact=False
                ).collect())
            ),
            "jac_c": sorted(
                map(tuple, D.ngram_jaccard_pairs(
                    docs, n=2, threshold=0.2, collapse_exact=True
                ).collect())
            ),
            "mh": sorted(
                map(tuple, D.minhash_lsh_candidates(
                    docs, collapse_exact=False
                ).collect())
            ),
            "mh_c": sorted(
                map(tuple, D.minhash_lsh_candidates(
                    docs, collapse_exact=True
                ).collect())
            ),
            "sh": sorted(
                map(tuple, D.simhash_near_dups(
                    docs, max_hamming=20, collapse_exact=False
                ).collect())
            ),
            "sh_c": sorted(
                map(tuple, D.simhash_near_dups(
                    docs, max_hamming=20, collapse_exact=True
                ).collect())
            ),
            "star": sorted(
                map(tuple, D.minhash_lsh_candidates(
                    docs, max_bucket=5, collapse_exact=False
                ).collect())
            ),
        }

    monkeypatch.setattr(D, "PAIR_CHUNK", None)
    want = run_all()
    for width in (1, 3, 1024):
        monkeypatch.setattr(D, "PAIR_CHUNK", width)
        got = run_all()
        assert got == want, f"chunk={width}"


def test_megastar_bucket_single_row_parity(spark):
    """Mega-star regime (r11): a capped bucket whose size dwarfs the
    window width must emit its star pairs from ONE left row (width
    widens to the whole tail per-row), not ceil(b/chunk) rows each
    copying the full members array — and the pairs must be identical
    to the unwindowed form at every width, selfs included."""
    members = [
        {"id": i, "grp": 3 if i % 50 == 0 else 1} for i in range(1, 301)
    ]
    buckets = spark.createDataFrame(
        [(members,)],
        "members array<struct<id:long,grp:int>>",
    )

    def pairs_at(chunk):
        return sorted(
            (r.p.id_a, r.p.id_b)
            for r in D._exploded_member_pairs(
                buckets,
                max_bucket=10,
                include_selfs=True,
                chunk=chunk,
            ).collect()
        )

    want = pairs_at(None)
    # star set: (m1, m2..m300) = 299 pairs + 6 grp>1 self pairs
    assert len(want) == 299 + 6
    for width in (1, 7, 64):
        assert pairs_at(width) == want, f"chunk={width}"
    # Control: the UNCAPPED twin at the same width still enumerates
    # the full quadratic pair set through multi-window rows — the
    # width widening applies only to capped star rows.
    uncapped = sorted(
        (r.p.id_a, r.p.id_b)
        for r in D._exploded_member_pairs(
            buckets, max_bucket=None, chunk=7
        ).collect()
    )
    assert len(uncapped) == 300 * 299 // 2


def test_resolve_collapse_pins_and_cache_bounds(spark, monkeypatch):
    """Explicit ``collapse_exact`` pins win and leave no probe state;
    the probe cache is keyed on the owning session's applicationId
    and FIFO-bounded."""
    docs = spark.createDataFrame(
        [(i, "same text every time") for i in range(10)],
        "doc_id long, text string",
    )
    D._distinct_ratio_cache.clear()
    assert D._resolve_collapse(docs, "text", None)[0] is True  # replica-dense
    key = next(iter(D._distinct_ratio_cache))
    assert key[0] == spark.sparkContext.applicationId

    # Explicit pins always win, with zero probe state.
    D._distinct_ratio_cache.clear()
    assert D._resolve_collapse(docs, "text", True)[0] is True
    assert D._resolve_collapse(docs, "text", False)[0] is False
    assert not D._distinct_ratio_cache

    # FIFO bound: the cache never exceeds the configured max.
    monkeypatch.setattr(D, "_DISTINCT_RATIO_CACHE_MAX", 2)
    D._distinct_ratio_cache.clear()
    for i in range(3):
        d = spark.createDataFrame(
            [(j, f"text {j} probe {i}") for j in range(4)],
            "doc_id long, text string",
        )
        D._resolve_collapse(d, "text", None)
    assert len(D._distinct_ratio_cache) <= 2


def test_probe_file_subset_stride_pick():
    """Deterministic, evenly-spread, bounded: n//8 clamped to
    [4, 32], full list when too small to subsample."""
    files = [f"part-{i:05d}.parquet" for i in range(256)]
    picked = D._probe_file_subset(files)
    assert picked == D._probe_file_subset(list(reversed(files)))  # sorted
    assert len(picked) == 32  # 256//8
    assert len(set(picked)) == len(picked)
    # evenly spread: every consecutive gap is the stride +/- 1
    idx = [files.index(p) for p in picked]
    gaps = {b - a for a, b in zip(idx, idx[1:])}
    assert gaps <= {7, 8, 9}
    # huge listings stay capped at 32; tiny ones return everything
    assert len(D._probe_file_subset([f"{i}.parquet" for i in range(10_000)])) == 32
    small = [f"{i}.parquet" for i in range(5)]
    assert D._probe_file_subset(small) == sorted(small)


def test_sampled_probe_decisions_and_fallbacks(spark, tmp_path):
    """r12: collapse auto-probe reads a stride-picked file subset
    instead of the full corpus. Replica-dense multi-file corpus →
    collapse (agrees with full probe); all-distinct multi-file →
    uncollapsed (agrees); single-file / in-memory corpora fall back
    to the exact full probe."""
    # 10-way replica corpus scattered over 16 files.
    rep = spark.createDataFrame(
        [(i, f"text {i % 200}") for i in range(2000)],
        "doc_id long, text string",
    )
    rep_path = str(tmp_path / "rep")
    rep.repartition(16).write.parquet(rep_path)
    rep_df = spark.read.parquet(rep_path)
    assert len(rep_df.inputFiles()) >= D.COLLAPSE_PROBE_MIN_FILES
    sampled = D._sampled_probe_frame(rep_df, "text", rep_df.inputFiles())
    assert sampled is not None
    assert len(sampled.inputFiles()) < len(rep_df.inputFiles())
    D._distinct_ratio_cache.clear()
    assert D._resolve_collapse(rep_df, "text", None)[0] is True

    # All-distinct corpus over 16 files → uncollapsed, and the
    # sampled ratio (~1.0) sits above the escalation band so no
    # full pass runs; decision equals the full probe's.
    dist = spark.createDataFrame(
        [(i, f"unique text {i}") for i in range(2000)],
        "doc_id long, text string",
    )
    dist_path = str(tmp_path / "dist")
    dist.repartition(16).write.parquet(dist_path)
    dist_df = spark.read.parquet(dist_path)
    D._distinct_ratio_cache.clear()
    assert D._resolve_collapse(dist_df, "text", None)[0] is False
    assert D._distinct_ratio(dist_df, "text") > D.COLLAPSE_AUTO_MAX_DISTINCT

    # Fallbacks: in-memory frame (no input files) and single-file
    # corpus both take the exact full probe.
    assert D._sampled_probe_frame(rep, "text", rep.inputFiles()) is None
    one_path = str(tmp_path / "one")
    rep.coalesce(1).write.parquet(one_path)
    one_df = spark.read.parquet(one_path)
    assert len(one_df.inputFiles()) < D.COLLAPSE_PROBE_MIN_FILES
    assert D._sampled_probe_frame(one_df, "text", one_df.inputFiles()) is None
    D._distinct_ratio_cache.clear()
    assert D._resolve_collapse(one_df, "text", None)[0] is True

    # A derived text column that doesn't exist in the raw files
    # falls back to the full probe rather than probing the wrong
    # column.
    derived = rep_df.withColumn("norm_text", F.lower("text"))
    assert (
        D._sampled_probe_frame(derived, "norm_text", derived.inputFiles())
        is None
    )
    D._distinct_ratio_cache.clear()
    assert D._resolve_collapse(derived, "norm_text", None)[0] is True


def test_cap_guard_skippable_bounds():
    """Pure decision table: None stats / None cap never skip; the
    uncollapsed arm skips on the EXACT row count; the collapsed arm
    derates the HLL distinct estimate by _HLL_DISTINCT_SAFETY (1.4 —
    covers a 5.7-sigma underestimate at rsd 5%)."""
    skip = D._cap_guard_skippable
    assert skip(None, 100, collapsed=False) is False
    assert skip((50, 10), None, collapsed=False) is False
    # uncollapsed: bucket population bounded by exact row count
    assert skip((100, 10), 100, collapsed=False) is True
    assert skip((101, 10), 100, collapsed=False) is False
    # collapsed: bounded by derated HLL distinct, rows irrelevant
    assert skip((1_000_000, 71), 100, collapsed=True) is True  # 71*1.4<100
    assert skip((1_000_000, 72), 100, collapsed=True) is False  # 72*1.4>100
    # the shared per-arm predicate
    needed = D._cap_guard_needed((100, 10), 100)
    assert needed(False) is False and needed(True) is False
    assert D._cap_guard_needed(None, 100)(False) is True
    assert D._cap_guard_needed((100, 10), None)(False) is False


def test_probe_full_stats_certify_guard_skip(spark):
    """r12 follow-up (AB_sf10_semantic_dedup_r12.json measured the
    over-cap stats guard at 1.32x on a provably-safe corpus): when
    the collapse probe's FULL pass proves no bucket can be over-cap,
    the vector family's guard sub-plan disappears (no _rep_vec
    columns in the optimized plan) with bit-identical output; pinned
    decisions keep the guard (no probe, no proof); sampled-only
    decisions never certify."""
    from pos_api_pipeline_spark.llm import similarity as S

    # 3-way replica families, in-memory -> full-probe fallback.
    emb = spark.createDataFrame(
        [
            (i, [float(1 + (i % 40)), float(2 + (i % 40)), 1.0, 0.5])
            for i in range(120)
        ],
        "vec_id long, embedding array<double>",
    )
    D._distinct_ratio_cache.clear()
    collapse, stats = D._resolve_collapse(emb, "embedding", None)
    assert collapse is True
    assert stats is not None and stats[0] == 120 and 30 <= stats[1] <= 50
    # Cached retrieval returns the same stats.
    assert D._resolve_collapse(emb, "embedding", None) == (
        collapse,
        stats,
    )
    # Pinned: no probe, no stats.
    assert D._resolve_collapse(emb, "embedding", True) == (True, None)

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    auto = S.semantic_dedup(emb, dim=4, threshold=0.999, n_centroids=4)
    pinned = S.semantic_dedup(
        emb, dim=4, threshold=0.999, n_centroids=4, collapse_exact=True
    )
    assert "_rep_vec" not in plan(auto)  # guard certified away
    assert "_rep_vec" in plan(pinned)  # no proof -> guard stays
    key = lambda r: r.vec_id  # noqa: E731
    assert sorted(auto.collect(), key=key) == sorted(
        pinned.collect(), key=key
    )

    p_auto = S.embedding_near_dup_pairs(emb, dim=4, threshold=0.999)
    p_pin = S.embedding_near_dup_pairs(
        emb, dim=4, threshold=0.999, collapse_exact=True
    )
    assert "_rep_vec" not in plan(p_auto)
    assert "_rep_vec" in plan(p_pin)
    assert sorted(map(tuple, p_auto.collect())) == sorted(
        map(tuple, p_pin.collect())
    )


def test_probe_cache_reprobes_files_appended_under_same_path(
    spark, tmp_path
):
    """The probe cache is keyed on the input files as well as the
    plan. Spark's analyzed-plan semanticHash compares file sources by
    root path, so a plan-only key served a corpus grown by an append
    under the same path its pre-append stats: the over-cap guard got
    certified away for a corpus past the cap, and a replica-dense
    append kept the uncollapsed plan."""

    def write(path, rows, mode="error"):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode(mode).parquet(path)

    path = str(tmp_path / "grown")
    write(path, [(i, f"first batch doc {i}") for i in range(50)])
    first = spark.read.parquet(path)
    D._distinct_ratio_cache.clear()
    collapse, stats = D._resolve_collapse(first, "text", None)
    assert (collapse, stats[0]) == (False, 50)
    assert D._cap_guard_skippable(stats, 100, collapsed=False) is True

    write(path, [(50 + i, f"second batch doc {i}") for i in range(500)], "append")
    grown = spark.read.parquet(path)
    # The plan hash alone cannot tell the two reads apart.
    assert (
        first._jdf.queryExecution().analyzed().semanticHash()
        == grown._jdf.queryExecution().analyzed().semanticHash()
    )
    collapse, stats = D._resolve_collapse(grown, "text", None)
    assert (collapse, stats[0]) == (False, 550)
    assert D._cap_guard_skippable(stats, 100, collapsed=False) is False

    # A replica-dense append flips the collapse decision itself.
    dense = str(tmp_path / "dense")
    write(dense, [(i, f"distinct doc {i}") for i in range(50)])
    assert D._resolve_collapse(spark.read.parquet(dense), "text", None)[0] is False
    write(dense, [(50 + i, "boilerplate footer") for i in range(500)], "append")
    assert D._resolve_collapse(spark.read.parquet(dense), "text", None)[0] is True
