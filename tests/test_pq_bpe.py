"""Unit semantics for product quantization and BPE pair counts."""

from __future__ import annotations

from pyspark.sql import functions as F

from pos_api_pipeline_spark.llm.similarity import pq_codebooks, pq_encode
from pos_api_pipeline_spark.llm.text import merge_pair_counts


def test_merge_pair_counts_basic(spark):
    df = spark.createDataFrame(
        [("the cat the cat sat",), ("the cat",), ("solo",), ("",)],
        "text string",
    )
    got = {
        (r.pair, r.n) for r in merge_pair_counts(df, "text").collect()
    }
    assert got == {
        ("the cat", 3),
        ("cat the", 1),
        ("cat sat", 1),
    }  # 1-token and empty docs contribute nothing


def test_merge_pair_counts_lowercases(spark):
    df = spark.createDataFrame([("The CAT",)], "text string")
    rows = merge_pair_counts(df, "text").collect()
    assert rows[0].pair == "the cat"


def test_pq_encode_seed_vectors_quantize_to_themselves(spark):
    """Every codebook seed vector is distance-0 from its own entry in
    every subspace, so its code must equal its seed rank."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes = pq_encode(df, dim=8, m=2, k=4).filter(F.col("vec_id") < 4)
    got = {(r.vec_id, r.subspace, r.code) for r in codes.collect()}
    assert got == {(i, s, i) for i in range(4) for s in range(2)}


def test_pq_encode_matches_python_argmin(spark):
    import random

    rng = random.Random(13)
    dim, m, k = 8, 4, 3
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sub = dim // m
    seeds = [v for _, v in rows[:k]]

    def expect(vec):
        out = []
        for s in range(m):
            sl = vec[s * sub : (s + 1) * sub]
            dists = [
                sum((a - b) ** 2 for a, b in zip(sl, cb[s * sub : (s + 1) * sub]))
                for cb in seeds
            ]
            out.append(min(range(k), key=lambda j: (dists[j], j)))
        return out

    got = {
        (r.vec_id, r.subspace): r.code
        for r in pq_encode(df, dim=dim, m=m, k=k).collect()
    }
    for i, vec in rows:
        for s, code in enumerate(expect(vec)):
            assert got[(i, s)] == code, (i, s)


def test_pq_codebooks_shape(spark):
    df = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    cb = pq_codebooks(df, dim=8, m=4, k=3).collect()
    assert len(cb) == 12  # m * k
    assert all(len(r.cb_slice) == 2 for r in cb)


def test_pq_encode_no_shuffle_before_codebook_join(spark):
    """The corpus side must reach the broadcast codebook join without
    an Exchange: explode is map-side and the join is broadcast."""
    df = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    plan = (
        pq_encode(df, dim=8, m=2, k=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_pq_probe_all_cells_equals_pq_topk(spark):
    from pos_api_pipeline_spark.llm.similarity import ivf_pq_topk, pq_topk

    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
        for i in range(24)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = emb.filter("vec_id < 3")
    full = pq_topk(emb, qs, dim=8, m=2, k_codes=4, k=4)
    # Probing every cell makes IVFADC exactly ADC over the whole corpus.
    ivf = ivf_pq_topk(
        emb, qs, dim=8, m=2, k_codes=4, n_centroids=4, n_probe=4, k=4
    )
    a = {(r.query_id, r.neighbor_id, r.rank): r.adc_dist for r in full.collect()}
    b = {(r.query_id, r.neighbor_id, r.rank): r.adc_dist for r in ivf.collect()}
    assert a == b


def test_ivf_pq_single_probe_stays_in_cell(spark):
    from pos_api_pipeline_spark.llm.similarity import (
        assign_nearest_centroids,
        as_double_array,
        deterministic_centroids,
        ivf_pq_topk,
    )
    from pyspark.sql import functions as F

    rows = [
        (i, [float((i * 5 + j) % 7) + 0.5 * j for j in range(8)])
        for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = emb.filter("vec_id < 2")
    out = ivf_pq_topk(
        emb, qs, dim=8, m=2, k_codes=4, n_centroids=4, n_probe=1, k=10
    ).collect()
    cents = deterministic_centroids(emb, 4)
    cells = {
        r.id: r.centroid_id
        for r in assign_nearest_centroids(
            emb.select(
                F.col("vec_id").alias("id"),
                as_double_array("embedding").alias("v"),
            ),
            cents, "id", "v", 1,
        ).collect()
    }
    for r in out:
        assert cells[r.neighbor_id] == cells[r.query_id]


# --- BPE trainer: canonical semantics vs a hand-rolled reference ----


def test_merge_pair_in_seq_is_canonical_on_runs(spark):
    from pos_api_pipeline_spark.llm.bpe import merge_pair_in_seq
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(["a", "a", "a", "a", "a"],), (["a", "a", "a"],), (["b", "a", "a", "b"],)],
        "seq array<string>",
    )
    got = [
        r.m for r in df.select(
            merge_pair_in_seq(F.col("seq"), "a", "a").alias("m")
        ).collect()
    ]
    # Greedy leftmost with skip: aaaaa -> [aa, aa, a], never [aa, a, aa]
    assert got == [["aa", "aa", "a"], ["aa", "a"], ["b", "aa", "b"]]


def test_bpe_train_matches_reference(spark, bpe_reference):
    from pos_api_pipeline_spark.llm.bpe import bpe_train

    texts = [
        "low low low lower lower lowest",
        "newer newer newer wider aaaaa",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    ref_merges, _ = bpe_reference(texts, 6)
    for batch in (1, 64):
        assert bpe_train(docs, n_merges=6, batch=batch) == ref_merges


def test_bpe_train_stops_when_fully_merged(spark):
    from pos_api_pipeline_spark.llm.bpe import bpe_train

    docs = spark.createDataFrame([(0, "ab ab")], "doc_id long, text string")
    merges = bpe_train(docs, n_merges=10)
    # 'ab' merges once; afterwards every word is a single symbol.
    assert merges[0][:2] == ("a", "b") and len(merges) == 1


def test_bpe_encode_corpus_matches_fold_segments(spark, bpe_reference):
    """The replace-chain doc encoder must agree word-for-word with the
    reference trainer's final word segmentation under a TRAINED merge
    table."""
    from pos_api_pipeline_spark.llm.bpe import bpe_encode_corpus, bpe_train

    texts = [
        "low low low lower lower lowest",
        "newer newer newer wider aaaaa",
        "",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = bpe_train(docs, n_merges=6)
    ref_merges, seg = bpe_reference(texts, 6)
    assert merges == ref_merges
    out = {
        r.doc_id: r for r in bpe_encode_corpus(docs, merges).collect()
    }
    for i, t in enumerate(texts):
        expect = [s for w in t.lower().split() for s in seg.get(w, [])]
        assert list(out[i].bpe_tokens) == expect, (i, t)
        assert out[i].n_words == len(t.split())
        assert out[i].n_tokens == len(expect)


def test_bpe_encode_canonical_runs_and_roundtrip(spark):
    from pos_api_pipeline_spark.llm.bpe import bpe_encode_corpus

    docs = spark.createDataFrame(
        [(0, "aaaaa baab")], "doc_id long, text string"
    )
    r = bpe_encode_corpus(docs, [("a", "a")]).collect()[0]
    assert list(r.bpe_tokens) == ["aa", "aa", "a", "b", "aa", "b"]
    # Concatenation always reproduces the lowercased words.
    assert "".join(r.bpe_tokens) == "aaaaabaab"


def test_bpe_train_batched_matches_sequential(spark, bpe_reference):
    """The batched trainer is EXACT: same merge table (pairs AND
    counts) as one-merge-at-a-time BPE on a natural corpus."""
    from pos_api_pipeline_spark.llm.bpe import bpe_train

    texts = [
        "low low low lower lower lowest",
        "newer newer newer wider aaaaa",
        "the quick brown fox jumps over the lazy dog the end",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    seq, _ = bpe_reference(texts, 12)
    for batch in (1, 4, 64):
        assert bpe_train(docs, n_merges=12, batch=batch) == seq


def test_bpe_train_batched_tie_adversarial(spark, bpe_reference):
    """Head-of-list tie between an accepted pair and an interacting
    one: the strict cut must shrink the batch to the sequential step.
    Corpus 'xab'*N: (a,b)=(x,a)=N tie -> merge (a,b) first (lex), and
    the SECOND merge must be the spawned (x,ab), which a naive batch
    would never see."""
    from pos_api_pipeline_spark.llm.bpe import bpe_train

    texts = ["xab xab xab"] * 3
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    seq, _ = bpe_reference(texts, 2)
    assert [m[:2] for m in seq] == [("a", "b"), ("x", "ab")]
    assert bpe_train(docs, n_merges=2, batch=64) == seq


def test_bpe_train_batched_symbol_collision_adversarial(spark, bpe_reference):
    """Merged-symbol resurrection: once 'ab' exists as a symbol, a
    later (a, b) candidate re-creates it and feeds pairs involving
    'ab' beyond any single old count — the existing_merged check must
    end the batch there. Sequential equality is the oracle."""
    from pos_api_pipeline_spark.llm.bpe import bpe_train

    # 'ab' merges first (count 12 via 'abab'); 'zazb' keeps separate
    # a/b alive next to z so (a,b) never reappears but (z,a)/(b,z)
    # stay candidates alongside pairs involving the merged 'ab'.
    texts = ["abab abab abab abab abab abab", "zazb zazb zazb"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    for n in (3, 6):
        seq, _ = bpe_reference(texts, n)
        for batch in (2, 64):
            assert bpe_train(docs, n_merges=n, batch=batch) == seq


def test_bpe_train_batched_property(spark, bpe_reference):
    """Randomized corpora: batched == sequential for every batch size."""
    import random

    from pos_api_pipeline_spark.llm.bpe import bpe_train

    rng = random.Random(42)
    for trial in range(4):
        texts = [
            " ".join(
                "".join(rng.choice("abc") for _ in range(rng.randint(1, 5)))
                for _ in range(rng.randint(1, 10))
            )
            for _ in range(4)
        ]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        seq, _ = bpe_reference(texts, 8)
        got = bpe_train(docs, n_merges=8, batch=8)
        assert got == seq, (trial, texts, got, seq)

def test_exact_batch_prefix_truncated_tail_tie():
    """Truncated candidate list: an off-list interacting pair can tie
    the list tail's count, so the ran-off-the-end branch must apply
    the same STRICT cut as the break path — accepted entries tying
    the tail count are rejected, not just the last one popped.
    (r8 advice: a single unconditional pop let a spawned pair like
    (ax, m, 5) tie a still-accepted (d, e, 5) and win the tiebreak.)"""
    from pos_api_pipeline_spark.llm.bpe import _exact_batch_prefix

    # All pairwise disjoint -> the loop runs off the end.
    flat = [("a", "b", 5), ("c", "d", 5), ("e", "f", 5)]
    assert _exact_batch_prefix(flat, truncated=True, existing_merged=set()) == []
    # Strictly-above-the-tail entries survive; ties with the tail don't.
    mixed = [("a", "b", 9), ("c", "d", 7), ("e", "f", 5), ("g", "h", 5)]
    assert _exact_batch_prefix(mixed, truncated=True, existing_merged=set()) == [
        ("a", "b", 9),
        ("c", "d", 7),
    ]
    # A complete (non-truncated) list needs no cut: no off-list pair exists.
    assert (
        _exact_batch_prefix(flat, truncated=False, existing_merged=set())
        == flat
    )
