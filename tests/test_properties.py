"""Property-based tests (hypothesis) for operator invariants.

Each property generates a batch of rows and runs ONE Spark job over
the whole batch — examples are rows, not jobs, so the suite stays
fast. max_examples is deliberately small; the row batches carry the
variety.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pos_api_pipeline_spark.operators.transform import (
    homogenize_order_types,
    with_time_slots,
)
from pos_api_pipeline_spark.operators.windows import window_dedup
from pos_api_pipeline_spark.schemas import CURATED_COLUMNS, conform

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

order_text = st.text(
    alphabet="abcdMesa01- Llevardomicilio", min_size=0, max_size=20
)


@given(st.lists(order_text, min_size=1, max_size=30))
@settings(**SETTINGS)
def test_homogenize_idempotent_and_closed(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "order_type string")
    once = [r.order_type for r in homogenize_order_types(df).collect()]
    df2 = spark.createDataFrame([(v,) for v in once], "order_type string")
    twice = [r.order_type for r in homogenize_order_types(df2).collect()]
    # Idempotent: a second pass never changes anything (every rule's
    # output is a fixed point of the rule chain).
    assert once == twice
    # Closed: outputs are either canonical values or untouched inputs.
    canon = {"Para llevar", "Mesa 2", "A domicilio"}
    for inp, out in zip(values, once):
        assert out in canon or out == inp


@given(
    st.lists(
        st.datetimes(
            min_value=dt.datetime(2020, 1, 1), max_value=dt.datetime(2030, 1, 1)
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_time_slots_invariants(spark, stamps):
    stamps = [s.replace(microsecond=0) for s in stamps]
    df = spark.createDataFrame([(s,) for s in stamps], "datetime timestamp")
    rows = with_time_slots(df).collect()
    for r in rows:
        assert 0 <= r.minutes_past_midnight <= 1439
        h = r.shifted_time.hour
        assert r.time_slot == f"{h:02d}:00-{h + 1:02d}:00"
        # Fixed −6 h arithmetic, no tz rules.
        assert (r.datetime - r.shifted_time) == dt.timedelta(hours=6)


@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # receipt key space (forces collisions)
            st.integers(0, 2),  # item key space
            st.integers(0, 1000),  # order value
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_window_dedup_invariants(spark, rows):
    df = spark.createDataFrame(
        [
            (f"r{a}", f"i{b}", dt.datetime(2024, 1, 1) + dt.timedelta(minutes=c), c)
            for a, b, c in rows
        ],
        "receipt_number string, item_name string, shifted_time timestamp, v long",
    )
    out = window_dedup(df).collect()
    keys = {(f"r{a}", f"i{b}") for a, b, _ in rows}
    # Exactly one survivor per key…
    assert len(out) == len(keys)
    # …and it's the latest (max minute value) for that key.
    expect = {}
    for a, b, c in rows:
        k = (f"r{a}", f"i{b}")
        expect[k] = max(expect.get(k, -1), c)
    for r in out:
        assert r.v == expect[(r.receipt_number, r.item_name)]


def _model_explode(rows):
    """Pure-Python model of explode_combo_items (independent
    re-derivation of the reference semantics at
    data_preparation.py:116-198) for differential testing."""
    import re

    out = []
    for item_name, price, cost, modifiers in rows:
        is_combo = item_name is not None and "combo" in item_name.lower()
        if not is_combo:
            out.append((item_name, price, cost, modifiers))
            continue
        if modifiers is None:
            continue
        parts = modifiers.split(";")
        mains = [p for p in parts
                 if "hamburguesa" in p.lower() or "refresco" in p.lower()]
        mayos = [p for p in parts if "mayonesa" in p.lower()]
        for i, m in enumerate(mains):
            match = re.search(r"\((.*?)\)", m)
            if not match:
                continue
            raw = match.group(1).strip()
            if "smash" in raw.lower():
                name = "Smash Burger"
            elif "chiken" in raw.lower():
                name = "Chicken Burger"
            elif "Coca" in raw:
                name = "Coca Cola"
            else:
                name = raw
            assoc = (
                mayos[i]
                if "hamburguesa" in m.lower() and i < len(mayos)
                else None
            )
            out.append((name, 0.0, 0.0, assoc))
    return out


mod_part = st.sampled_from(
    [
        "Hamburguesa 1(Hamburguesa Smash 1)",
        "Hamburguesa 2(Hamburguesa Chiken 2)",
        "Refresco Sabor(Agua Natural)",
        "Refresco(Coca Light)",
        "Mayonesa(Ajo)",
        "Mayonesa(Chipotle)",
        "Hamburguesa sin parens",
        "Tipo de Leche(Entera)",
        "",
    ]
)


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["Combo Uno", "combo x", "Papas", "Doble Chicken", None]),
            st.one_of(st.none(), st.lists(mod_part, min_size=0, max_size=6)),
        ),
        min_size=1,
        max_size=15,
    )
)
@settings(**SETTINGS)
def test_combo_explode_matches_python_model(spark, rows):
    from pos_api_pipeline_spark.operators.combos import explode_combo_items

    data = [
        (name, 100.0, 40.0, ";".join(mods) if mods is not None else None)
        for name, mods in rows
    ]
    df = spark.createDataFrame(
        data, "item_name string, price double, cost double, modifiers string"
    )
    key = lambda t: tuple(str(x) for x in t)  # noqa: E731 — None-safe sort
    got = sorted(
        (
            (r.item_name, r.price, r.cost, r.modifiers)
            for r in explode_combo_items(df).collect()
        ),
        key=key,
    )
    expect = sorted(_model_explode(data), key=key)
    assert got == expect


@given(
    st.lists(
        st.sampled_from(
            ["receipt_number", "price", "unknown_col", "item_name", "cost"]
        ),
        min_size=0,
        max_size=4,
        unique=True,
    )
)
@settings(**SETTINGS)
def test_conform_always_yields_contract_schema(spark, cols):
    if cols:
        row = tuple("1" for _ in cols)
        df = spark.createDataFrame([row], ", ".join(f"{c} string" for c in cols))
    else:
        df = spark.range(1)
    out = conform(df)
    assert out.columns == CURATED_COLUMNS
    out.collect()  # materializes: all casts valid


# Small vocabulary on purpose: maximal shingle collisions stress the
# bucket-pair inverted index (every bucket holds many docs).
doc_text = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
    min_size=0,
    max_size=12,
).map(" ".join)


def _brute_jaccard(texts, n=3, threshold=0.2):
    def shingles(t):
        toks = [w.lower() for w in t.split() if w]
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    sets = {i: shingles(t) for i, t in enumerate(texts)}
    out = set()
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                shared = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if union and shared / union >= threshold:
                    out.add((a, b, shared, round(shared / union, 9)))
    return out


@given(st.lists(doc_text, min_size=1, max_size=25))
@settings(**SETTINGS)
def test_ngram_jaccard_matches_python_brute_force(spark, texts):
    from pos_api_pipeline_spark.llm.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b, r.shared, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.2).collect()
    }
    assert got == _brute_jaccard(texts)


# ---------------------------------------------------------------------------
# Sampling invariants
# ---------------------------------------------------------------------------

_fractions = st.floats(min_value=0.0, max_value=1.0,
                       allow_nan=False, allow_infinity=False)


@given(
    st.lists(st.integers(min_value=0, max_value=10_000),
             min_size=1, max_size=60, unique=True),
    _fractions,
    _fractions,
)
@settings(**SETTINGS)
def test_hash_sample_nesting_and_partition_principle(spark, ids, f1, f2):
    """Smaller fractions select subsets of larger ones at the same
    seed (thresholds nest), and membership is a pure function of the
    key — invariant under repartitioning."""
    from pos_api_pipeline_spark.llm.sampling import hash_sample

    lo, hi = sorted([f1, f2])
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    small = {r.doc_id for r in hash_sample(df, lo, seed=3).collect()}
    big = {r.doc_id for r in hash_sample(df, hi, seed=3).collect()}
    assert small <= big
    again = {
        r.doc_id
        for r in hash_sample(df.repartition(5), hi, seed=3).collect()
    }
    assert again == big


@given(
    st.lists(st.integers(min_value=0, max_value=10_000),
             min_size=1, max_size=60, unique=True),
    st.integers(min_value=1, max_value=10),
)
@settings(**SETTINGS)
def test_stratified_sample_quota_never_exceeded(spark, ids, quota):
    from pyspark.sql import functions as F

    from pos_api_pipeline_spark.llm.sampling import stratified_sample

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long").select(
        "doc_id", (F.col("doc_id") % 3).alias("stratum")
    )
    out = stratified_sample(df, "stratum", quota, seed=1)
    counts = {
        r.stratum: r.n
        for r in out.groupBy("stratum")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    full = {
        r.stratum: r.n
        for r in df.groupBy("stratum")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for s, n in counts.items():
        assert n == min(quota, full[s])


# ---------------------------------------------------------------------------
# Packing invariants
# ---------------------------------------------------------------------------


@given(
    st.lists(st.integers(min_value=1, max_value=40),
             min_size=1, max_size=50),
    st.integers(min_value=5, max_value=60),
)
@settings(**SETTINGS)
def test_pack_greedy_invariants(spark, token_counts, budget):
    """Every doc packed exactly once; no pack exceeds the budget
    unless it holds a single oversized (flagged) doc; pack ids are
    dense per shard."""
    from pos_api_pipeline_spark.llm.packing import pack_greedy

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(token_counts)],
        "doc_id long, n_tok long",
    )
    rows = pack_greedy(df, budget, tokens_col="n_tok", n_shards=2).collect()
    assert sorted(r.doc_id for r in rows) == sorted(range(len(token_counts)))
    packs: dict = {}
    for r in rows:
        packs.setdefault((r.shard, r.pack_id), []).append(r)
    for members in packs.values():
        fill = sum(r.n_tokens for r in members)
        if fill > budget:
            assert len(members) == 1 and members[0].truncate
    for shard in {r.shard for r in rows}:
        ids = sorted({r.pack_id for r in rows if r.shard == shard})
        assert ids == list(range(len(ids)))


@given(
    st.lists(st.integers(min_value=1, max_value=40),
             min_size=1, max_size=50),
    st.integers(min_value=5, max_value=60),
)
@settings(**SETTINGS)
def test_pack_concat_offsets_consistent(spark, token_counts, budget):
    """start_offset is cum-tokens mod budget and pack_id the floor
    quotient — recomputable from the output itself."""
    from pos_api_pipeline_spark.llm.packing import pack_concat

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(token_counts)],
        "doc_id long, n_tok long",
    )
    rows = sorted(
        pack_concat(df, budget, tokens_col="n_tok", n_shards=2).collect(),
        key=lambda r: (r.shard, r.doc_id),
    )
    cum: dict = {}
    for r in rows:
        before = cum.get(r.shard, 0)
        assert r.pack_id == before // budget
        assert r.start_offset == before % budget
        cum[r.shard] = before + r.n_tokens


word = st.text(alphabet="abcde", min_size=1, max_size=6)
doc = st.lists(word, min_size=0, max_size=12).map(" ".join)


@given(st.lists(doc, min_size=1, max_size=12), st.integers(0, 8))
@settings(**SETTINGS)
def test_bpe_encode_roundtrip_and_fold_parity(
    spark, bpe_reference, texts, n_merges
):
    """For ANY corpus and ANY trained merge count: (1) concatenating a
    doc's BPE tokens reproduces its lowercased concatenated words,
    (2) the trainer and the replace-chain encoder agree word-for-word
    with the pure-Python reference BPE."""
    from pos_api_pipeline_spark.llm.bpe import bpe_encode_corpus, bpe_train

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = bpe_train(df, n_merges=n_merges)
    ref_merges, seg = bpe_reference(texts, n_merges)
    assert merges == ref_merges
    enc = {r.doc_id: list(r.bpe_tokens) for r in bpe_encode_corpus(df, merges).collect()}
    for i, t in enumerate(texts):
        words = t.lower().split()
        assert "".join(enc[i]) == "".join(words)
        assert enc[i] == [s for w in words for s in seg[w]]


@given(
    st.lists(st.integers(0, 10**6), min_size=1, max_size=60, unique=True),
    st.integers(1, 8),
)
@settings(**SETTINGS)
def test_weighted_sample_invariants(spark, ids, k):
    """A-ES: |sample| == min(k, eligible), sample ⊆ eligible, and the
    selection is a deterministic function of (data, seed)."""
    from pos_api_pipeline_spark.llm.sampling import (
        weighted_sample_without_replacement,
    )

    rows = [(i, float((i % 5) - 1)) for i in ids]  # some weights <= 0
    df = spark.createDataFrame(rows, "doc_id long, w double")
    eligible = {i for i, w in rows if w > 0}
    got = {
        r.doc_id
        for r in weighted_sample_without_replacement(
            df, k=k, weight_col="w"
        ).collect()
    }
    assert got <= eligible
    assert len(got) == min(k, len(eligible))
    again = {
        r.doc_id
        for r in weighted_sample_without_replacement(
            df, k=k, weight_col="w"
        ).collect()
    }
    assert got == again


@given(st.lists(doc, min_size=1, max_size=10))
@settings(**SETTINGS)
def test_char_entropy_bounds(spark, texts):
    """0 <= H <= ln(alphabet size); single-char docs get exactly 0."""
    import math

    from pos_api_pipeline_spark.llm.text import char_entropy

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for r in char_entropy(df).collect():
        t = texts[r.doc_id]
        if not t:
            assert r.entropy is None
            continue
        distinct = len(set(t))
        assert -1e-9 <= r.entropy <= math.log(max(distinct, 1)) + 1e-6
        if distinct == 1:
            assert r.entropy == 0.0


@given(st.lists(doc, min_size=2, max_size=14))
@settings(**SETTINGS)
def test_minhash_confirmed_subset_of_exact_jaccard(spark, texts):
    """Confirmed LSH pairs must be a SUBSET of the exact detector's
    pairs at the same threshold, with identical jaccard values on the
    intersection (candidates can miss; confirmation must not lie)."""
    from pos_api_pipeline_spark.llm import dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    exact = {
        (r.id_a, r.id_b): round(r.jaccard, 10)
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.2).collect()
    }
    confirmed = {
        (r.id_a, r.id_b): round(r.jaccard, 10)
        for r in dedup.minhash_confirmed_pairs(df, threshold=0.2).collect()
    }
    assert set(confirmed) <= set(exact)
    for k, v in confirmed.items():
        assert exact[k] == v


@given(
    st.dictionaries(
        st.integers(0, 30), st.integers(0, 3), min_size=0, max_size=20
    ),
    st.dictionaries(
        st.integers(0, 30), st.integers(0, 3), min_size=0, max_size=20
    ),
)
@settings(**SETTINGS)
def test_snapshot_diff_matches_dict_semantics(spark, old_d, new_d):
    from pyspark.sql import functions as F

    from pos_api_pipeline_spark.lake import snapshot_diff

    mk = lambda d: spark.createDataFrame(
        [(k, v) for k, v in d.items()] or [(None, None)], "k long, v long"
    ).filter(F.col("k").isNotNull())
    got = {
        r.k: r.change_type
        for r in snapshot_diff(mk(old_d), mk(new_d), ["k"]).collect()
    }
    expect = {}
    for k in set(old_d) | set(new_d):
        if k not in old_d:
            expect[k] = "added"
        elif k not in new_d:
            expect[k] = "removed"
        elif old_d[k] != new_d[k]:
            expect[k] = "changed"
    assert got == expect


@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(1, 50)),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_weighted_median_matches_python(spark, pairs):
    from pos_api_pipeline_spark.operators.analytics import weighted_median

    df = spark.createDataFrame(
        [(i, v, w) for i, (v, w) in enumerate(pairs)],
        "i long, v long, w long",
    )
    r = weighted_median(df, "v", "w").collect()[0]
    total = sum(w for _, w in pairs)
    cum = 0
    expect = None
    for v, w in sorted(pairs):
        cum += w
        if 2 * cum >= total:
            expect = v
            break
    assert r.weighted_median == expect
    assert r.total_weight == total


@given(
    st.lists(
        st.integers(min_value=0, max_value=5),  # text variant per doc
        min_size=4,
        max_size=14,
    ),
    st.integers(min_value=2, max_value=4),  # cap
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_star_cap_preserves_connected_components(
    spark, cc_reference, variants, cap
):
    """The hot-bucket star cap's design claim: capped pair output has
    the SAME connected components as the uncapped all-pairs output —
    the representative keeps every bucket member reachable, so
    cluster-level dedup decisions are unchanged at any cap."""
    from pos_api_pipeline_spark.llm.dedup import minhash_lsh_candidates

    rows = [
        (i, f"the shared quick brown fox variant {v} jumps over the dog")
        for i, v in enumerate(variants)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = minhash_lsh_candidates(docs, max_bucket=cap)
    exact = minhash_lsh_candidates(docs, max_bucket=None)

    def comps(pairs):
        return cc_reference(pairs.select("id_a", "id_b").collect())

    assert comps(capped) == comps(exact)


@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-100, max_value=100,
                allow_nan=False, allow_infinity=False,
            ),
            min_size=4, max_size=4,
        ),
        min_size=2, max_size=12,
    )
)
@settings(**SETTINGS)
def test_sq8_quantization_invariants(spark, sq8_codes, vecs):
    """SQ8 invariants over arbitrary corpora: codes always in
    [0, 255]; dequantized values within half a quantization step of
    the input; constant dimensions decode exactly."""
    from pos_api_pipeline_spark.llm.similarity import sq8_minmax

    rows = [(i, v) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    st_row = sq8_minmax(emb, dim=4).collect()[0]
    codes = sq8_codes(emb, 4)
    for i, v in rows:
        for d in range(4):
            c = codes[i][d]
            assert 0 <= c <= 255
            rng = st_row.maxs[d] - st_row.mins[d]
            decoded = st_row.mins[d] + c * rng / 255.0
            if rng == 0:
                assert decoded == st_row.mins[d] == v[d]
            else:
                assert abs(decoded - v[d]) <= rng / 255.0 / 2 + 1e-9


@given(
    st.lists(st.integers(min_value=1, max_value=500),
             min_size=1, max_size=8),
    st.floats(min_value=0.05, max_value=0.95),
)
@settings(**SETTINGS)
def test_unimax_waterfill_invariants(spark, sizes, frac):
    """UniMax water-filling invariants for any stratum profile:
    every allocation within (0, cap]; total allocation equals
    min(budget, sum of caps) up to per-row rounding slack."""
    from pyspark.sql import functions as F

    from pos_api_pipeline_spark.llm.sampling import unimax_allocation

    rows = [(i, f"s{si}") for si, n in enumerate(sizes) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = unimax_allocation(
        df.withColumn("n_chars", F.lit(1)), "lang", size_col="n_chars",
        budget_frac=frac, max_epochs=2.0,
    ).collect()
    budget = float(int(sum(sizes) * frac + 0.5))
    cap_total = 2.0 * sum(sizes)
    total_alloc = sum(r.allocation for r in out)
    # zero is legal: a tiny corpus with a small frac rounds the
    # budget itself to 0 and every stratum gets nothing
    assert all(0 <= r.allocation <= r.cap + 1e-9 for r in out)
    assert abs(total_alloc - min(budget, cap_total)) <= 1e-3 * len(out) + 1e-6


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=1),
        ),
        min_size=2,
        max_size=16,
    ),
    st.integers(min_value=1, max_value=5),
)
@settings(**{**SETTINGS, "max_examples": 6})
def test_embedding_star_cap_cc_and_collapse_parity(
    spark, cc_reference, members, cap
):
    """Embedding-family twins of the minhash star-cap property plus
    the collapse rewrite claim (r12 row-grain paths included —
    ``cap`` down to 1 forces every multi-member bucket through the
    broadcast-rep star branch): (a) capped pair output has the SAME
    connected components as uncapped in BOTH collapse arms — the
    star representative keeps every over-cap bucket member
    reachable, so cluster-level dedup decisions are cap-invariant;
    (b) exact-duplicate collapse is a pure rewrite — identical
    (id_a, id_b, cosine) rows with the cap off. Corpora mix exact
    replicas (identical (family, slot) tuples), within-family
    near-dups (cosine ~= 1), and near-orthogonal cross-family
    vectors (cosine ~= 0)."""
    from pos_api_pipeline_spark.llm.similarity import (
        embedding_near_dup_pairs,
    )

    rows = [
        (
            i,
            [
                (1.0 if d == fam else 0.0) + (fam * 2 + slot) * 1e-9
                for d in range(4)
            ],
        )
        for i, (fam, slot) in enumerate(members)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )

    def pairs(collapse, max_bucket):
        return embedding_near_dup_pairs(
            emb,
            dim=4,
            threshold=0.9,
            max_bucket=max_bucket,
            collapse_exact=collapse,
        )

    plain = pairs(False, None)
    collapsed = pairs(True, None)
    # (b) the collapse rewrite is exact: same rows, same cosines.
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, collapsed.collect())
    )

    def comps(pair_df):
        return cc_reference(pair_df.select("id_a", "id_b").collect())

    expected = comps(plain)
    # (a) both arms' capped outputs preserve the components.
    assert comps(pairs(False, cap)) == expected
    assert comps(pairs(True, cap)) == expected
