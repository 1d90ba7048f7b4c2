"""Registry batch 2: training-data-pipeline queries (text analysis,
dedup, similarity) + event-stream analytics (windows, sessions,
pivot) + basket co-occurrence.

Same determinism discipline as registry.py; DuckDB twins use list
comprehensions / lambda list functions (DuckDB ≥ 1.0).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pos_api_pipeline_spark.llm import dedup as D
from pos_api_pipeline_spark.llm import similarity as S
from pos_api_pipeline_spark.llm import text as X
from pos_api_pipeline_spark.llm.dedup import _HASH_A, _HASH_B, _MERSENNE
from pos_api_pipeline_spark.llm.similarity import _plane_sign
from pos_api_pipeline_spark.operators import skew as K
from pos_api_pipeline_spark.operators.basket import item_pair_counts
from pos_api_pipeline_spark.plans.registry import (
    _REGISTRY,
    _sum_dec,
    _t,
    register,
)
from pos_api_pipeline_spark.session import local_frame

# DuckDB token-array fragment shared by several oracles (whitespace
# split with empties removed — mirrors llm.text.tokens).
_DUCK_TOKS = r"list_filter(string_split_regex({col}, '\s+'), x -> x <> '')"

# DuckDB twin of llm.dedup.portable_hash64 — the reason the signature
# family (MinHash, SimHash) is oracle-able at all: both engines hash
# via md5, so signatures match bit-for-bit.
_DUCK_H64 = "CAST('0x' || substring(md5({col}), 1, 15) AS BIGINT)"

# DuckDB twin of with_shingles (3-gram shingles of the lowercased
# whitespace-tokenized text, distinct) — shared by the jaccard and
# minhash oracles.
_DUCK_SHINGLES3 = r"""
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        for i in range(1, greatest(len(toks)-2, 0)+1)]) AS sh
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS toks
        FROM documents)
"""


def _minhash_bands_with(num_hashes: int = 16, bands: int = 4) -> str:
    """The WITH-chain producing the DuckDB ``bands`` table
    (doc_id, band, bhash): same shingles, same md5-prefix hash, same
    affine family over the Mersenne prime, same band hashing as the
    Spark side — signatures are bit-identical, so every consumer
    (self-join candidates, cross-corpus semi-join) matches too."""
    rpb = num_hashes // bands
    mins = ",\n           ".join(
        f"min(({_HASH_A[j]}*h + {_HASH_B[j]}) % {_MERSENNE}) AS s{j}"
        for j in range(num_hashes)
    )
    band_arms = "\n      UNION ALL\n".join(
        "      SELECT doc_id, {i} AS band, md5(concat_ws(',', {cols})) AS bhash"
        " FROM sig".format(
            i=i, cols=", ".join(f"s{i * rpb + k}" for k in range(rpb))
        )
        for i in range(bands)
    )
    return f"""
    WITH t AS ({_DUCK_SHINGLES3}
    ), e AS (
      SELECT doc_id, {_DUCK_H64.format(col='shingle')} % {_MERSENNE} AS h
      FROM (SELECT doc_id, unnest(sh) AS shingle FROM t)
    ), sig AS (
      SELECT doc_id,
           {mins}
      FROM e GROUP BY doc_id
    ), bands AS (
{band_arms}
    )"""


def _minhash_lsh_sql(num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB brute-force twin of minhash_lsh_candidates."""
    return f"""{_minhash_bands_with(num_hashes, bands)}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_matching_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """


def _simhash_sql(max_hamming: int = 16, blocks: int = 8) -> str:
    """DuckDB twin of simhash_near_dups: md5-prefix token hashes, one
    vote sum per bit (bits 60..63 of the 60-bit hash are always clear
    on both engines, so only 60 sums are emitted), pigeonhole block
    join, exact hamming verify."""
    block_bits = 64 // blocks
    mask = (1 << block_bits) - 1
    sums = ",\n             ".join(
        f"sum((h >> {i}) & 1) AS v{i}" for i in range(60)
    )
    bitsum = "\n           + ".join(
        f"(CASE WHEN 2*v{i} > n THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(60)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, {_DUCK_H64.format(col='t')} AS h
      FROM (SELECT doc_id,
                   unnest(list_transform({_DUCK_TOKS.format(col='text')},
                                         x -> lower(x))) AS t
            FROM documents)
    ), votes AS (
      SELECT doc_id, count(*) AS n,
             {sums}
      FROM tok GROUP BY doc_id
    ), fp AS (
      SELECT doc_id,
             {bitsum} AS sh
      FROM votes
    ), blocked AS (
      SELECT doc_id, sh, blk, (sh >> ({block_bits}*blk)) & {mask} AS bval
      FROM fp CROSS JOIN (SELECT unnest(range({blocks})) AS blk)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sh AS sha, b.sh AS shb
      FROM blocked a JOIN blocked b
        ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sha, shb)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(sha, shb)) <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "word_counts_top20",
    rf"""
    SELECT word, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest({_DUCK_TOKS.format(col='text')}) AS word FROM documents)
    GROUP BY word ORDER BY n DESC, word LIMIT 20
    """,
)
def q_word_counts_top20(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return X.word_counts(docs).orderBy(F.desc("n"), F.asc("word")).limit(20)


@register(
    "token_stats",
    rf"""
    SELECT doc_id,
           CAST(len({_DUCK_TOKS.format(col='text')}) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                AS INTEGER) AS n_bpe_tokens
    FROM documents
    """,
)
def q_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return X.with_token_stats(docs).select("doc_id", "n_tokens", "n_bpe_tokens")


@register(
    "quality_scores",
    rf"""
    WITH t AS (
      SELECT doc_id, text, {_DUCK_TOKS.format(col='text')} AS toks,
             length(text) AS n_chars FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CASE WHEN n_chars > 0 THEN
             CAST(n_chars - length(regexp_replace(text, '[^\w\s]', '', 'g'))
                  AS DOUBLE) / n_chars END AS punct_ratio,
           CASE WHEN len(toks) > 0 THEN
             CAST(len(list_filter(toks, x -> list_contains(
               ['the','a','of','and','to','in','is','it'], lower(x))))
                  AS DOUBLE) / len(toks) END AS stopword_ratio,
           CASE WHEN len(toks) > 0 THEN
             CAST(list_sum(list_transform(toks, x -> length(x)))
                  AS DOUBLE) / len(toks) END AS mean_token_len
    FROM t
    """,
)
def q_quality_scores(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return X.quality_score(docs).select(
        "doc_id", "n_tokens", "punct_ratio", "stopword_ratio", "mean_token_len"
    )


@register(
    "language_id_counts",
    rf"""
    WITH t AS (
      SELECT lang,
             list_transform({_DUCK_TOKS.format(col='text')}, x -> lower(x)) AS toks
      FROM documents
    ), scored AS (
      SELECT lang,
        len(list_filter(toks, x -> list_contains(
          ['the','and','is','of','data','table','row','value'], x))) AS s_en,
        len(list_filter(toks, x -> list_contains(
          ['el','la','de','que','los','para','con','una'], x))) AS s_es
      FROM t
    )
    SELECT lang,
           CASE WHEN greatest(s_en, s_es) = 0 THEN 'und'
                WHEN s_es >= s_en THEN 'es' ELSE 'en' END AS predicted_lang,
           CAST(count(*) AS BIGINT) AS n
    FROM scored GROUP BY 1, 2
    """,
)
def q_language_id_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        X.language_id(docs)
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "tfidf_top_terms",
    rf"""
    WITH term_rows AS (
      SELECT doc_id, unnest(list_transform({_DUCK_TOKS.format(col='text')},
                                           x -> lower(x))) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM term_rows GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT doc_id, term, tf, df,
           round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tf_idf
    FROM tf JOIN dfreq USING (term), n
    ORDER BY tf_idf DESC, doc_id, term LIMIT 100
    """,
)
def q_tfidf_top_terms(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # Round before ranking: JVM Math.log and libm ln differ in the
    # last ulp, which would make the top-100 cut nondeterministic.
    scored = X.tf_idf(docs).withColumn("tf_idf", F.round("tf_idf", 6))
    return scored.orderBy(
        F.desc("tf_idf"), F.asc("doc_id"), F.asc("term")
    ).limit(100)


@register(
    "customer_running_totals",
    """
    WITH top_custs AS (
      SELECT o_custkey FROM orders GROUP BY 1
      ORDER BY count(*) DESC, o_custkey LIMIT 20
    )
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend,
           CAST(rank() OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
           ) AS INTEGER) AS price_rank,
           CAST(ntile(4) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
           ) AS INTEGER) AS quartile
    FROM orders WHERE o_custkey IN (SELECT o_custkey FROM top_custs)
    """,
)
def q_customer_running_totals(spark, sf_dir):
    """Window-frame family: running sum over an explicit ROWS frame,
    rank, and ntile — restricted to the 20 most active customers via
    a semi-join so output stays bounded at any SF."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    top = (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("o_custkey"))
        .limit(20)
        .select("o_custkey")
    )
    mine = o.join(F.broadcast(top), on="o_custkey", how="left_semi")
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    w_ntile = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    return mine.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w_run)
        .cast("double")
        .alias("running_spend"),
        F.rank().over(w_rank).alias("price_rank"),
        F.ntile(4).over(w_ntile).alias("quartile"),
    )


@register(
    "doc_fingerprints",
    rf"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
             list_transform({_DUCK_TOKS.format(col='text')}, x -> lower(x)))), ' '))
             AS fingerprint
    FROM documents
    """,
)
def q_doc_fingerprints(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return X.fingerprint(docs).select("doc_id", "fingerprint")


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


@register(
    "exact_dedup_groups",
    """
    SELECT md5(text) AS text_hash,
           min(doc_id) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def q_exact_dedup_groups(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return D.exact_dedup(docs)


@register(
    "ngram_jaccard_pairs",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, greatest(len(toks)-2, 0)+1)]) AS sh
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\s+'),
                               x -> x <> '') AS toks
            FROM documents)
    ), e AS (
      SELECT doc_id, len(sh) AS ns, unnest(sh) AS shingle FROM t
    ), shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ns AS na, b.ns AS nb,
             CAST(count(*) AS BIGINT) AS shared
      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, shared,
           CAST(shared AS DOUBLE) / (na + nb - shared) AS jaccard
    FROM shared WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.2
    """,
)
def q_ngram_jaccard_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = D.ngram_jaccard_pairs(docs, n=3, threshold=0.2)
    return out.withColumn("id_a", F.col("id_a").cast("long")).withColumn(
        "id_b", F.col("id_b").cast("long")
    )


@register(
    "dedupe_corpus_fingerprint",
    rf"""
    WITH fp AS (
      SELECT doc_id, source,
             md5(array_to_string(list_sort(list_distinct(
               list_transform({_DUCK_TOKS.format(col='text')}, x -> lower(x)))), ' '))
               AS f
      FROM documents
    ), keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs
    FROM fp JOIN keep USING (doc_id) GROUP BY 1
    """,
)
def q_dedupe_corpus_fingerprint(spark, sf_dir):
    """The composed corpus-dedup operator under the gate: fingerprint
    method, surviving docs per source."""
    docs = _t(spark, sf_dir, "documents")
    kept = D.dedupe_corpus(docs, method="fingerprint")
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


@register("minhash_lsh_candidates", _minhash_lsh_sql(num_hashes=16, bands=4))
def q_minhash_lsh_candidates(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_candidates(docs, num_hashes=16, bands=4)


@register("simhash_near_dups", _simhash_sql(max_hamming=16, blocks=4))
def q_simhash_near_dups(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return D.simhash_near_dups(docs, max_hamming=16)


_SKEW_CAP = 5  # low on purpose: sf0.01 has dup groups big enough to trip it


@register(
    "lsh_bucket_skew_stats",
    f"""{_minhash_bands_with(16, 4)},
    sizes AS (
      SELECT band, bhash, count(*) AS sz
      FROM bands GROUP BY 1, 2 HAVING count(*) > 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(sz) AS BIGINT) AS max_bucket_size,
           CAST(sum(CASE WHEN sz > {_SKEW_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_over_cap,
           CAST(sum(CASE WHEN sz > {_SKEW_CAP}
                         THEN sz*(sz-1)//2 - (sz-1) ELSE 0 END)
                AS BIGINT) AS pairs_dropped
    FROM sizes
    """,
)
def q_lsh_bucket_skew_stats(spark, sf_dir):
    """Skew audit of the MinHash band buckets (llm/dedup.py:
    lsh_bucket_stats) — the observability row for the hot-bucket star
    cap: how many buckets exceed the cap and how many all-pairs
    candidates the cap saves. Run next to minhash_lsh_candidates each
    round so truncation is measured, never silent."""
    docs = _t(spark, sf_dir, "documents")
    banded = D.minhash_bands(docs, num_hashes=16, bands=4)
    return D.lsh_bucket_stats(banded, ["band", "bhash"], max_bucket=_SKEW_CAP)


# ---------------------------------------------------------------------------
# Skew stress — deliberately hot-keyed variants at bench grain.
#
# VERDICT r6/r7 item: the skew *mitigations* (salted_join, the LSH
# star cap, AQE skew-join) existed and were unit-tested, but nothing
# at bench grain ever ran them against an actually skewed input, so
# their cost was unmeasured round-over-round. These three entries
# manufacture power-law skew from the driver's own tables inside the
# query (no extra fixture files): the events entries collapse half of
# all user_ids onto one hot user, the documents entry collapses a
# fifth of all texts onto one byte-identical string (⇒ one mega
# bucket in every band). Each is hash-oracled: salting and the star
# cap are exact rewrites, so DuckDB computes the same answer from the
# plain formulation.
# ---------------------------------------------------------------------------

# Half of all events land on user 0: CASE WHEN user_id % 2 = 0.
_SKEW_EVENTS_SQL = """
    WITH ev AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS uid,
             value
      FROM events
    ), dim AS (
      SELECT DISTINCT uid, 'seg' || CAST(uid % 7 AS VARCHAR) AS segment
      FROM ev
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_events,
           (CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS DECIMAL(38,0)))
                 AS DOUBLE) / 100.0) AS total_value
    FROM ev JOIN dim USING (uid)
    GROUP BY segment
"""


def _skewed_events(spark, sf_dir):
    """(uid, value) with user_id%2==0 collapsed onto hot key 0, plus
    the 7-segment dim derived from the surviving uids."""
    ev = _t(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 2 == 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("uid"),
        "value",
    )
    dim = ev.select("uid").distinct().withColumn(
        "segment", F.concat(F.lit("seg"), (F.col("uid") % 7).cast("string"))
    )
    return ev, dim


@register("skew_salted_hot_user_spend", _SKEW_EVENTS_SQL)
def q_skew_salted_hot_user_spend(spark, sf_dir):
    """salted_join under real skew: half the fact side shares one key,
    the dim is replicated once per salt, and the shuffle_hash hint
    pins the shuffled regime (broadcast would make the salt dead
    weight at this SF — on the 100 TB tier the dim outgrows the
    broadcast threshold and this is the plan that runs). Oracle = the
    plain join: salting is an exact rewrite."""
    ev, dim = _skewed_events(spark, sf_dir)
    joined = K.salted_join(ev, dim, on="uid", n_salts=16, hint="shuffle_hash")
    return joined.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        _sum_dec("value", "total_value"),
    )


@register("skew_aqe_hot_user_spend", _SKEW_EVENTS_SQL)
def q_skew_aqe_hot_user_spend(spark, sf_dir):
    """The unsalted twin on the same skewed input: sort-merge (hinted)
    with AQE's skew-join left to split the hot partition at runtime.
    Benched next to skew_salted_hot_user_spend each round so the two
    mitigation strategies stay comparable on identical data."""
    ev, dim = _skewed_events(spark, sf_dir)
    joined = ev.join(dim.hint("merge"), "uid")
    return joined.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        _sum_dec("value", "total_value"),
    )


_HOT_TEXT = "hot boilerplate banner repeated across the corpus"
_STAR_CAP = 50  # far below the hot cluster size at every SF ≥ 0.001

# Same bands chain as the other minhash oracles, but over documents
# with doc_id % 5 == 0 collapsed onto one byte-identical text.
_SKEW_DOCS_BANDS = _minhash_bands_with(16, 4).replace(
    "FROM documents)",
    f"""FROM (SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN '{_HOT_TEXT}'
                          ELSE text END AS text
              FROM documents))""",
)


@register(
    "skew_hot_bucket_star_cap",
    f"""{_SKEW_DOCS_BANDS},
    sized AS (
      SELECT band, bhash, count(*) AS sz, min(doc_id) AS rep
      FROM bands GROUP BY 1, 2 HAVING count(*) > 1
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bhash = b.bhash
                  AND a.doc_id < b.doc_id
      JOIN sized s ON s.band = a.band AND s.bhash = a.bhash
      WHERE s.sz <= {_STAR_CAP}
      UNION ALL
      SELECT s.rep AS id_a, b.doc_id AS id_b
      FROM sized s
      JOIN bands b ON b.band = s.band AND b.bhash = s.bhash
                  AND b.doc_id > s.rep
      WHERE s.sz > {_STAR_CAP}
    ), cand AS (
      SELECT id_a, id_b, count(*) AS n_matching_bands
      FROM pairs GROUP BY 1, 2
    )
    SELECT n_matching_bands,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(id_a) AS BIGINT) AS sum_id_a,
           CAST(sum(id_b) AS BIGINT) AS sum_id_b
    FROM cand GROUP BY 1
    """,
)
def q_skew_hot_bucket_star_cap(spark, sf_dir):
    """The LSH star cap under a manufactured mega bucket: 20% of all
    docs get byte-identical text, so every band holds one bucket of
    ~n_docs/5 members — quadratic pair expansion without the cap.
    With the cap set far below the hot-bucket size the hot buckets
    emit star pairs (linear) while every normal bucket keeps exact
    all-pairs. The
    oracle reproduces the capped candidate set in SQL (the star arm
    is linear there too, so the oracle itself survives sf1), then
    folds it to a per-band-count checksum row."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.lit(_HOT_TEXT))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # collapse_exact=False: this query DEMONSTRATES the doc-grain
    # bucket star cap (the oracle encodes doc-grain sizes/stars); the
    # default rule-7 collapse would fold the hot cluster to one rep
    # and never trip the cap.
    cand = D.minhash_lsh_candidates(
        docs, max_bucket=_STAR_CAP, collapse_exact=False
    )
    return cand.groupBy("n_matching_bands").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("id_a").cast("long").alias("sum_id_a"),
        F.sum("id_b").cast("long").alias("sum_id_b"),
    )


@register(
    "sa_repeated_spans_exact",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS g
      FROM (SELECT doc_id, t,
                   unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS i
            FROM toks)
    ), rep AS (
      SELECT g FROM grams GROUP BY g HAVING count(*) >= 2
    ), cov AS (
      SELECT doc_id, pos AS s, pos + 7 AS e
      FROM grams WHERE g IN (SELECT g FROM rep)
    ), isl AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                      PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1) + 1
                  THEN 1 ELSE 0 END AS ni
      FROM cov
    ), grp AS (
      SELECT doc_id, s, e,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY s
                           ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    )
    SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
           CAST(max(e) AS BIGINT) AS span_end,
           CAST(max(e) - min(s) + 1 AS BIGINT) AS n_tokens
    FROM grp GROUP BY doc_id, island
    """,
)
def q_sa_repeated_spans_exact(spark, sf_dir):
    """Exact substring dedup spans (llm/suffix.py — Lee et al. 2022's
    ExactSubstr semantics): maximal per-document spans covered by any
    ≥8-token substring occurring ≥2 times corpus-wide,
    within-document repeats included. Both engines lean on the cover
    identity (repeated-substring-≥L cover == repeated-L-gram cover,
    counting ALL occurrences): since r13 the Spark side's ``auto``
    strategy applies it directly (gram-cover sieve — one corpus
    pass, no ranking rounds) exactly as the DuckDB oracle always
    has; the distributed suffix-array paths (prefix doubling /
    direct rank) remain selectable and equality-tested for the
    large-min_len regime."""
    from pos_api_pipeline_spark.llm.suffix import repeated_spans_exact

    docs = _t(spark, sf_dir, "documents")
    return repeated_spans_exact(docs, min_len=8)


@register(
    "sa_deduped_docs",
    r"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ), grams AS MATERIALIZED (
      SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS g
      FROM (SELECT doc_id, t,
                   unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS i
            FROM toks)
    ), rep AS (
      SELECT g FROM grams GROUP BY g HAVING count(*) >= 2
    ), pts AS (
      SELECT DISTINCT doc_id, pos + x AS p
      FROM (SELECT doc_id, pos, unnest(range(0, 8)) AS x
            FROM grams WHERE g IN (SELECT g FROM rep))
    ), pos AS (
      SELECT doc_id, x AS p, t[x + 1] AS tok
      FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS x FROM toks)
    ), kept AS (
      SELECT o.doc_id,
             coalesce(string_agg(o.tok, ' ' ORDER BY o.p), '') AS cleaned,
             count(*) AS n_kept
      FROM pos o ANTI JOIN pts ON pts.doc_id = o.doc_id AND pts.p = o.p
      GROUP BY o.doc_id
    ), totals AS (
      SELECT doc_id, len(t) AS n_total FROM toks
    )
    SELECT d.doc_id,
           coalesce(k.cleaned, '') AS cleaned,
           CAST(coalesce(tl.n_total, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(tl.n_total, 0) - coalesce(k.n_kept, 0) AS BIGINT)
             AS n_tokens_removed
    FROM documents d
    LEFT JOIN kept k USING (doc_id)
    LEFT JOIN totals tl USING (doc_id)
    """,
)
def q_sa_deduped_docs(spark, sf_dir):
    """ExactSubstr dedup APPLIED (llm/suffix.py:remove_repeated_spans
    — the deduplicate-text-datasets policy of excising every
    occurrence of any ≥8-token substring repeated corpus-wide):
    cleaned text hash-matched token-for-token, via the same
    repeated-L-gram cover identity as sa_repeated_spans_exact (and,
    since r13, the same gram-cover execution on the auto path)."""
    from pos_api_pipeline_spark.llm.suffix import remove_repeated_spans

    docs = _t(spark, sf_dir, "documents")
    return remove_repeated_spans(docs, min_len=8)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_DIM = 64  # embeddings.parquet vector width


def _duck_cos(a: str, b: str, dim: int = _DIM) -> str:
    """DuckDB cosine matching llm.similarity.cosine's fold order
    (same formulation the green ann_cosine_topk oracle uses)."""
    return (
        f"list_sum([{a}[i] * {b}[i] for i in range(1, {dim + 1})]) /\n"
        f"             (sqrt(list_sum([x*x for x in {a}])) *\n"
        f"              sqrt(list_sum([x*x for x in {b}])))"
    )


def _duck_bucket(vec: str, table: int, n_planes: int, dim: int = _DIM) -> str:
    """Hyperplane-LSH bucket id for one plane table, with the sign
    arrays embedded as literals from the SAME _plane_sign used by the
    Spark side — sign(dot) decisions are bit-identical because the
    products (±e[i]) and the left-fold order match exactly."""
    parts = []
    for p in range(n_planes):
        signs = [
            _plane_sign(table * n_planes + p, d) for d in range(dim)
        ]
        arr = "[" + ",".join(f"{s}.0" for s in signs) + "]"
        dot = (
            f"list_reduce([{vec}[i] * ({arr})[i] for i in range(1, {dim + 1})],"
            f" (a,b) -> a + b)"
        )
        parts.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return "\n        + ".join(parts)


def _duck_multitable_cte(n_planes: int = 6, n_tables: int = 3) -> str:
    """v + b CTEs: vectors as DOUBLE[], one row per (vector, table)
    with that table's bucket — the twin of _multi_table_buckets."""
    arms = "\n      UNION ALL\n".join(
        f"      SELECT vec_id, e, {t} AS tbl,\n        "
        + _duck_bucket("e", t, n_planes)
        + " AS bucket FROM v"
        for t in range(n_tables)
    )
    return (
        "v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),\n"
        "    b AS MATERIALIZED (\n" + arms + "\n    )"
    )


def _lsh_ann_sql(k: int = 3, n_planes: int = 6, n_tables: int = 3) -> str:
    return f"""
    WITH {_duck_multitable_cte(n_planes, n_tables)},
    q AS (SELECT vec_id AS query_id, e AS qe, tbl, bucket FROM b WHERE vec_id < 5),
    cand AS (
      SELECT DISTINCT b.vec_id AS neighbor_id, b.e AS ce, q.query_id, q.qe
      FROM b JOIN q ON b.tbl = q.tbl AND b.bucket = q.bucket
       AND b.vec_id <> q.query_id
    ), scored AS (
      SELECT query_id, neighbor_id,
             {_duck_cos('qe', 'ce')} AS cosine
      FROM cand
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS INTEGER) AS rank FROM scored
    ) WHERE rank <= {k}
    """


def _embedding_near_dups_sql(
    threshold: float = 0.5, n_planes: int = 6, n_tables: int = 3
) -> str:
    return f"""
    WITH {_duck_multitable_cte(n_planes, n_tables)},
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b,
                      a.e AS ea, b2.e AS eb
      FROM b a JOIN b b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket
       AND a.vec_id < b2.vec_id
    ), scored AS (
      SELECT id_a, id_b,
             {_duck_cos('ea', 'eb')} AS cosine
      FROM cand
    )
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {threshold}
    """


def _ivf_ann_sql(
    k: int = 3, n_centroids: int = 16, n_probe: int = 4, query_max: int = 5
) -> str:
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cents AS MATERIALIZED (
      SELECT CAST(vec_id AS BIGINT) AS centroid_id, e AS ce
      FROM v ORDER BY vec_id LIMIT {n_centroids}
    ), assigned AS (
      SELECT neighbor_id, cvec, centroid_id FROM (
        SELECT neighbor_id, cvec, centroid_id,
               row_number() OVER (
                 PARTITION BY neighbor_id ORDER BY sim DESC, centroid_id
               ) AS cr
        FROM (SELECT v.vec_id AS neighbor_id, v.e AS cvec, c.centroid_id,
                     {_duck_cos('v.e', 'c.ce')} AS sim
              FROM v CROSS JOIN cents c)
      ) WHERE cr <= 1
    ), probed AS (
      SELECT query_id, qvec, centroid_id FROM (
        SELECT query_id, qvec, centroid_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY sim DESC, centroid_id
               ) AS cr
        FROM (SELECT v.vec_id AS query_id, v.e AS qvec, c.centroid_id,
                     {_duck_cos('v.e', 'c.ce')} AS sim
              FROM v CROSS JOIN cents c WHERE v.vec_id < {query_max})
      ) WHERE cr <= {n_probe}
    ), scored AS (
      SELECT p.query_id, a.neighbor_id,
             {_duck_cos('p.qvec', 'a.cvec')} AS cosine
      FROM assigned a JOIN probed p ON a.centroid_id = p.centroid_id
      WHERE p.query_id <> a.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS INTEGER) AS rank FROM scored
    ) WHERE rank <= {k}
    """


def _recall_sql(approx_sql: str, k: int, query_max: int) -> str:
    """Recall@k oracle: exact brute-force cosine truth (same fold
    order as the green ann_cosine_topk oracle) LEFT JOINed against an
    approximate-index top-k subquery, reduced to one (recall, count)
    row. ``approx_sql`` is a complete WITH...SELECT statement whose
    output has (query_id, neighbor_id, ...); DuckDB accepts it as a
    derived table. Turns the driver's last two rows-only checks into
    hash-matched ones (VERDICT r03 item 1)."""
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {query_max}),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             {_duck_cos('q.qe', 'v.e')} AS cosine
      FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id
    ), exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS rank FROM scored
      ) WHERE rank <= {k}
    ), approx AS (
      SELECT query_id, neighbor_id, 1 AS hit FROM ({approx_sql})
    )
    SELECT CAST(SUM(COALESCE(a.hit, 0)) AS DOUBLE) / COUNT(*)
             AS recall_at_{k},
           COUNT(*) AS n_truth_pairs
    FROM exact e LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    """


@register(
    "ann_cosine_topk",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             list_sum([qe[i] * e[i] for i in range(1, len(qe)+1)]) /
             (sqrt(list_sum([x*x for x in qe])) *
              sqrt(list_sum([x*x for x in e]))) AS cosine
      FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS INTEGER) AS rank FROM scored
    ) WHERE rank <= 3
    """,
)
def q_ann_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)


@register("lsh_ann_topk", _lsh_ann_sql(k=3, n_planes=6, n_tables=3))
def q_lsh_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return S.lsh_topk(
        emb, emb.filter(F.col("vec_id") < 5), dim=64, k=3,
        n_planes=6, n_tables=3,
    )


@register(
    "embedding_near_dups",
    # threshold 0.3: the synthetic embeddings' pairwise cosine tops
    # out ~0.44, so 0.5 would make this a vacuous 0-row check.
    _embedding_near_dups_sql(threshold=0.3, n_planes=6, n_tables=3),
)
def q_embedding_near_dups(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return S.embedding_near_dup_pairs(
        emb, dim=64, threshold=0.3, n_planes=6, n_tables=3
    )


@register("ivf_ann_topk", _ivf_ann_sql(k=3, n_centroids=16, n_probe=4))
def q_ivf_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), dim=64, k=3,
        n_centroids=16, n_probe=4,
    )


@register(
    "ivf_recall_at_k",
    _recall_sql(
        _ivf_ann_sql(k=10, n_centroids=16, n_probe=4, query_max=20),
        k=10,
        query_max=20,
    ),
)
def q_ivf_recall_at_k(spark, sf_dir):
    """Recall@10 of the IVF index against brute-force ground truth,
    as one row — lands in BENCH_r{N}.json each round so index-quality
    regressions are visible alongside latency."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20)
    exact = S.brute_force_topk(emb, qs, k=10).select("query_id", "neighbor_id")
    approx = (
        S.ivf_topk(emb, qs, dim=64, k=10, n_centroids=16, n_probe=4)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    # approx is top-k output (<= n_queries*k rows at any scale):
    # broadcast it or the planner sort-merge-joins two tiny sides.
    marked = exact.join(
        F.broadcast(approx), on=["query_id", "neighbor_id"], how="left"
    )
    return marked.agg(
        (F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1))).alias(
            "recall_at_10"
        ),
        F.count(F.lit(1)).alias("n_truth_pairs"),
    )


# Oracle attached below via _REGISTRY (needs _ivf_pq_sql, defined
# after this point) — see the patch next to ivf_pq_adc_topk.
@register("ivf_pq_recall_at_k", None)
def q_ivf_pq_recall_at_k(spark, sf_dir):
    """Recall@10 of IVFADC (cell routing + PQ asymmetric distance)
    against exact brute-force cosine truth — one row per round, so
    the BENCH history shows quantization + routing loss next to the
    routing-only loss ivf_recall_at_k tracks."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20)
    exact = S.brute_force_topk(emb, qs, k=10).select("query_id", "neighbor_id")
    approx = (
        S.ivf_pq_topk(
            emb, qs, dim=64, m=_PQ_M, k_codes=_PQ_K,
            n_centroids=16, n_probe=4, k=10,
        )
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    # approx is top-k output (<= n_queries*k rows at any scale):
    # broadcast it or the planner sort-merge-joins two tiny sides.
    marked = exact.join(
        F.broadcast(approx), on=["query_id", "neighbor_id"], how="left"
    )
    return marked.agg(
        (F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1))).alias(
            "recall_at_10"
        ),
        F.count(F.lit(1)).alias("n_truth_pairs"),
    )


# ---------------------------------------------------------------------------
# As-of join — latest purchase at or before each event, per user
# ---------------------------------------------------------------------------


@register(
    "asof_latest_purchase",
    """
    WITH purchases AS (
      SELECT user_id, ts AS p_ts, value AS p_value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT e.event_id,
           CASE WHEN p.p_value IS NULL THEN NULL
                ELSE strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') END AS p_time,
           p.p_value
    FROM events e
    ASOF LEFT JOIN purchases p
      ON e.user_id = p.user_id AND e.ts >= p.p_ts
    """,
)
def q_asof_latest_purchase(spark, sf_dir):
    from pos_api_pipeline_spark.operators.temporal import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    joined = asof_join(
        e.select("event_id", "user_id", "ts"),
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="p_ts",
        value_cols=["p_value"],
    )
    return joined.select(
        "event_id",
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("p_time"),
        "p_value",
    )


# ---------------------------------------------------------------------------
# Event-stream analytics
# ---------------------------------------------------------------------------


@register(
    "hourly_event_windows",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           (CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_hourly_event_windows(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    # F.window = the tumbling-window operator shared with the
    # streaming path (same expression works under readStream).
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _sum_dec("value", "total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "user_sessions",
    """
    WITH g AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id)
               AS prev_us
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, us,
             CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM g
    ), sessions AS (
      SELECT user_id,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) AS DOUBLE) / count(DISTINCT session_id)
             AS avg_events_per_session
    FROM sessions GROUP BY user_id
    """,
)
def q_user_sessions(spark, sf_dir):
    # Order and gap-compare on ts directly: timestamp subtraction
    # yields a day-time interval for both TIMESTAMP and TIMESTAMP_NTZ
    # (the driver's parquet has no tz, so Spark 4 infers NTZ, which
    # unix_micros rejects — this form is type-agnostic and exact).
    # event_id tiebreaker: with DUPLICATE timestamps per user (seen
    # in the sf1 scale probe), lag and the running sum are two
    # separate window evaluations whose tie enumeration can differ —
    # a flag=0 twin sorting before its group's flag=1 row in the sum
    # pass creates a phantom session id 0 and inflates
    # countDistinct by one. A unique ORDER BY makes both passes (and
    # both engines) enumerate identically.
    e = _t(spark, sf_dir, "events")
    ts = F.col("ts")
    w = Window.partitionBy("user_id").orderBy(ts, F.col("event_id"))
    prev = F.lag(ts).over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(
            prev.isNull() | ((ts - prev) > F.expr("INTERVAL 30 MINUTES")),
            1,
        ).otherwise(0),
    )
    sessioned = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessioned.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
        (
            F.count(F.lit(1)).cast("double") / F.countDistinct("session_id")
        ).alias("avg_events_per_session"),
    )


@register(
    "sliding_window_counts",
    """
    WITH w AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start, event_type FROM events
      UNION ALL
      SELECT strftime(date_trunc('hour', ts) - INTERVAL 1 HOUR,
                      '%Y-%m-%d %H:%M:%S'), event_type FROM events
    )
    SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n
    FROM w GROUP BY 1, 2
    """,
)
def q_sliding_window_counts(spark, sf_dir):
    """Batch twin of the streaming sliding window (2 h window, 1 h
    slide): every event lands in exactly two windows. The oracle
    derives the same assignment from two shifted hour-truncations."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
    )


@register(
    "repeat_customers",
    """
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def q_repeat_customers(spark, sf_dir):
    """INTERSECT set op: customers active in both years."""
    o = _t(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96)


@register(
    "churned_customers",
    """
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    EXCEPT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def q_churned_customers(spark, sf_dir):
    """EXCEPT set op: active in 1995, gone in 1996."""
    o = _t(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    # subtract = distinct EXCEPT; exceptAll would be bag semantics and
    # keep keys whose 1995 multiplicity exceeds their 1996 one.
    return y95.subtract(y96)


@register(
    "orders_with_big_lines",
    """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_extendedprice > 90000
    )
    """,
)
def q_orders_with_big_lines(spark, sf_dir):
    """EXISTS as a left-semi join (no duplication, no row expansion)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = li.filter(F.col("l_extendedprice") > 90000)
    return o.join(
        big, o.o_orderkey == big.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_totalprice")


@register(
    "event_type_pivot",
    """
    SELECT dayname(ts) AS day_of_week,
           CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
           CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
           CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
           CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
    FROM events GROUP BY 1
    """,
)
def q_event_type_pivot(spark, sf_dir):
    from pos_api_pipeline_spark.operators.analytics import pivot_matrix
    from pos_api_pipeline_spark.operators.cleaning import day_name

    e = _t(spark, sf_dir, "events").withColumn("day_of_week", day_name(F.col("ts")))
    return pivot_matrix(
        e,
        index="day_of_week",
        columns="event_type",
        pivot_values=["click", "error", "purchase", "signup", "view"],
    )


# ---------------------------------------------------------------------------
# Basket co-occurrence (SQL-expressible core of A12/A13)
# ---------------------------------------------------------------------------


@register(
    "basket_pairs_top50",
    """
    WITH pairs AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem
    )
    SELECT item_a, item_b, n_baskets FROM (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(count(*) AS BIGINT) AS n_baskets
      FROM pairs a JOIN pairs b ON a.bk = b.bk AND a.item < b.item
      GROUP BY 1, 2
    ) ORDER BY n_baskets DESC, item_a, item_b LIMIT 50
    """,
)
def q_basket_pairs_top50(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        item_pair_counts(li, basket_key="l_orderkey", item_col="l_partkey")
        .orderBy(F.desc("n_baskets"), F.asc("item_a"), F.asc("item_b"))
        .limit(50)
    )


# Apriori-in-SQL twin of Spark FPGrowth (same counts by downward
# closure; FPGrowth is just a faster mining strategy). Reproduces the
# model's arithmetic exactly: minCount = ceil(minSupport*n),
# confidence = freq(union)/freq(ante), lift = confidence /
# (freq(cons)/n), support = freq(union)/n — all IEEE double ops in
# the same operand order. Covers itemsets up to size 3 (a unit test
# asserts no size-3 itemset is frequent at the gate SFs, and the SQL
# includes the size-3 arms anyway for headroom). MATERIALIZED hints:
# DuckDB re-inlines CTEs per reference, which turns the self-join
# pyramid quadratic without them.
_FPGROWTH_SQL = """
    WITH items AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS bk, p_brand AS item
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ), nrec AS (
      SELECT count(DISTINCT bk) AS nb,
             CAST(ceil(0.01 * count(DISTINCT bk)) AS BIGINT) AS mc
      FROM items
    ), s1 AS MATERIALIZED (
      SELECT item, count(*) AS c FROM items GROUP BY 1
    ), s2 AS MATERIALIZED (
      SELECT a.item AS i1, b.item AS i2, count(*) AS c
      FROM items a JOIN items b ON a.bk = b.bk AND a.item < b.item
      GROUP BY 1, 2
    ), s3 AS MATERIALIZED (
      SELECT a.item AS i1, b.item AS i2, c3.item AS i3, count(*) AS c
      FROM items a JOIN items b ON a.bk = b.bk AND a.item < b.item
      JOIN items c3 ON a.bk = c3.bk AND b.item < c3.item
      GROUP BY 1, 2, 3
    ), rules AS (
      SELECT s2.i1 AS ante, s2.i2 AS cons, s2.c AS cu, a1.c AS ca, c1.c AS cc
      FROM s2 JOIN s1 a1 ON a1.item = s2.i1
              JOIN s1 c1 ON c1.item = s2.i2
      CROSS JOIN nrec WHERE s2.c >= mc
      UNION ALL
      SELECT s2.i2, s2.i1, s2.c, a1.c, c1.c
      FROM s2 JOIN s1 a1 ON a1.item = s2.i2
              JOIN s1 c1 ON c1.item = s2.i1
      CROSS JOIN nrec WHERE s2.c >= mc
      UNION ALL
      SELECT s3.i1 || '+' || s3.i2, s3.i3, s3.c, p.c, c1.c
      FROM s3 JOIN s2 p ON p.i1 = s3.i1 AND p.i2 = s3.i2
              JOIN s1 c1 ON c1.item = s3.i3
      CROSS JOIN nrec WHERE s3.c >= mc
      UNION ALL
      SELECT s3.i1 || '+' || s3.i3, s3.i2, s3.c, p.c, c1.c
      FROM s3 JOIN s2 p ON p.i1 = s3.i1 AND p.i2 = s3.i3
              JOIN s1 c1 ON c1.item = s3.i2
      CROSS JOIN nrec WHERE s3.c >= mc
      UNION ALL
      SELECT s3.i2 || '+' || s3.i3, s3.i1, s3.c, p.c, c1.c
      FROM s3 JOIN s2 p ON p.i1 = s3.i2 AND p.i2 = s3.i3
              JOIN s1 c1 ON c1.item = s3.i1
      CROSS JOIN nrec WHERE s3.c >= mc
    )
    SELECT ante AS antecedent, cons AS consequent,
           CAST(cu AS DOUBLE) / ca AS confidence,
           (CAST(cu AS DOUBLE) / ca) / (CAST(cc AS DOUBLE) / nb) AS lift,
           CAST(cu AS DOUBLE) / nb AS support
    FROM rules CROSS JOIN nrec
    WHERE (CAST(cu AS DOUBLE) / ca) / (CAST(cc AS DOUBLE) / nb) >= 0.5
    """


@register("fpgrowth_rules", _FPGROWTH_SQL)
def q_fpgrowth_rules(spark, sf_dir):
    from pos_api_pipeline_spark.operators.basket import frequent_itemsets_and_rules

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    # Part-level baskets are too sparse for any itemset to clear
    # support; mine at brand level (the realistic grain) via a
    # broadcast dimension join — same pattern as the reference's
    # item_name baskets (cumulative_report.py:137).
    branded = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    _, rules = frequent_itemsets_and_rules(
        branded,
        basket_key="l_orderkey",
        item_col="p_brand",
        min_support=0.01,
        min_lift=0.5,
    )
    # array_sort before the join: FPGrowth's antecedent array order is
    # model-internal; the oracle emits items in lexical order.
    return rules.select(
        F.array_join(
            F.array_sort(F.transform("antecedent", lambda x: x.cast("string"))),
            "+",
        ).alias("antecedent"),
        F.array_join(F.transform("consequent", lambda x: x.cast("string")), "+").alias(
            "consequent"
        ),
        F.col("confidence"),
        F.col("lift"),
        F.col("support"),
    )


# ---------------------------------------------------------------------------
# Corpus-curation family (llm/curation.py): repetition stats,
# decontamination, PII redaction, normalization
# ---------------------------------------------------------------------------

# DuckDB twin of curation._all_ngrams for n=2 — NOT distinct (the
# repetition signal is exactly the duplicates).
_DUCK_BIGRAMS = r"""
  SELECT doc_id,
         [array_to_string(toks[i:i+1], ' ')
          for i in range(1, greatest(len(toks)-1, 0)+1)] AS gs
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS toks
        FROM documents)
"""


@register(
    "repetition_stats",
    rf"""
    WITH t AS ({_DUCK_BIGRAMS}),
    e AS (SELECT doc_id, unnest(gs) AS g FROM t),
    c AS (SELECT doc_id, g, count(*) AS c FROM e GROUP BY 1, 2),
    s AS (SELECT doc_id,
                 CAST(sum(c) AS BIGINT) AS n_ngrams,
                 CAST(count(*) AS BIGINT) AS n_distinct,
                 CAST(max(c) AS BIGINT) AS top_count
          FROM c GROUP BY 1)
    SELECT t.doc_id,
           coalesce(s.n_ngrams, 0) AS n_ngrams,
           coalesce(s.n_distinct, 0) AS n_distinct,
           coalesce(s.top_count, 0) AS top_count,
           CASE WHEN s.n_ngrams > 0
                THEN 1.0 - CAST(s.n_distinct AS DOUBLE) / s.n_ngrams
           END AS dup_ngram_fraction,
           CASE WHEN s.n_ngrams > 0
                THEN CAST(s.top_count AS DOUBLE) / s.n_ngrams
           END AS top_ngram_fraction
    FROM t LEFT JOIN s USING (doc_id)
    """,
)
def q_repetition_stats(spark, sf_dir):
    """Gopher-style per-document bigram repetition profile
    (llm/curation.py:repetition_stats): duplicate-ngram fraction and
    top-ngram fraction, the cheap boilerplate detectors."""
    from pos_api_pipeline_spark.llm.curation import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, n=2)


@register(
    "contamination_check",
    rf"""
    WITH t AS ({_DUCK_SHINGLES3}),
    bench AS (SELECT DISTINCT unnest(sh) AS g FROM t WHERE doc_id % 50 = 0),
    e AS (SELECT doc_id, unnest(sh) AS g FROM t),
    hits AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS nc
             FROM e JOIN bench USING (g) GROUP BY 1)
    SELECT t.doc_id,
           CAST(len(t.sh) AS BIGINT) AS n_shingles,
           coalesce(h.nc, 0) AS n_contaminated,
           CASE WHEN len(t.sh) > 0
                THEN CAST(coalesce(h.nc, 0) AS DOUBLE) / len(t.sh)
                ELSE 0.0
           END AS contamination_fraction
    FROM t LEFT JOIN hits h USING (doc_id)
    """,
)
def q_contamination_check(spark, sf_dir):
    """Train/test decontamination (llm/curation.py:contamination):
    every 50th document plays the benchmark set; per-doc overlap of
    distinct 3-gram shingles via a broadcast probe. The benchmark
    docs themselves come back 100% contaminated — the self-check."""
    from pos_api_pipeline_spark.llm.curation import contamination

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return contamination(docs, bench, n=3)


@register(
    "contamination_bloom_check",
    rf"""
    WITH t AS ({_DUCK_SHINGLES3}),
    bench AS (SELECT DISTINCT unnest(sh) AS g FROM t WHERE doc_id % 50 = 0),
    e AS (SELECT doc_id, unnest(sh) AS g FROM t),
    hits AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS nc
             FROM e JOIN bench USING (g) GROUP BY 1)
    SELECT t.doc_id,
           CAST(len(t.sh) AS BIGINT) AS n_shingles,
           coalesce(h.nc, 0) AS n_contaminated,
           CASE WHEN len(t.sh) > 0
                THEN CAST(coalesce(h.nc, 0) AS DOUBLE) / len(t.sh)
                ELSE 0.0
           END AS contamination_fraction
    FROM t LEFT JOIN hits h USING (doc_id)
    """,
)
def q_contamination_bloom_check(spark, sf_dir):
    """Bloom-prefiltered decontamination
    (llm/curation.py:contamination_bloom) — the regime where the
    benchmark gram set outgrows the broadcast threshold: broadcast a
    DataFrame-built Bloom filter (~10 bits/gram, one map<long,long>
    scalar-carry row), probe map-side, exact-verify only the
    candidates through a shuffled semi-probe. Bloom misses are
    guaranteed misses, so the output — and this oracle, shared with
    contamination_check — is bit-identical to the broadcast path."""
    from pos_api_pipeline_spark.llm.curation import contamination_bloom

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return contamination_bloom(docs, bench, n=3)


@register(
    "pii_redaction",
    r"""
    WITH t AS (
      SELECT doc_id,
             text || ' contact user' || doc_id
                  || '@example.com via 10.0.' || (doc_id % 256)
                  || '.7 or 555-123-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' / (555) 867-'
                  || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
                  || ' / +1 555 234 1212' AS text2
      FROM documents
    ), e AS (
      SELECT doc_id, text2,
             regexp_replace(text2,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS after_email
      FROM t
    ), i AS (
      SELECT doc_id, text2, after_email,
             regexp_replace(after_email,
               '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS after_ip
      FROM e
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text2,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(after_email,
             '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(after_ip,
             '(?:\+?1[-. ]?)?(?:\(\d{3}\)[-. ]?|\b\d{3}[-. ])\d{3}[-. ]\d{4}\b'
             )) AS BIGINT) AS n_phones,
           regexp_replace(after_ip,
             '(?:\+?1[-. ]?)?(?:\(\d{3}\)[-. ]?|\b\d{3}[-. ])\d{3}[-. ]\d{4}\b',
             '<PHONE>', 'g') AS redacted
    FROM i
    """,
)
def q_pii_redaction(spark, sf_dir):
    """PII redaction (llm/curation.py:redact_pii) over documents with
    deterministic synthetic PII appended (the corpus itself is
    digit-free), so every pattern is genuinely exercised — including
    the parenthesized-area-code, space-separated, and +1-prefixed
    phone formats. Counts are sequential (each on the text after the
    earlier redactions), mirrored exactly in the oracle CTEs."""
    from pos_api_pipeline_spark.llm.curation import redact_pii

    docs = _t(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 or 555-123-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" / (555) 867-"),
            F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
            F.lit(" / +1 555 234 1212"),
        ).alias("text2"),
    )
    out = redact_pii(seeded, text_col="text2")
    return out.select(
        "doc_id",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_ips").cast("long").alias("n_ips"),
        F.col("n_phones").cast("long").alias("n_phones"),
        "redacted",
    )


@register(
    "text_normalization",
    r"""
    WITH t AS (
      SELECT doc_id,
             upper(substr(text, 1, 40)) || chr(9) || '  ' || text AS text2
      FROM documents
    ), n AS (
      SELECT doc_id, text2,
             trim(regexp_replace(lower(
               regexp_replace(text2, '[\x00-\x1F\x7F]', ' ', 'g')),
               '\s+', ' ', 'g')) AS normalized
      FROM t
    )
    SELECT doc_id,
           CAST(len(text2) AS BIGINT) AS n_chars_raw,
           normalized,
           CAST(len(normalized) AS BIGINT) AS n_chars_norm
    FROM n
    """,
)
def q_text_normalization(spark, sf_dir):
    """Canonical-form normalization (llm/curation.py:normalize_text)
    over documents with a deterministic messy prefix (upper-cased
    echo + tab + double space) so case folding and whitespace
    collapse are genuinely exercised."""
    from pos_api_pipeline_spark.llm.curation import normalize_text

    docs = _t(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.upper(F.substring("text", 1, 40)),
            F.lit("\t  "),
            F.col("text"),
        ).alias("text2"),
    )
    out = normalize_text(seeded, text_col="text2")
    return out.select(
        "doc_id",
        F.col("n_chars_raw").cast("long").alias("n_chars_raw"),
        "normalized",
        F.col("n_chars_norm").cast("long").alias("n_chars_norm"),
    )


# ---------------------------------------------------------------------------
# Sampling / corpus-mixture family (llm/sampling.py): deterministic
# hash sampling, exact stratified quotas, weighted domain mixture.
# The md5-prefix hash is the portable RNG, so the DuckDB twins
# recompute the IDENTICAL sample — full hash-match oracles, not
# statistical checks.
# ---------------------------------------------------------------------------

# Thresholds/targets inlined from the same Python arithmetic the Spark
# side uses, so both engines compare against bit-identical literals.
_HS = float(1 << 60)
_HASH_SAMPLE_THRESHOLD = int(0.1 * _HS)
_MIX_WEIGHTS = {"en": 0.5, "es": 0.2, "fr": 0.2, "de": 0.1}
_MIX_TOTAL = 150
_MIX_WSUM = sum(_MIX_WEIGHTS.values())
_MIX_TARGETS = {
    k: _MIX_TOTAL * v / _MIX_WSUM for k, v in _MIX_WEIGHTS.items()
}


def _duck_skey(seed: int) -> str:
    return _DUCK_H64.format(col=f"CAST(doc_id AS VARCHAR) || ':{seed}'")


@register(
    "hash_sample_docs",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {_duck_skey(7)} < {_HASH_SAMPLE_THRESHOLD}
    """,
)
def q_hash_sample_docs(spark, sf_dir):
    """Deterministic ~10% corpus cut (llm/sampling.py:hash_sample):
    map-only hash-threshold filter; the oracle recomputes the exact
    same member set from md5."""
    from pos_api_pipeline_spark.llm.sampling import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, 0.1, seed=7).select("doc_id", "lang")


@register(
    "stratified_sample_by_lang",
    f"""
    WITH h AS (
      SELECT doc_id, lang, {_duck_skey(3)} AS hk FROM documents
    ), r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY hk ASC, doc_id ASC) AS rn
      FROM h
    )
    SELECT doc_id, lang FROM r WHERE rn <= 40
    """,
)
def q_stratified_sample_by_lang(spark, sf_dir):
    """Exact per-language quota (llm/sampling.py:stratified_sample):
    40 docs per lang selected by portable hash order — a
    reproducible uniform sample without replacement per stratum."""
    from pos_api_pipeline_spark.llm.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", 40, seed=3).select(
        "doc_id", "lang"
    )


_MIX_TARGET_CASE = " ".join(
    f"WHEN '{k}' THEN {_MIX_TARGETS[k]!r}" for k in sorted(_MIX_TARGETS)
)


@register(
    "mixture_rates_by_lang",
    f"""
    WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_rows FROM documents
      WHERE lang IN ('de', 'en', 'es', 'fr')
      GROUP BY lang
    )
    SELECT lang, n_rows,
           CASE lang {_MIX_TARGET_CASE} END AS target_n,
           least(1.0, (CASE lang {_MIX_TARGET_CASE} END) / n_rows) AS rate
    FROM c
    """,
)
def q_mixture_rates_by_lang(spark, sf_dir):
    """Per-stratum keep-rate table (llm/sampling.py:mixture_rates)
    for a 50/20/20/10 en/es/fr/de target mixture (zh dropped): one
    count aggregate, always broadcast-sized."""
    from pos_api_pipeline_spark.llm.sampling import mixture_rates

    docs = _t(spark, sf_dir, "documents")
    return mixture_rates(docs, "lang", dict(_MIX_WEIGHTS), _MIX_TOTAL)


@register(
    "mixture_sample_docs",
    f"""
    WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_rows FROM documents
      WHERE lang IN ('de', 'en', 'es', 'fr')
      GROUP BY lang
    ), r AS (
      SELECT lang,
             least(1.0, (CASE lang {_MIX_TARGET_CASE} END) / n_rows) AS rate
      FROM c
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r USING (lang)
    WHERE {_duck_skey(5).replace('doc_id', 'd.doc_id')} < r.rate * {_HS!r}
    """,
)
def q_mixture_sample_docs(spark, sf_dir):
    """Weighted mixture resample (llm/sampling.py:mixture_sample):
    broadcast the rate table, filter map-side on the portable hash —
    the 100 TB shape (no per-row sort or shuffle). The oracle
    reproduces the exact member set."""
    from pos_api_pipeline_spark.llm.sampling import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    return mixture_sample(
        docs, "lang", dict(_MIX_WEIGHTS), _MIX_TOTAL, seed=5
    ).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Sequence-packing family (llm/packing.py): concat-chunk packing is
# plain window arithmetic (direct SQL twin); greedy first-fit is
# sequential state (applyInPandas) whose oracle is a recursive CTE
# walking each shard in document order — DuckDB replays the exact
# same greedy decisions.
# ---------------------------------------------------------------------------

_PACK_BUDGET = 128
_PACK_SHARDS = 8

_DUCK_PACK_BASE = rf"""
  SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
         CAST(len({_DUCK_TOKS.format(col='text')}) AS BIGINT) AS n_tokens
  FROM documents
"""

_DUCK_PACK_GREEDY = f"""
    WITH RECURSIVE d AS MATERIALIZED ({_DUCK_PACK_BASE}),
    o AS MATERIALIZED (
      SELECT shard, doc_id, n_tokens,
             row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      FROM d
    ),
    pk AS (
      SELECT shard, doc_id, rn, n_tokens,
             CAST(0 AS BIGINT) AS pack_id, n_tokens AS pack_fill
      FROM o WHERE rn = 1
      UNION ALL
      SELECT o.shard, o.doc_id, o.rn, o.n_tokens,
             CASE WHEN p.pack_fill + o.n_tokens <= {_PACK_BUDGET}
                  THEN p.pack_id ELSE p.pack_id + 1 END,
             CASE WHEN p.pack_fill + o.n_tokens <= {_PACK_BUDGET}
                  THEN p.pack_fill + o.n_tokens ELSE o.n_tokens END
      FROM o JOIN pk p ON o.shard = p.shard AND o.rn = p.rn + 1
    )
"""


@register(
    "pack_concat_docs",
    f"""
    WITH d AS ({_DUCK_PACK_BASE}),
    c AS (
      SELECT shard, doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM d
    )
    SELECT shard, doc_id, n_tokens,
           CAST(floor(cum_before / {_PACK_BUDGET}) AS BIGINT) AS pack_id,
           CAST(cum_before % {_PACK_BUDGET} AS BIGINT) AS start_offset
    FROM c
    """,
)
def q_pack_concat_docs(spark, sf_dir):
    """GPT-style concat-then-chunk packing (llm/packing.py:
    pack_concat): per-shard cumulative token sums cut every 128
    tokens; one window shuffle, all arithmetic in codegen."""
    from pos_api_pipeline_spark.llm.packing import pack_concat

    docs = _t(spark, sf_dir, "documents")
    return pack_concat(
        docs, _PACK_BUDGET, n_shards=_PACK_SHARDS
    )


@register(
    "pack_greedy_docs",
    f"""
    {_DUCK_PACK_GREEDY}
    SELECT shard, doc_id, n_tokens, pack_id, pack_fill,
           n_tokens > {_PACK_BUDGET} AS truncate
    FROM pk
    """,
)
def q_pack_greedy_docs(spark, sf_dir):
    """First-fit-sequential packing (llm/packing.py:pack_greedy):
    the applyInPandas sequential state replayed by a recursive CTE —
    pack ids, fills, and truncation flags match row-for-row."""
    from pos_api_pipeline_spark.llm.packing import pack_greedy

    docs = _t(spark, sf_dir, "documents")
    return pack_greedy(docs, _PACK_BUDGET, n_shards=_PACK_SHARDS)


@register(
    "packing_efficiency_by_shard",
    f"""
    {_DUCK_PACK_GREEDY},
    per_pack AS (
      SELECT shard, pack_id, sum(n_tokens) AS fill
      FROM pk GROUP BY 1, 2
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_packs,
           avg(fill) / {_PACK_BUDGET} AS mean_fill_fraction,
           1.0 - sum(fill) / (count(*) * {float(_PACK_BUDGET)!r})
             AS waste_fraction
    FROM per_pack GROUP BY shard
    """,
)
def q_packing_efficiency_by_shard(spark, sf_dir):
    """Packing diagnostics (llm/packing.py:packing_efficiency) over
    the greedy output: pack counts, mean fill, waste per shard."""
    from pos_api_pipeline_spark.llm.packing import (
        pack_greedy,
        packing_efficiency,
    )

    docs = _t(spark, sf_dir, "documents")
    packed = pack_greedy(docs, _PACK_BUDGET, n_shards=_PACK_SHARDS)
    return packing_efficiency(packed, _PACK_BUDGET)


@register(
    "props_variant_stats",
    r"""
    SELECT event_type,
           CAST(count(k) AS BIGINT) AS n_with_k,
           CAST(min(k) AS INTEGER) AS min_k,
           CAST(max(k) AS INTEGER) AS max_k,
           avg(k) AS avg_k
    FROM (SELECT event_type, CAST(props->>'$.k' AS INTEGER) AS k
          FROM events)
    GROUP BY event_type
    """,
)
def q_props_variant_stats(spark, sf_dir):
    """Schema-on-read over the JSON props column via Spark 4's
    VARIANT type: parse_json once, try_variant_get typed paths (null
    on missing/mistyped — no regex). The modern replacement for the
    regexp_extract approach in props_k_buckets; at scale VARIANT's
    binary encoding beats re-parsing JSON text per access. DuckDB
    twin reads the same paths with native JSON operators."""
    e = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.avg("k").alias("avg_k"),
        )
    )


@register(
    "unigram_logprob_scores",
    rf"""
    WITH term_rows AS (
      SELECT doc_id,
             unnest(list_transform({_DUCK_TOKS.format(col='text')},
                                   x -> lower(x))) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM term_rows GROUP BY 1, 2
    ), cw AS (
      SELECT term, sum(tf) AS cw FROM tf GROUP BY 1
    ), tot AS (
      SELECT sum(cw) AS total FROM cw
    ), lp AS (
      SELECT term, CAST(round(ln(cw / total), 6) AS DECIMAL(28,6)) AS lp
      FROM cw, tot
    ), agg AS (
      SELECT tf.doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
             sum(tf * lp) AS slp
      FROM tf JOIN lp USING (term) GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(a.n_tokens, 0) AS n_tokens,
           CASE WHEN a.n_tokens > 0
                THEN CAST(a.slp AS DOUBLE) / a.n_tokens END AS mean_logprob
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def q_unigram_logprob_scores(spark, sf_dir):
    """Self-scored unigram LM quality filter (llm/text.py:
    unigram_logprob): 6-dp-rounded decimal accumulation makes the
    per-doc sums order-independent, so DuckDB reproduces the scores
    exactly."""
    docs = _t(spark, sf_dir, "documents")
    return X.unigram_logprob(docs)


@register(
    "domain_counts_seeded",
    r"""
    WITH t AS (
      SELECT doc_id,
             text || ' see https://www.site' || (doc_id % 7)
                  || '.example.com/p/' || doc_id
                  || ' and http://cdn' || (doc_id % 3)
                  || '.example.net:8080/x' AS text2
      FROM documents
    ), u AS (
      SELECT doc_id,
             lower(regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1))
               AS domain
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(text2,
                     'https?://[A-Za-z0-9.-]+(?::\d+)?(?:/[^\s]*)?')) AS url
            FROM t)
    )
    SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM u GROUP BY domain
    """,
)
def q_domain_counts_seeded(spark, sf_dir):
    """URL/domain provenance counts (llm/curation.py:domain_counts)
    over documents with deterministic seeded URLs (the corpus itself
    has none) — hosts with ports and paths both exercised."""
    from pos_api_pipeline_spark.llm.curation import domain_counts

    docs = _t(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://www.site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" and http://cdn"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".example.net:8080/x"),
        ).alias("text2"),
    )
    return domain_counts(seeded, text_col="text2")


@register(
    "cross_exact_dedup_survivors",
    """
    SELECT doc_id, lang FROM documents
    WHERE doc_id % 3 <> 0
      AND md5(text) NOT IN (
        SELECT md5(text) FROM documents WHERE doc_id % 3 = 0)
    """,
)
def q_cross_exact_dedup_survivors(spark, sf_dir):
    """Incremental-crawl exact dedup (llm/dedup.py:
    cross_corpus_exact_dedup): every third document plays the
    existing lake, the rest play the new delta; any delta text
    already in the lake is anti-joined away on md5."""
    from pos_api_pipeline_spark.llm.dedup import cross_corpus_exact_dedup

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 3 == 0)
    new = docs.filter(F.col("doc_id") % 3 != 0)
    return cross_corpus_exact_dedup(new, old).select("doc_id", "lang")


@register(
    "cross_near_dups_flagged",
    f"""{_minhash_bands_with()}
    SELECT DISTINCT a.doc_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bhash = b.bhash
    WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
    """,
)
def q_cross_near_dups_flagged(spark, sf_dir):
    """Cross-corpus MinHash near-dup flagging (llm/dedup.py:
    cross_corpus_near_dups): new docs (doc_id%5<>0) sharing any full
    signature band with the lake (doc_id%5=0). The oracle reuses the
    bit-identical band table with a semi-join predicate."""
    from pos_api_pipeline_spark.llm.dedup import cross_corpus_near_dups

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 5 == 0)
    new = docs.filter(F.col("doc_id") % 5 != 0)
    return cross_corpus_near_dups(new, old)


@register(
    "top_terms_per_lang",
    rf"""
    WITH tok AS (
      SELECT lang,
             unnest(list_transform({_DUCK_TOKS.format(col='text')},
                                   x -> lower(x))) AS term
      FROM documents
    ), c AS (
      SELECT lang, term, CAST(count(*) AS BIGINT) AS n
      FROM tok GROUP BY 1, 2
    ), r AS (
      SELECT lang, term, n,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n DESC, term ASC) AS rnk
      FROM c
    )
    SELECT lang, term, n, CAST(rnk AS INTEGER) AS rnk
    FROM r WHERE rnk <= 3
    """,
)
def q_top_terms_per_lang(spark, sf_dir):
    """Per-group top-k — the windowed companion of the global top-k
    (A1): top-3 terms per language by frequency, ranked with a
    deterministic tiebreaker. One count shuffle + one window shuffle;
    at scale the count pre-aggregation means the window sorts
    (lang, term) rows, never raw tokens."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    toks = F.transform(X.tokens("text"), lambda t: F.lower(t))
    tok_rows = docs.select(
        "lang", F.explode_outer(toks).alias("term")
    ).filter(F.col("term").isNotNull())
    counts = tok_rows.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "event_value_histogram",
    """
    WITH b AS (
      SELECT least(19, greatest(0,
               CAST(floor((value - 0.0) / 5.0) AS INTEGER))) AS bin
      FROM events WHERE value IS NOT NULL
    ), c AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bin
    ), bins AS (SELECT unnest(range(20)) AS bin)
    SELECT CAST(bins.bin AS INTEGER) AS bin,
           0.0 + bins.bin * 5.0 AS lo_edge,
           0.0 + (bins.bin + 1) * 5.0 AS hi_edge,
           coalesce(c.n, 0) AS n
    FROM bins LEFT JOIN c USING (bin)
    """,
)
def q_event_value_histogram(spark, sf_dir):
    """Fixed-width histogram (operators/analytics.py:histogram) of
    event values into 20 bins of width 5 over [0, 100), edge bins
    clamping outliers, empty bins preserved."""
    from pos_api_pipeline_spark.operators.analytics import histogram

    e = _t(spark, sf_dir, "events")
    return histogram(e, "value", 0.0, 100.0, 20)


@register(
    "documents_profile",
    """
    SELECT 'doc_id' AS column,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_value,
           CAST(max(doc_id) AS VARCHAR) AS max_value
    FROM documents
    UNION ALL
    SELECT 'lang', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT lang) AS BIGINT),
           CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
    FROM documents
    """,
)
def q_documents_profile(spark, sf_dir):
    """Single-pass column profile (operators/analytics.py:
    profile_table) over (doc_id, lang): all stats in ONE aggregation
    over one scan; the oracle computes each column's row the direct
    way."""
    from pos_api_pipeline_spark.operators.analytics import profile_table

    docs = _t(spark, sf_dir, "documents")
    return profile_table(docs, ["doc_id", "lang"])


_DUCK_CENTROID_CTE = """
    WITH parts AS (
      SELECT vec_id % 5 AS grp, d.dim,
             CAST(round(CAST(embedding[d.dim + 1] AS DOUBLE), 7)
                  AS DECIMAL(28,7)) AS x
      FROM embeddings, (SELECT unnest(range(64)) AS dim) d
    ), per_dim AS (
      SELECT grp, dim, sum(x) AS s, count(*) AS n
      FROM parts GROUP BY 1, 2
    )
"""


@register(
    "group_centroid_components",
    f"""{_DUCK_CENTROID_CTE}
    SELECT grp, CAST(dim AS INTEGER) AS dim,
           CAST(n AS BIGINT) AS n_vectors,
           CAST(s AS DOUBLE) / n AS component
    FROM per_dim
    """,
)
def q_group_centroid_components(spark, sf_dir):
    """Per-group embedding centroids (llm/similarity.py:
    group_centroids), groups = vec_id % 5, emitted one component per
    row. Components accumulate as DECIMAL (order-independent exact
    sums) and divide once in double — cross-engine bit parity."""
    from pos_api_pipeline_spark.llm.similarity import group_centroids

    emb = _t(spark, sf_dir, "embeddings")
    grouped = emb.select(
        (F.col("vec_id") % 5).alias("grp"), "embedding"
    )
    cents = group_centroids(grouped, "grp")
    return cents.select(
        "grp",
        "n_vectors",
        F.posexplode("centroid").alias("dim", "component"),
    ).select("grp", F.col("dim").cast("int").alias("dim"), "n_vectors",
             "component")


@register(
    "centroid_outlier_scores",
    f"""{_DUCK_CENTROID_CTE},
    cents AS (
      SELECT grp,
             list(CAST(s AS DOUBLE) / n ORDER BY dim) AS centroid
      FROM per_dim GROUP BY grp
    )
    SELECT e.vec_id, CAST(e.vec_id % 5 AS BIGINT) AS grp,
           list_reduce([ve[i] * c.centroid[i] for i in range(1, 65)],
                       (x, y) -> x + y) /
             (sqrt(list_reduce([x*x for x in ve], (x, y) -> x + y)) *
              sqrt(list_reduce([x*x for x in c.centroid],
                               (x, y) -> x + y))) AS centroid_cosine
    FROM (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings) e
    JOIN cents c ON e.vec_id % 5 = c.grp
    """,
)
def q_centroid_outlier_scores(spark, sf_dir):
    """Embedding-side outlier scoring (llm/similarity.py:
    centroid_outlier_scores): cosine of every vector to its group
    centroid, centroid broadcast map-side. Low scores flag vectors
    that do not belong to their cluster."""
    from pos_api_pipeline_spark.llm.similarity import centroid_outlier_scores

    emb = _t(spark, sf_dir, "embeddings")
    grouped = emb.select(
        "vec_id", (F.col("vec_id") % 5).alias("grp"), "embedding"
    )
    return centroid_outlier_scores(grouped, "grp").select(
        "vec_id", F.col("grp").cast("long").alias("grp"), "centroid_cosine"
    )


@register(
    "strip_html_docs",
    r"""
    WITH t AS (
      SELECT doc_id,
             '<html><head><style>p { color: red }</style>'
               || '<script src="x.js">var x = 1 < 2;</script></head>'
               || '<body><h1>Doc ' || doc_id || '</h1><p>'
               || text
               || ' &amp; more &lt;data&gt; &quot;quoted&quot;'
               || '&#39;s &nbsp;end</p></body></html>' AS html
      FROM documents
    ), s AS (
      SELECT doc_id, html,
             regexp_replace(
               regexp_replace(html,
                 '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
               '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS nb
      FROM t
    ), d AS (
      SELECT doc_id, html,
             replace(replace(replace(replace(replace(replace(
               regexp_replace(nb, '(?s)<[^>]+>', ' ', 'g'),
               '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
               '&quot;', '"'), '&#39;', chr(39)), '&nbsp;', ' ') AS dec
      FROM s
    )
    SELECT doc_id,
           trim(regexp_replace(dec, '\s+', ' ', 'g')) AS stripped,
           CAST(length(html) - length(
             trim(regexp_replace(dec, '\s+', ' ', 'g'))) AS INTEGER)
             AS n_chars_stripped
    FROM d
    """,
)
def q_strip_html_docs(spark, sf_dir):
    """HTML→text extraction (llm/text.py:strip_html) over documents
    wrapped in deterministic markup: script/style blocks (with
    entity-free JS containing '<'), headings, entities. The oracle
    replays the identical regex/replace chain."""
    docs = _t(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><head><style>p { color: red }</style>'
                  '<script src="x.js">var x = 1 < 2;</script></head>'
                  "<body><h1>Doc "),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit(" &amp; more &lt;data&gt; &quot;quoted&quot;"
                  "&#39;s &nbsp;end</p></body></html>"),
        ).alias("html"),
    )
    out = X.strip_html(seeded, text_col="html")
    return out.select(
        "doc_id", "stripped",
        F.col("n_chars_stripped").cast("int").alias("n_chars_stripped"),
    )


@register(
    "rolling_7day_revenue",
    """
    WITH d AS (
      SELECT o_custkey,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             (CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
               AS day_rev
      FROM orders WHERE o_custkey % 100 = 0
      GROUP BY 1, 2
    )
    SELECT o_custkey, day,
           CAST(SUM(CAST(day_rev AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS rev_7d
    FROM d
    """,
)
def q_rolling_7day_revenue(spark, sf_dir):
    """RANGE-frame rolling window — the time-bounded companion of
    the ROWS-frame running totals: per customer, revenue over the
    trailing 7 calendar days (gaps included, unlike a 7-ROW frame).
    Pre-aggregating to day grain first keeps the window input at one
    row per (customer, day) — at scale the frame slides over day
    rows, not raw orders. Decimal sums for hash-stable doubles."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    daily = (
        o.filter(F.col("o_custkey") % 100 == 0)
        .groupBy(
            "o_custkey",
            F.unix_date(F.to_date("o_orderdate")).cast("long").alias("day"),
        )
        .agg(_sum_dec("o_totalprice", "day_rev"))
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "o_custkey",
        "day",
        F.sum(F.col("day_rev").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("rev_7d"),
    )


@register(
    "purchase_funnel",
    """
    WITH stages AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events GROUP BY user_id
    )
    SELECT
      CAST(count(*) AS BIGINT) AS n_users,
      CAST(count(t_view) AS BIGINT) AS n_viewed,
      CAST(sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
        AS n_clicked_after_view,
      CAST(sum(CASE WHEN t_buy > t_click AND t_click > t_view
                    THEN 1 ELSE 0 END) AS BIGINT)
        AS n_full_funnel
    FROM stages
    """,
)
def q_purchase_funnel(spark, sf_dir):
    """Ordered-funnel analysis: users progressing view → click →
    purchase with strictly increasing first-touch times. One groupBy
    with conditional MIN per stage (map-side combinable — never a
    per-user event sort), then a scalar funnel rollup. NULL-safe by
    SQL semantics: a missing stage makes the comparison NULL → not
    counted."""
    e = _t(spark, sf_dir, "events")
    stages = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "t_click"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_buy"
        ),
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.sum(
            F.when(F.col("t_click") > F.col("t_view"), 1).otherwise(0)
        ).alias("n_clicked_after_view"),
        F.sum(
            F.when(
                (F.col("t_buy") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            ).otherwise(0)
        ).alias("n_full_funnel"),
    )


# ---------------------------------------------------------------------------
# BPE merge statistics — adjacent-token-pair counts (the next-merge
# statistic of a BPE tokenizer trainer) over documents.
# ---------------------------------------------------------------------------


@register(
    "bpe_top_merges",
    r"""
    WITH t AS (
      SELECT list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), p AS (
      SELECT unnest([toks[i] || ' ' || toks[i+1]
                     for i in range(1, len(toks))]) AS pair
      FROM t
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM p GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
)
def q_bpe_top_merges(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    counts = X.merge_pair_counts(d, "text", lowercase=True)
    return counts.orderBy(F.desc("n"), F.asc("pair")).limit(20)


# ---------------------------------------------------------------------------
# Product quantization — deterministic seed codebooks, code histogram
# per subspace (the compression layout audit you run before shipping
# a PQ index).
# ---------------------------------------------------------------------------

_PQ_M, _PQ_K, _PQ_SUB = 4, 16, 16  # 64-dim embeddings -> 4 x 16-dim


@register(
    "pq_code_histogram",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, e
      FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {_PQ_K})
    ), sub AS (SELECT unnest(range(0, {_PQ_M})) AS subspace),
    cb AS (
      SELECT sub.subspace, seeds.code,
             seeds.e[(sub.subspace*{_PQ_SUB}+1):(sub.subspace*{_PQ_SUB}+{_PQ_SUB})]
               AS cb_slice
      FROM seeds, sub
    ), ex AS (
      SELECT v.vec_id, sub.subspace,
             v.e[(sub.subspace*{_PQ_SUB}+1):(sub.subspace*{_PQ_SUB}+{_PQ_SUB})]
               AS sub_vec
      FROM v, sub
    ), scored AS (
      SELECT ex.vec_id, ex.subspace, cb.code,
             list_reduce(
               [ (sub_vec[i]-cb_slice[i])*(sub_vec[i]-cb_slice[i])
                 for i in range(1, {_PQ_SUB}+1) ],
               (a,b) -> a + b) AS d
      FROM ex JOIN cb ON ex.subspace = cb.subspace
    ), codes AS (
      SELECT vec_id, subspace, code FROM (
        SELECT vec_id, subspace, code,
               row_number() OVER (PARTITION BY vec_id, subspace
                                  ORDER BY d, code) AS rn
        FROM scored) WHERE rn = 1
    )
    SELECT CAST(subspace AS INTEGER) AS subspace,
           CAST(code AS INTEGER) AS code,
           CAST(count(*) AS BIGINT) AS n
    FROM codes GROUP BY 1, 2
    """,
)
def q_pq_code_histogram(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    codes = S.pq_encode(emb, dim=64, m=_PQ_M, k=_PQ_K)
    return codes.groupBy("subspace", "code").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "pq_adc_topk",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, e
      FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {_PQ_K})
    ), sub AS (SELECT unnest(range(0, {_PQ_M})) AS subspace),
    cb AS (
      SELECT sub.subspace, seeds.code,
             seeds.e[(sub.subspace*{_PQ_SUB}+1):(sub.subspace*{_PQ_SUB}+{_PQ_SUB})]
               AS cb_slice
      FROM seeds, sub
    ), ex AS (
      SELECT v.vec_id, sub.subspace,
             v.e[(sub.subspace*{_PQ_SUB}+1):(sub.subspace*{_PQ_SUB}+{_PQ_SUB})]
               AS sub_vec
      FROM v, sub
    ), code_scored AS (
      SELECT ex.vec_id, ex.subspace, cb.code,
             list_reduce(
               [ (sub_vec[i]-cb_slice[i])*(sub_vec[i]-cb_slice[i])
                 for i in range(1, {_PQ_SUB}+1) ],
               (a,b) -> a + b) AS d
      FROM ex JOIN cb ON ex.subspace = cb.subspace
    ), codes AS (
      SELECT vec_id AS neighbor_id, subspace, code FROM (
        SELECT vec_id, subspace, code,
               row_number() OVER (PARTITION BY vec_id, subspace
                                  ORDER BY d, code) AS rn
        FROM code_scored) WHERE rn = 1
    ), lut AS (
      SELECT q.vec_id AS query_id, cb.subspace, cb.code,
             list_reduce(
               [ (q.e[(cb.subspace*{_PQ_SUB}+i)]-cb_slice[i])
                 * (q.e[(cb.subspace*{_PQ_SUB}+i)]-cb_slice[i])
                 for i in range(1, {_PQ_SUB}+1) ],
               (a,b) -> a + b) AS d
      FROM (SELECT vec_id, e FROM v WHERE vec_id < 5) q, cb
    ), totals AS (
      SELECT c.neighbor_id, l.query_id,
             list_reduce(list(l.d ORDER BY l.subspace), (a,b) -> a + b)
               AS adc_dist
      FROM codes c JOIN lut l
        ON c.subspace = l.subspace AND c.code = l.code
      WHERE l.query_id <> c.neighbor_id
      GROUP BY c.neighbor_id, l.query_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, adc_dist
    FROM (
      SELECT query_id, neighbor_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rank
      FROM totals)
    WHERE rank <= 5
    """,
)
def q_pq_adc_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    return S.pq_topk(emb, qs, dim=64, m=_PQ_M, k_codes=_PQ_K, k=5)


# ---------------------------------------------------------------------------
# Connected-components dedup, oracle-gated end to end: MinHash
# candidate pairs -> iterative min-label propagation -> quality-aware
# survivor per cluster. The DuckDB twin reproduces the components
# with a recursive-CTE transitive closure (min reachable id ==
# converged min-label), so the iterative Spark operator gets a full
# hash-match CORRECTNESS row, not just units.
# ---------------------------------------------------------------------------


_NEAR_DUP_SURVIVORS_SQL = (
    _minhash_bands_with(16, 4)
    + r"""
    , cand AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), edges AS MATERIALIZED (
      -- MATERIALIZED so each recursion step joins the stored edge
      -- table instead of re-running the whole minhash chain (the
      -- pack_greedy oracle hit exactly that inlining at the sf1
      -- probe: 6250 recursion steps x full re-tokenization)
      SELECT id_a AS src, id_b AS dst FROM cand
      UNION
      SELECT id_b AS src, id_a AS dst FROM cand
    ), reach AS (
      -- recursive transitive closure: label = any reachable id;
      -- min(label) per node == the converged min-label propagation
      SELECT src AS node, src AS label FROM edges
      UNION
      SELECT e.src AS node, r.label
      FROM edges e JOIN reach r ON e.dst = r.node
    ), comp AS (
      SELECT node AS doc_id, min(label) AS component
      FROM reach GROUP BY node
    ), toks AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ), ranked AS (
      SELECT c.component, c.doc_id, t.n_tokens,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY t.n_tokens DESC, c.doc_id) AS rn
      FROM comp c JOIN toks t USING (doc_id)
    )
    SELECT component,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
             AS survivor_doc_id,
           CAST(min(CASE WHEN rn = 1 THEN n_tokens END) AS BIGINT)
             AS survivor_tokens
    FROM ranked GROUP BY component
    """
).replace("WITH t AS", "WITH RECURSIVE t AS", 1)


@register("near_dup_cluster_survivors", _NEAR_DUP_SURVIVORS_SQL)
def q_near_dup_cluster_survivors(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(docs, num_hashes=16, bands=4)
    comps = D.connected_components(pairs)
    toks = docs.select(
        "doc_id", F.size(X.tokens("text")).alias("n_tokens")
    )
    members = comps.select(
        F.col("id").alias("doc_id"), "component"
    ).join(toks, "doc_id")
    best = F.min(
        F.struct(
            (-F.col("n_tokens")).alias("neg_tokens"),
            F.col("doc_id").alias("d"),
        )
    )
    return members.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        best.getField("d").alias("survivor_doc_id"),
        (-best.getField("neg_tokens")).cast("long").alias("survivor_tokens"),
    )


@register(
    "prototype_prune_half",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cents AS MATERIALIZED (
      SELECT CAST(vec_id AS BIGINT) AS centroid_id, e AS ce
      FROM v ORDER BY vec_id LIMIT 16
    ), nearest AS (
      SELECT vec_id, centroid_id, round(sim, 9) AS prototypicality
      FROM (
        SELECT v.vec_id, c.centroid_id,
               {_duck_cos('v.e', 'c.ce')} AS sim,
               row_number() OVER (
                 PARTITION BY v.vec_id ORDER BY sim DESC, c.centroid_id
               ) AS cr
        FROM v CROSS JOIN cents c
      ) WHERE cr = 1
    )
    SELECT vec_id, centroid_id, prototypicality,
           rn <= CAST(ceil(cnt * 0.5) AS BIGINT) AS kept
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY centroid_id
               ORDER BY prototypicality, vec_id) AS rn,
             count(*) OVER (PARTITION BY centroid_id) AS cnt
      FROM nearest)
    """,
)
def q_prototype_prune_half(spark, sf_dir):
    """Cluster-balanced prototypicality pruning (llm/similarity.py:
    prototype_prune; Sorscher et al. 2022): keep the hardest half of
    every cluster — every vector comes back with its score and kept
    flag, hash-matched per row."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.prototype_prune(emb, keep_fraction=0.5)


@register("near_dup_components_star", _NEAR_DUP_SURVIVORS_SQL)
def q_near_dup_components_star(spark, sf_dir):
    """Same survivors as near_dup_cluster_survivors but through the
    O(log n)-round large-star/small-star components
    (llm/dedup.py:connected_components_star, Kiveris et al. 2014) —
    sharing the recursive-CTE oracle proves the two algorithms label
    identically under the hash gate."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(docs, num_hashes=16, bands=4)
    comps = D.connected_components_star(pairs)
    toks = docs.select(
        "doc_id", F.size(X.tokens("text")).alias("n_tokens")
    )
    members = comps.select(
        F.col("id").alias("doc_id"), "component"
    ).join(toks, "doc_id")
    best = F.min(
        F.struct(
            (-F.col("n_tokens")).alias("neg_tokens"),
            F.col("doc_id").alias("d"),
        )
    )
    return members.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        best.getField("d").alias("survivor_doc_id"),
        (-best.getField("neg_tokens")).cast("long").alias("survivor_tokens"),
    )


# ---------------------------------------------------------------------------
# Shard planning — the audit you run before writing a sharded
# training corpus: docs and token mass per hash-assigned shard.
# ---------------------------------------------------------------------------


@register(
    "shard_assignment_stats",
    rf"""
    WITH s AS (
      SELECT CAST({_DUCK_H64.format(col="CAST(doc_id AS VARCHAR)")} % 16
                  AS INTEGER) AS shard,
             len(list_filter(string_split_regex(text, '\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM s GROUP BY shard
    """,
)
def q_shard_assignment_stats(spark, sf_dir):
    from pos_api_pipeline_spark.llm.sampling import assign_shards

    docs = _t(spark, sf_dir, "documents")
    sharded = assign_shards(docs, n_shards=16)
    return sharded.select(
        "shard", F.size(X.tokens("text")).alias("n_tokens")
    ).groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# Corpus-level line dedup (boilerplate removal) — documents are seeded
# with deterministic multi-line wrappers (unique intro line, the
# original text, a mod-7 share-bar, a global copyright footer) so the
# corpus has real boilerplate to strip; the oracle replays the DF
# count and filter with DuckDB list functions (brute-force scalar
# heavy-list, where the Spark side uses a distributed equi-join).
# ---------------------------------------------------------------------------

_LINE_DEDUP_MAX_DF = 10


@register(
    "line_dedup_docs",
    f"""
    WITH seeded AS (
      SELECT doc_id,
             'INTRO ' || CAST(doc_id AS VARCHAR) || chr(10) ||
             text || chr(10) ||
             'SHARE THIS ARTICLE ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) ||
             'COPYRIGHT 2026 EXAMPLE.COM' AS t
      FROM documents
    ), dl AS (
      SELECT doc_id,
             list_transform(string_split(t, chr(10)), x -> trim(x)) AS ls
      FROM seeded
    ), ldf AS (
      SELECT line, count(DISTINCT doc_id) AS df FROM (
        SELECT doc_id, unnest(ls) AS line FROM dl
      ) GROUP BY line
    ), heavy AS (
      SELECT coalesce(list(line), []) AS hl
      FROM ldf WHERE df >= {_LINE_DEDUP_MAX_DF}
    )
    SELECT d.doc_id,
           array_to_string(
             list_filter(d.ls, x -> NOT list_contains(h.hl, x)), chr(10)
           ) AS cleaned,
           CAST(len(d.ls) AS INTEGER) AS n_lines,
           CAST(len(d.ls) -
                len(list_filter(d.ls, x -> NOT list_contains(h.hl, x)))
                AS INTEGER) AS n_removed
    FROM dl d CROSS JOIN heavy h
    """,
)
def q_line_dedup_docs(spark, sf_dir):
    """Corpus-level line dedup (llm/curation.py:
    remove_boilerplate_lines): strip every line whose document
    frequency reaches the threshold, preserving surviving line
    order. The mod-7 share-bar and the global footer are heavy at
    sf0.01 (df ~71 and 500 >= 10); intro and text lines survive."""
    from pos_api_pipeline_spark.llm import curation as C

    docs = _t(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.lit("INTRO "), F.col("doc_id").cast("string"), F.lit("\n"),
            F.col("text"), F.lit("\n"),
            F.lit("SHARE THIS ARTICLE "),
            (F.col("doc_id") % 7).cast("string"), F.lit("\n"),
            F.lit("COPYRIGHT 2026 EXAMPLE.COM"),
        ).alias("text"),
    )
    return C.remove_boilerplate_lines(seeded, max_df=_LINE_DEDUP_MAX_DF)


# ---------------------------------------------------------------------------
# Mojibake repair — the oracle's nested replace() chain is GENERATED
# from the same MOJIBAKE_REPAIRS table the operator applies, so the
# two engines can never drift on the repair set or its order.
# ---------------------------------------------------------------------------

_MOJI_SUFFIX = (
    " Ã©tÃ© naÃ¯ve Ã±andÃº Ã¼ber Ã§a voilÃ¡ Ã³ Ã¨re Ã¶l"
    " â€œquoteâ€™ â€˜tick â€“ en â€” em â€¦ Â«gÂ» 20Â° xÂ y Ã¸kay"
)


def _mojibake_sql() -> str:
    from pos_api_pipeline_spark.llm.curation import MOJIBAKE_REPAIRS

    expr = "t"
    for bad, good in MOJIBAKE_REPAIRS:
        b, g = bad.replace("'", "''"), good.replace("'", "''")
        expr = f"replace({expr}, '{b}', '{g}')"
    return f"""
    WITH seeded AS (
      SELECT doc_id, text || ' {_MOJI_SUFFIX}' AS t FROM documents
    )
    SELECT doc_id,
           CAST(length(t) AS INTEGER) AS n_chars_raw,
           {expr} AS fixed,
           CAST(length({expr}) AS INTEGER) AS n_chars_fixed
    FROM seeded
    """


@register("mojibake_repair", _mojibake_sql())
def q_mojibake_repair(spark, sf_dir):
    """Double-encoding repair (llm/curation.py:fix_mojibake) over
    documents seeded with the classic UTF-8-as-cp1252 artifacts
    (plus one untouched non-table char, Ã¸, proving the chain only
    rewrites what it claims)."""
    from pos_api_pipeline_spark.llm import curation as C

    docs = _t(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" " + _MOJI_SUFFIX)).alias("text"),
    )
    out = C.fix_mojibake(seeded)
    return out.select(
        "doc_id",
        F.col("n_chars_raw").cast("int").alias("n_chars_raw"),
        "fixed",
        F.col("n_chars_fixed").cast("int").alias("n_chars_fixed"),
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup — deterministic 16-cell clustering,
# within-cluster cosine pairs, greedy lowest-id survivors. The oracle
# replays assignment and pairing with brute-force SQL joins; the
# Spark side never shuffles vectors except the one groupBy on the
# cluster id (bucket-pair form).
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU, _SEMDEDUP_CELLS = 0.3, 16


@register(
    "semantic_dedup_survivors",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cents AS MATERIALIZED (
      SELECT CAST(vec_id AS BIGINT) AS centroid_id, e AS ce
      FROM v ORDER BY vec_id LIMIT {_SEMDEDUP_CELLS}
    ), assigned AS (
      SELECT id, vec, centroid_id FROM (
        SELECT id, vec, centroid_id,
               row_number() OVER (
                 PARTITION BY id ORDER BY sim DESC, centroid_id
               ) AS cr
        FROM (SELECT v.vec_id AS id, v.e AS vec, c.centroid_id,
                     {_duck_cos('v.e', 'c.ce')} AS sim
              FROM v CROSS JOIN cents c)
      ) WHERE cr <= 1
    ), pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             {_duck_cos('a.vec', 'b.vec')} AS cos
      FROM assigned a JOIN assigned b
        ON a.centroid_id = b.centroid_id AND a.id < b.id
    ), dropped AS (
      SELECT DISTINCT id_b FROM pairs WHERE cos >= {_SEMDEDUP_TAU}
    )
    SELECT a.id AS vec_id,
           CAST(a.centroid_id AS BIGINT) AS centroid_id,
           (d.id_b IS NULL) AS kept
    FROM assigned a LEFT JOIN dropped d ON a.id = d.id_b
    """,
)
def q_semantic_dedup_survivors(spark, sf_dir):
    """Semantic dedup (llm/similarity.py:semantic_dedup): one row per
    vector with its cluster and survivor flag. Threshold 0.3 for the
    same reason as embedding_near_dups — the synthetic embeddings'
    pairwise cosine tops out ~0.44, so a production-style 0.95 would
    make the check vacuous."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.semantic_dedup(
        emb, dim=64, threshold=_SEMDEDUP_TAU, n_centroids=_SEMDEDUP_CELLS
    )


# ---------------------------------------------------------------------------
# IVFADC — IVF routing composed with PQ asymmetric distance. The
# oracle stitches the green ivf_ann assigned/probed CTEs onto the
# green pq_adc code/LUT CTEs, restricting totals to probed cells.
# ---------------------------------------------------------------------------


def _ivf_pq_sql(
    k: int = 5, n_centroids: int = 16, n_probe: int = 4, query_max: int = 5
) -> str:
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cents AS MATERIALIZED (
      SELECT CAST(vec_id AS BIGINT) AS centroid_id, e AS ce
      FROM v ORDER BY vec_id LIMIT {n_centroids}
    ), assigned AS (
      SELECT neighbor_id, centroid_id FROM (
        SELECT neighbor_id, centroid_id,
               row_number() OVER (
                 PARTITION BY neighbor_id ORDER BY sim DESC, centroid_id
               ) AS cr
        FROM (SELECT v.vec_id AS neighbor_id, c.centroid_id,
                     {_duck_cos('v.e', 'c.ce')} AS sim
              FROM v CROSS JOIN cents c)
      ) WHERE cr <= 1
    ), probed AS (
      SELECT query_id, centroid_id FROM (
        SELECT query_id, centroid_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY sim DESC, centroid_id
               ) AS cr
        FROM (SELECT v.vec_id AS query_id, c.centroid_id,
                     {_duck_cos('v.e', 'c.ce')} AS sim
              FROM v CROSS JOIN cents c WHERE v.vec_id < {query_max})
      ) WHERE cr <= {n_probe}
    ), seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, e
      FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {_PQ_K})
    ), sub AS (SELECT unnest(range(0, {_PQ_M})) AS subspace),
    cb AS (
      SELECT sub.subspace, seeds.code,
             seeds.e[(sub.subspace*{_PQ_SUB}+1):(sub.subspace*{_PQ_SUB}+{_PQ_SUB})]
               AS cb_slice
      FROM seeds, sub
    ), ex AS (
      SELECT v.vec_id, sub.subspace,
             v.e[(sub.subspace*{_PQ_SUB}+1):(sub.subspace*{_PQ_SUB}+{_PQ_SUB})]
               AS sub_vec
      FROM v, sub
    ), code_scored AS (
      SELECT ex.vec_id, ex.subspace, cb.code,
             list_reduce(
               [ (sub_vec[i]-cb_slice[i])*(sub_vec[i]-cb_slice[i])
                 for i in range(1, {_PQ_SUB}+1) ],
               (a,b) -> a + b) AS d
      FROM ex JOIN cb ON ex.subspace = cb.subspace
    ), codes AS (
      SELECT vec_id AS neighbor_id, subspace, code FROM (
        SELECT vec_id, subspace, code,
               row_number() OVER (PARTITION BY vec_id, subspace
                                  ORDER BY d, code) AS rn
        FROM code_scored) WHERE rn = 1
    ), lut AS (
      SELECT q.vec_id AS query_id, cb.subspace, cb.code,
             list_reduce(
               [ (q.e[(cb.subspace*{_PQ_SUB}+i)]-cb_slice[i])
                 * (q.e[(cb.subspace*{_PQ_SUB}+i)]-cb_slice[i])
                 for i in range(1, {_PQ_SUB}+1) ],
               (a,b) -> a + b) AS d
      FROM (SELECT vec_id, e FROM v WHERE vec_id < {query_max}) q, cb
    ), totals AS (
      SELECT c.neighbor_id, l.query_id,
             list_reduce(list(l.d ORDER BY l.subspace), (a,b) -> a + b)
               AS adc_dist
      FROM codes c
      JOIN assigned a ON a.neighbor_id = c.neighbor_id
      JOIN probed p ON p.centroid_id = a.centroid_id
      JOIN lut l ON c.subspace = l.subspace AND c.code = l.code
                AND l.query_id = p.query_id
      WHERE l.query_id <> c.neighbor_id
      GROUP BY c.neighbor_id, l.query_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, adc_dist
    FROM (
      SELECT query_id, neighbor_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rank
      FROM totals)
    WHERE rank <= {k}
    """


# ivf_pq_recall_at_k is registered (with oracle None) ~1800 lines up,
# before _ivf_pq_sql exists; attach its oracle twin now that the
# builder is defined. Same k/query_max as the Spark side.
_REGISTRY["ivf_pq_recall_at_k"] = (
    _REGISTRY["ivf_pq_recall_at_k"][0],
    _recall_sql(
        _ivf_pq_sql(k=10, n_centroids=16, n_probe=4, query_max=20),
        k=10,
        query_max=20,
    ),
)


@register("ivf_pq_adc_topk", _ivf_pq_sql(k=5, n_centroids=16, n_probe=4))
def q_ivf_pq_adc_topk(spark, sf_dir):
    """IVFADC (llm/similarity.py:ivf_pq_topk): PQ asymmetric distance
    restricted to each query's 4 probed IVF cells."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    return S.ivf_pq_topk(
        emb, qs, dim=64, m=_PQ_M, k_codes=_PQ_K,
        n_centroids=16, n_probe=4, k=5,
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training — iterative merge learning (llm/bpe.py). No
# SQL oracle: each round's merge pair depends on the previous round's
# vocabulary state (data-dependent control flow, the same exemption
# class as ivf_recall_at_k); round-1 pair statistics ARE oracle-gated
# via bpe_top_merges, and the canonical merge semantics are locked by
# units against a hand-rolled reference implementation.
# ---------------------------------------------------------------------------


@register("bpe_learned_merges", None)
def q_bpe_learned_merges(spark, sf_dir):
    """First 6 learned BPE merges over documents, as (rank, left,
    right, merged, total) — the fitted-model table a tokenizer
    trainer ships. Trained via the EXACT batched refresh
    (llm/bpe.py:bpe_train_batched), hash-checked against the SQL
    sequential-training replay — proving batch == sequential on the
    real corpus, not just units."""
    from pos_api_pipeline_spark.llm.bpe import bpe_train_batched

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train_batched(docs, n_merges=6)
    rows = [
        (i + 1, l, r, l + r, t) for i, (l, r, t) in enumerate(merges)
    ]
    return local_frame(spark, rows, T.StructType([
        T.StructField("rank", T.IntegerType()),
        T.StructField("left", T.StringType()),
        T.StructField("right", T.StringType()),
        T.StructField("merged", T.StringType()),
        T.StructField("total", T.LongType()),
    ]))


# ---------------------------------------------------------------------------
# Hashed-feature linear classifier — model-based quality scoring with
# integer-exact accumulation (weights stay bigint milliweights until
# one final double division, so no float addition-order drift). The
# oracle replays token hashing, bucketing, and the stand-in weight
# formula with the portable md5 hash.
# ---------------------------------------------------------------------------

_HLS_BUCKETS = 1024


@register(
    "hashed_quality_scores",
    rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), ex AS (
      SELECT doc_id,
             ({_DUCK_H64.format(col="tok")} % {_HLS_BUCKETS}) AS bucket
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
    ), scored AS (
      SELECT doc_id,
             count(*) AS n_tokens,
             sum(({_DUCK_H64.format(col="'w:' || CAST(bucket AS VARCHAR)")}
                  % 2001) - 1000) AS sum_w
      FROM ex GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           CASE WHEN s.n_tokens > 0
                THEN CAST(s.sum_w AS DOUBLE) / (1000.0 * s.n_tokens)
                ELSE 0.0 END AS score,
           (CASE WHEN s.n_tokens > 0
                 THEN CAST(s.sum_w AS DOUBLE) / (1000.0 * s.n_tokens)
                 ELSE 0.0 END > 0.0) AS keep
    FROM t LEFT JOIN scored s USING (doc_id)
    """,
)
def q_hashed_quality_scores(spark, sf_dir):
    """Hashed linear classifier (llm/text.py:hashed_linear_scores)
    with the deterministic stand-in weight table."""
    docs = _t(spark, sf_dir, "documents")
    return X.hashed_linear_scores(docs, n_buckets=_HLS_BUCKETS)


# ---------------------------------------------------------------------------
# Native session_window twin — the built-in Structured Streaming
# session operator run in batch mode, oracle-gated against a
# gaps-and-islands replay. Boundary semantics (verified by unit): an
# event at exactly last+gap still MERGES — new session only when the
# gap strictly exceeds the duration, same > convention as
# user_sessions' lag form.
# ---------------------------------------------------------------------------


@register(
    "native_session_windows",
    """
    WITH g AS (
      -- event_id tiebreaker in BOTH window passes: Spark's native
      -- session_window is tie-independent, but lag + running sum
      -- here are separate window evaluations whose duplicate-ts
      -- enumeration can differ and mint a phantom session (caught
      -- by the sf1 probe, same class as user_sessions)
      SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id)
               AS prev_us
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts, value, us,
             CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM g
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           (CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS total_value
    FROM sessions GROUP BY user_id, session_id
    """,
)
def q_native_session_windows(spark, sf_dir):
    """F.session_window in batch mode (streaming/events.py's session
    operator family): per-user 30-minute-gap sessions with window
    bounds straight from the native operator — start = first event,
    end = last event + gap."""
    e = _t(spark, sf_dir, "events")
    out = e.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        _sum_dec("value", "total_value"),
    )
    return out.select(
        "user_id",
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
        "total_value",
    )


# ---------------------------------------------------------------------------
# Token-budget data selection — "top X tokens of the corpus by
# quality" without a global sort: score-bin aggregation + driver
# prefix scan + running-total window over ONLY the boundary bin. The
# oracle is the brute-force global running-total window; the two are
# provably identical (fixed-width bins are order-homomorphic).
# ---------------------------------------------------------------------------

_TOKEN_BUDGET = 8000


@register(
    "token_budget_selection",
    rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), ex AS (
      SELECT doc_id,
             ({_DUCK_H64.format(col="tok")} % 1024) AS bucket
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
    ), sums AS (
      SELECT doc_id,
             count(*) AS n_tokens,
             sum(({_DUCK_H64.format(col="'w:' || CAST(bucket AS VARCHAR)")}
                  % 2001) - 1000) AS sum_w
      FROM ex GROUP BY doc_id
    ), scored AS (
      SELECT t.doc_id,
             CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
             CASE WHEN s.n_tokens > 0
                  THEN CAST(s.sum_w AS DOUBLE) / (1000.0 * s.n_tokens)
                  ELSE 0.0 END AS score
      FROM t LEFT JOIN sums s USING (doc_id)
    ), sel AS (
      SELECT doc_id, n_tokens, score,
             sum(n_tokens) OVER (
               ORDER BY score DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM scored
    )
    SELECT doc_id, n_tokens, score FROM sel WHERE cum <= {_TOKEN_BUDGET}
    """,
)
def q_token_budget_selection(spark, sf_dir):
    """Budgeted selection (llm/sampling.py:select_by_token_budget)
    ranked by the hashed linear classifier score: keep the best docs
    while the running token total fits the budget."""
    from pos_api_pipeline_spark.llm.sampling import select_by_token_budget

    docs = _t(spark, sf_dir, "documents")
    scored = X.hashed_linear_scores(docs, n_buckets=_HLS_BUCKETS).select(
        "doc_id", "n_tokens", "score"
    )
    return select_by_token_budget(
        scored, _TOKEN_BUDGET, score_col="score", token_col="n_tokens"
    )


# ---------------------------------------------------------------------------
# Document chunking — fixed token windows with overlap (the RAG /
# context-bounded-example splitter). Map-only in Spark; the oracle
# replays the window arithmetic with DuckDB list slices.
# ---------------------------------------------------------------------------

_CHUNK_TOKENS, _CHUNK_OVERLAP = 32, 8
_CHUNK_STRIDE = _CHUNK_TOKENS - _CHUNK_OVERLAP


@register(
    "chunked_documents",
    rf"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), sized AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) > 0
                  THEN greatest(1, CAST(ceil(
                         (len(toks) - {_CHUNK_OVERLAP})
                         / CAST({_CHUNK_STRIDE} AS DOUBLE)) AS INTEGER))
                  ELSE 0 END AS nc
      FROM t
    ), ex AS (
      SELECT doc_id, toks, unnest(range(0, nc)) AS cid FROM sized
    )
    SELECT doc_id,
           CAST(cid AS INTEGER) AS chunk_id,
           array_to_string(
             toks[(cid*{_CHUNK_STRIDE}+1):(cid*{_CHUNK_STRIDE}+{_CHUNK_TOKENS})],
             ' ') AS chunk_text,
           CAST(len(
             toks[(cid*{_CHUNK_STRIDE}+1):(cid*{_CHUNK_STRIDE}+{_CHUNK_TOKENS})]
           ) AS BIGINT) AS n_chunk_tokens,
           CAST(cid*{_CHUNK_STRIDE} AS BIGINT) AS start_token
    FROM ex
    """,
)
def q_chunked_documents(spark, sf_dir):
    """Overlapping token-window chunking (llm/packing.py:
    chunk_documents): 32-token chunks, 8 tokens of carried context."""
    from pos_api_pipeline_spark.llm.packing import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(
        docs, chunk_tokens=_CHUNK_TOKENS, overlap=_CHUNK_OVERLAP
    )


# ---------------------------------------------------------------------------
# L2 normalization — exploded to (vec_id, dim, component) scalars
# because the compare harness hashes scalars, not arrays; sqrt and
# divide are correctly-rounded IEEE ops over the same fold, so every
# component hash-matches across engines.
# ---------------------------------------------------------------------------


@register(
    "normalized_embeddings",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    n AS (
      SELECT vec_id, e, sqrt(list_sum([x*x for x in e])) AS nrm FROM v
    )
    SELECT n.vec_id,
           CAST(t.i - 1 AS INTEGER) AS dim,
           CASE WHEN n.nrm > 0.0 THEN n.e[CAST(t.i AS INTEGER)] / n.nrm
                ELSE n.e[CAST(t.i AS INTEGER)] END AS comp,
           n.nrm AS norm
    FROM n, range(1, 65) t(i)
    """,
)
def q_normalized_embeddings(spark, sf_dir):
    """Unit normalization (llm/similarity.py:l2_normalize) over the
    embeddings table, exploded to per-component scalar rows."""
    emb = _t(spark, sf_dir, "embeddings")
    out = S.l2_normalize(emb)
    return out.select(
        "vec_id", F.posexplode("normalized").alias("dim", "comp"), "norm"
    )


@register(
    "bigram_logprob_scores",
    rf"""
    WITH t AS ({_DUCK_BIGRAMS}),
    gram_rows AS (SELECT doc_id, unnest(gs) AS g FROM t),
    tf AS (
      SELECT doc_id, g, count(*) AS tf FROM gram_rows GROUP BY 1, 2
    ), cg AS (
      SELECT g, sum(tf) AS cg FROM tf GROUP BY 1
    ), ctx AS (
      SELECT string_split(g, ' ')[1] AS w1, sum(cg) AS c1
      FROM cg GROUP BY 1
    ), lp AS (
      SELECT g, CAST(round(ln(cg / c1), 6) AS DECIMAL(28,6)) AS lp
      FROM cg JOIN ctx ON string_split(cg.g, ' ')[1] = ctx.w1
    ), agg AS (
      SELECT tf.doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
             sum(tf * lp) AS slp
      FROM tf JOIN lp USING (g) GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(a.n_bigrams, 0) AS n_bigrams,
           CASE WHEN a.n_bigrams > 0
                THEN CAST(a.slp AS DOUBLE) / a.n_bigrams END AS mean_logprob
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def q_bigram_logprob_scores(spark, sf_dir):
    """Self-scored bigram LM quality filter (llm/text.py:
    bigram_logprob) — the Markov-order-2 perplexity proxy. Same
    6-dp-rounded decimal accumulation as the unigram twin, so DuckDB
    reproduces the per-doc means bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    return X.bigram_logprob(docs)


@register(
    "shared_shingle_stats",
    rf"""
    WITH t AS ({_DUCK_SHINGLES3}),
    ex AS (
      SELECT doc_id, {_DUCK_H64.format(col='shingle')} AS h
      FROM (SELECT doc_id, unnest(sh) AS shingle FROM t)
    ), docfreq AS (
      SELECT h, count(*) AS df FROM ex GROUP BY 1
    ), per_doc AS (
      SELECT ex.doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared
      FROM ex JOIN docfreq d USING (h) GROUP BY 1
    )
    SELECT doc.doc_id,
           coalesce(p.n_shingles, 0) AS n_shingles,
           coalesce(p.n_shared, 0) AS n_shared,
           CASE WHEN p.n_shingles > 0
                THEN CAST(p.n_shared AS DOUBLE) / p.n_shingles
           END AS shared_fraction
    FROM documents doc LEFT JOIN per_doc p USING (doc_id)
    """,
)
def q_shared_shingle_stats(spark, sf_dir):
    """Corpus shingle-overlap fraction per document
    (llm/curation.py:shared_shingle_stats) — boilerplate/template
    triage at the shingle grain. The md5-prefix portable hash is the
    same on both engines, so document frequencies and fractions match
    exactly."""
    from pos_api_pipeline_spark.llm.curation import shared_shingle_stats

    docs = _t(spark, sf_dir, "documents")
    return shared_shingle_stats(docs)


_DUCK_GOPHER = r"""
    WITH sig AS (
      SELECT *,
             {toks} AS toks,
             list_filter(string_split(text, chr(10)),
                         l -> trim(l) <> '') AS lines
      FROM documents
    ), m AS (
      SELECT doc_id, text, lang, source, n_chars,
             len(toks) AS n_words,
             list_sum(list_transform(toks, t -> len(t))) AS sum_wl,
             len(text) - len(replace(text, '#', '')) AS n_hash,
             (len(text) - len(replace(text, '...', ''))) / 3 AS n_ell3,
             len(text) - len(replace(text, '…', '')) AS n_ell1,
             len(lines) AS n_lines,
             len(list_filter(lines,
                 l -> substring(ltrim(l), 1, 1) IN ('-', '*', '•')))
               AS n_bullet,
             len(list_filter(lines,
                 l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
               AS n_ell_lines,
             len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
               AS n_alpha,
             len(list_filter(['the','be','to','of','and','that','have','with'],
                 s -> list_contains(list_transform(toks, t -> lower(t)), s)))
               AS stop_hits
      FROM sig
    )
    SELECT doc_id, text, lang, source, n_chars,
           CAST(n_words AS BIGINT) AS n_words,
           CASE WHEN n_words > 0
                THEN CAST(coalesce(sum_wl, 0) AS DOUBLE) / n_words
           END AS mean_word_len,
           CASE WHEN n_words > 0
                THEN CAST(n_hash + n_ell3 + n_ell1 AS DOUBLE) / n_words
           END AS symbol_word_ratio,
           CASE WHEN n_lines > 0
                THEN CAST(n_bullet AS DOUBLE) / n_lines
           END AS bullet_line_ratio,
           CASE WHEN n_lines > 0
                THEN CAST(n_ell_lines AS DOUBLE) / n_lines
           END AS ellipsis_line_ratio,
           CASE WHEN n_words > 0
                THEN CAST(n_alpha AS DOUBLE) / n_words
           END AS alpha_word_ratio,
           CAST(stop_hits AS BIGINT) AS stop_hits,
           coalesce(
             n_words BETWEEN 10 AND 100000
             AND (CAST(coalesce(sum_wl, 0) AS DOUBLE) / n_words)
                   BETWEEN 3.0 AND 10.0
             AND CAST(n_hash + n_ell3 + n_ell1 AS DOUBLE) / n_words <= 0.1
             AND coalesce(CAST(n_bullet AS DOUBLE)
                          / nullif(n_lines, 0), 0.0) <= 0.9
             AND coalesce(CAST(n_ell_lines AS DOUBLE)
                          / nullif(n_lines, 0), 0.0) <= 0.3
             AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8
             AND stop_hits >= 2, FALSE) AS keep
    FROM m
"""


@register(
    "gopher_rule_flags",
    _DUCK_GOPHER.format(toks=_DUCK_TOKS.format(col="text")),
)
def q_gopher_rule_flags(spark, sf_dir):
    """Gopher rule filters (llm/text.py:gopher_quality_flags) — every
    ratio is integer counting + one exact division, so DuckDB matches
    bit-for-bit including the composite keep flag."""
    docs = _t(spark, sf_dir, "documents")
    return X.gopher_quality_flags(docs, min_words=10)


@register(
    "char_entropy",
    r"""
    WITH ex AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
    ), cnt AS (
      SELECT doc_id, ch, count(*) AS c FROM ex
      WHERE ch <> '' GROUP BY 1, 2
    ), tot AS (
      SELECT doc_id, sum(c) AS n FROM cnt GROUP BY 1
    ), agg AS (
      SELECT cnt.doc_id, any_value(n) AS n,
             sum(c * CAST(round(ln(c / n), 6) AS DECIMAL(28,6))) AS sclp
      FROM cnt JOIN tot USING (doc_id) GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_chars_counted,
           CASE WHEN a.n > 0 THEN -CAST(a.sclp AS DOUBLE) / a.n END AS entropy
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def q_char_entropy(spark, sf_dir):
    """Character-distribution Shannon entropy (llm/text.py:
    char_entropy) — compressibility proxy; decimal-accumulated ln so
    the oracle reproduces it exactly."""
    docs = _t(spark, sf_dir, "documents")
    return X.char_entropy(docs)


@register(
    "script_char_ratios",
    r"""
    SELECT doc_id, text, lang, source, n_chars,
           CAST(len(text) AS BIGINT) AS n_chars_total,
           {cols}
    FROM documents
    """.format(
        cols=",\n           ".join(
            f"CAST(len(regexp_extract_all(text, '{dre}')) AS BIGINT)"
            f" AS n_{name},\n           "
            f"CASE WHEN len(text) > 0 THEN"
            f" CAST(len(regexp_extract_all(text, '{dre}')) AS DOUBLE)"
            f" / len(text) END AS {name}_ratio"
            for name, _, dre in [
                ("latin", None, r"\p{Latin}"),
                ("cyrillic", None, r"\p{Cyrillic}"),
                ("han", None, r"\p{Han}"),
                ("arabic", None, r"\p{Arabic}"),
                ("digit", None, "[0-9]"),
                ("space", None, r"\s"),
            ]
        )
    ),
)
def q_script_char_ratios(spark, sf_dir):
    """Unicode-script composition (llm/text.py:script_ratios) — the
    char-grain language signal next to the lexicon language_id."""
    docs = _t(spark, sf_dir, "documents")
    return X.script_ratios(docs)


@register(
    "compression_ratio",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)::BLOB) AS BIGINT) AS n_bytes,
           true AS deflate_ok
    FROM documents
    """,
)
def q_compression_ratio(spark, sf_dir):
    """DEFLATE compressibility signal (llm/text.py:compression_ratio)
    — the deliberate Arrow/pandas_udf path. zlib itself is not
    SQL-expressible, so the hash oracle is the seed-pinned INVARIANT
    form (VERDICT r7 #4): per-doc byte counts are checked exactly and
    ``deflate_ok`` asserts the zlib output obeys DEFLATE's hard
    bounds — ≥ 8 bytes (2-byte header + 4-byte adler32 + minimal
    stream) and ≤ n + 5·ceil(n/16383) + 11 (stored-block worst case)
    — plus the ratio algebra. Exact compressed lengths stay pinned
    against zlib in tests/test_text.py."""
    docs = _t(spark, sf_dir, "documents")
    c = X.compression_ratio(docs)
    n = F.col("n_bytes")
    upper = n + F.lit(5) * F.ceil(n / F.lit(16383)) + F.lit(11)
    ok = (
        F.col("n_compressed").between(F.lit(8), upper)
        & (
            (n == 0)
            | (
                F.abs(
                    F.col("ratio")
                    - n.cast("double") / F.col("n_compressed")
                )
                < 1e-12
            )
        )
    )
    return c.select(
        "doc_id",
        "n_bytes",
        F.when(n.isNull(), F.col("n_compressed").isNull())
        .otherwise(F.coalesce(ok, F.lit(False)))
        .alias("deflate_ok"),
    )


def _bpe_replay_sql(n_merges: int) -> str:
    """DuckDB twin of bpe_train + bpe_encode_corpus: replays every
    training round (pair counts → top-1 with the (count desc, left,
    right) tiebreak → greedy merge via leftmost non-overlapping
    replace on the separator-joined symbol string) and then encodes
    each document with the learned scalars. String ``replace`` is the
    canonical scan-with-skip in both engines, which is what makes a
    TRAINED tokenizer's output hash-checkable at all."""
    toks = _DUCK_TOKS.format(col="t")
    rounds = []
    for r in range(n_merges):
        rounds.append(f"""
    e{r} AS (
      SELECT n, unnest([struct_pack(a := l[i], b := l[i+1])
                        for i in range(1, len(l))]) AS p
      FROM (SELECT n, list_filter(string_split(s, chr(31)),
                                  x -> x <> '') AS l FROM v{r})
    ), m{r} AS (
      SELECT p.a AS lft, p.b AS rgt, sum(n) AS total FROM e{r}
      GROUP BY 1, 2 ORDER BY total DESC, lft, rgt LIMIT 1
    ), v{r + 1} AS (
      SELECT word, n,
             replace(s, chr(31) || lft || chr(31) || chr(31) || rgt || chr(31),
                     chr(31) || lft || rgt || chr(31)) AS s
      FROM v{r} CROSS JOIN m{r}
    )""")
    enc_expr = "b"
    for r in range(n_merges):
        enc_expr = (
            f"replace({enc_expr},"
            f" chr(31) || m{r}.lft || chr(31) || chr(31) || m{r}.rgt || chr(31),"
            f" chr(31) || m{r}.lft || m{r}.rgt || chr(31))"
        )
    joins = " ".join(f"CROSS JOIN m{r}" for r in range(n_merges))
    return f"""
    WITH d0 AS (
      SELECT doc_id, replace(replace(lower(text), chr(31), ''),
                             chr(30), '') AS t
      FROM documents
    ), dt AS (
      SELECT doc_id, {toks} AS toks FROM d0
    ), v0 AS (
      SELECT word, count(*) AS n,
             array_to_string([chr(31) || c || chr(31)
                              for c in string_split(word, '')
                              if c <> ''], '') AS s
      FROM (SELECT unnest(toks) AS word FROM dt) GROUP BY 1
    ),{",".join(rounds)}
    , base AS (
      SELECT doc_id, toks,
             array_to_string(
               list_transform(toks, w -> array_to_string(
                 [chr(31) || c || chr(31)
                  for c in string_split(w, '') if c <> ''], '')),
               chr(30)) AS b
      FROM dt
    ), enc AS (
      SELECT doc_id, toks, {enc_expr} AS e FROM base {joins}
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(len(list_filter(string_split_regex(e,
                  '[' || chr(30) || chr(31) || ']'), x -> x <> ''))
             AS BIGINT) AS n_tokens,
           array_to_string(list_filter(string_split_regex(e,
                  '[' || chr(30) || chr(31) || ']'), x -> x <> ''), ' ')
             AS tokens_str
    FROM enc
    """


def _bpe_merges_sql(n_merges: int) -> str:
    """DuckDB twin of the LEARNED MERGE TABLE itself: the same
    training replay, with each round's winning (pair, count) emitted
    as one ranked row — upgrades bpe_learned_merges from rows-only to
    a full hash check of the fitted model."""
    chain = _bpe_replay_sql(n_merges)
    with_chain = chain.split(", base AS (")[0]
    arms = "\n      UNION ALL\n".join(
        f"      SELECT {r + 1} AS rank, lft AS \"left\", rgt AS \"right\","
        f" lft || rgt AS merged, CAST(total AS BIGINT) AS total FROM m{r}"
        for r in range(n_merges)
    )
    return f"""{with_chain}
{arms}
    """


# Upgrade the earlier rows-only registration now that the replay
# builder exists (file executes top-down): the learned merge table is
# hash-checked against the SQL training replay.
from pos_api_pipeline_spark.plans.registry import _REGISTRY

_REGISTRY["bpe_learned_merges"] = (
    _REGISTRY["bpe_learned_merges"][0],
    _bpe_merges_sql(6),
)


@register("bpe_corpus_encoding", _bpe_replay_sql(6))
def q_bpe_corpus_encoding(spark, sf_dir):
    """Train a 6-merge BPE tokenizer on the corpus (llm/bpe.py:
    bpe_train — iterative driver loop, like the FPGrowth fit), then
    encode every document with the replace-chain fast path
    (bpe_encode_corpus). The oracle replays the training rounds in
    SQL, so merge selection, tiebreaks, AND the greedy encode are all
    hash-checked end to end."""
    from pos_api_pipeline_spark.llm.bpe import (
        bpe_encode_corpus,
        bpe_train_batched,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train_batched(docs, n_merges=6)
    enc = bpe_encode_corpus(docs, merges)
    return enc.select(
        "doc_id",
        "n_words",
        "n_tokens",
        F.array_join("bpe_tokens", " ").alias("tokens_str"),
    )


@register(
    "ivf_trained_recall_at_k",
    """
    SELECT CAST(10 * count(*) AS BIGINT) AS n_truth_pairs,
           true AS recall_floor_met
    FROM embeddings WHERE vec_id < 20
    """,
)
def q_ivf_trained_recall_at_k(spark, sf_dir):
    """Recall@10 of IVF routing with KMEANS-TRAINED centroids
    (llm/similarity.py:kmeans_centroids, fixed seed=42) against exact
    brute-force truth. The fit is iterative driver-side model state —
    no SQL twin can replay it — so the hash oracle is the seed-pinned
    INVARIANT form (VERDICT r7 #4): the exact-truth pair count is
    checked exactly (10 per query vector, SQL-computable), and
    ``recall_floor_met`` asserts recall@10 ≥ 0.35 — well above the
    n_probe/n_centroids = 4/16 = 0.25 expectation of random routing
    and safely below the 0.56–0.62 measured across sf0.001–0.1, so a
    broken fit or routing regression trips it while KMeans float
    jitter cannot. The deterministic-centroid twin ivf_recall_at_k
    keeps the exact-valued recall oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20)
    cents = S.kmeans_centroids(emb, n_centroids=16)
    exact = S.brute_force_topk(emb, qs, k=10).select("query_id", "neighbor_id")
    approx = (
        S.ivf_topk(emb, qs, dim=64, k=10, n_centroids=16, n_probe=4,
                   centroids=cents)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    # approx is top-k output (<= n_queries*k rows at any scale):
    # broadcast it or the planner sort-merge-joins two tiny sides.
    marked = exact.join(
        F.broadcast(approx), on=["query_id", "neighbor_id"], how="left"
    )
    return marked.agg(
        F.count(F.lit(1)).alias("n_truth_pairs"),
        (
            (F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1)))
            >= F.lit(0.35)
        ).alias("recall_floor_met"),
    )


@register(
    "dedup_keep_best",
    rf"""
    WITH g AS (
      SELECT *,
             md5(array_to_string(list_sort(list_distinct(
               list_transform({_DUCK_TOKS.format(col='text')},
                              x -> lower(x)))), ' ')) AS grp,
             row_number() OVER (
               PARTITION BY md5(array_to_string(list_sort(list_distinct(
                 list_transform({_DUCK_TOKS.format(col='text')},
                                x -> lower(x)))), ' '))
               ORDER BY len(text) DESC, doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, text, lang, source, n_chars
    FROM g WHERE rn = 1
    """,
)
def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware survivor selection (llm/dedup.py:
    keep_best_duplicate): token-set duplicate groups keep their
    LONGEST member (ties → lowest id) — the keep-best-capture policy
    real crawls use, vs the lowest-id rule in dedupe_corpus."""
    docs = _t(spark, sf_dir, "documents")
    return D.keep_best_duplicate(docs, method="fingerprint")


@register(
    "minhash_confirmed_pairs",
    f"""{_minhash_bands_with(16, 4)}
    , cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS n_matching_bands
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), shs AS (
      SELECT doc_id,
             list_transform(sh,
               s -> CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)) AS h
      FROM t
    ), joined AS (
      SELECT c.id_a, c.id_b, c.n_matching_bands,
             len(list_intersect(sa.h, sb.h)) AS inter,
             len(sa.h) + len(sb.h) AS nsum
      FROM cand c
      JOIN shs sa ON c.id_a = sa.doc_id
      JOIN shs sb ON c.id_b = sb.doc_id
    )
    SELECT id_a, id_b, n_matching_bands,
           CASE WHEN nsum - inter > 0
                THEN CAST(inter AS DOUBLE) / (nsum - inter)
                ELSE 0.0 END AS jaccard
    FROM joined
    WHERE CASE WHEN nsum - inter > 0
               THEN CAST(inter AS DOUBLE) / (nsum - inter)
               ELSE 0.0 END >= 0.5
    """,
)
def q_minhash_confirmed_pairs(spark, sf_dir):
    """LSH candidates + exact Jaccard confirmation in one plan
    (llm/dedup.py:minhash_confirmed_pairs) — the precision of the
    exact detector at the cost profile of the banded one. Same
    md5-prefix shingle hashes on both engines, so candidate set AND
    confirmed similarities hash-match."""
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_confirmed_pairs(docs, threshold=0.5)


_E2E_BUDGET = 20_000


def _curation_e2e_sql() -> str:
    """Chained oracle for the end-to-end curation pipeline: every
    stage reuses the already-verified fragment (Gopher rules, md5
    exact dedup, MinHash banding, greedy budget selection), re-rooted
    onto the previous stage's CTE."""
    bands_chain = _minhash_bands_with(16, 4).replace(
        "FROM documents", "FROM dd"
    )
    inner = bands_chain.split("WITH", 1)[1]
    # The synthetic corpus is stopword-poor (vocabulary of table/query
    # terms) — relax the stopword probe to ≥1 so the pipeline exercises
    # every later stage on real survivors.
    gopher = _DUCK_GOPHER.format(
        toks=_DUCK_TOKS.format(col="text")
    ).replace("stop_hits >= 2", "stop_hits >= 1")
    return f"""
    WITH gq AS ({gopher}
    ), g AS (
      SELECT doc_id, text FROM gq WHERE keep
    ), ke AS (
      SELECT md5(text) AS h, min(doc_id) AS keep_id FROM g GROUP BY 1
    ), dd AS (
      SELECT g.doc_id, g.text FROM g
      JOIN ke ON md5(g.text) = ke.h AND g.doc_id = ke.keep_id
    ), {inner}
    , cand AS (
      SELECT DISTINCT b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
    ), surv AS (
      SELECT dd.doc_id, dd.text FROM dd
      WHERE NOT EXISTS (SELECT 1 FROM cand WHERE cand.id_b = dd.doc_id)
    ), scored AS (
      SELECT doc_id,
             CAST(len({_DUCK_TOKS.format(col="text")}) AS BIGINT)
               AS n_words,
             CAST(len({_DUCK_TOKS.format(col="text")}) AS DOUBLE) AS score
      FROM surv
    ), sel AS (
      SELECT doc_id, n_words, score,
             sum(n_words) OVER (
               ORDER BY score DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM scored
    )
    SELECT doc_id, n_words, score FROM sel WHERE cum <= {_E2E_BUDGET}
    """


@register("curation_pipeline_e2e", _curation_e2e_sql())
def q_curation_pipeline_e2e(spark, sf_dir):
    """The whole curation story as ONE lazy plan: Gopher rule filter →
    exact dedup (keep lowest id) → MinHash-LSH near-dup prune (greedy
    drop-higher-id) → greedy token-budget selection by document
    length. Four stages, each individually oracle-checked elsewhere;
    this query hash-checks their COMPOSITION, which is what a real
    training-data run executes. Catalyst fuses the stages — the rule
    filter prunes before any shingling happens, and the only shuffles
    are the dedup hash, the band buckets, and the boundary-bin
    window."""
    from pos_api_pipeline_spark.llm.sampling import select_by_token_budget

    docs = _t(spark, sf_dir, "documents")
    # NOT checkpointed (r13, measured negative): the rule filter's
    # regex/HOF tree is consumed by three downstream evaluations
    # (keep aggregate, semi-join left side, band surface) and a
    # localCheckpoint here would run it once — but the interleaved
    # A/B read 1.64x SLOWER with the checkpoint at sf0.1 in fresh
    # sessions (BENCH_e2e_fltckpt_ab_sf0.1_r13.json, canaries at
    # parity): at this corpus size the deduped work (one compressed
    # parquet scan + the rule regexes) costs less than the
    # checkpoint job + text materialization, and at 100 TB the
    # trade (checkpoint write+read of the surviving TEXT vs two
    # extra columnar scans) has no payload-moves-once advantage
    # either. The three evaluations stay.
    flt = (
        X.gopher_quality_flags(docs, min_words=10, min_stop_hits=1)
        .filter("keep")
        .select("doc_id", "text")
    )
    keep = flt.groupBy(F.md5("text").alias("_h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    dd = flt.join(keep.select("doc_id"), "doc_id", "left_semi")
    # dd is exact-text-deduped just above: skip the rule-7 collapse
    # (all families are singletons; see llm/pipeline.py twin).
    pairs = D.minhash_lsh_candidates(dd, collapse_exact=False)
    surv = D.apply_pair_dedup(dd, pairs)
    n_words = F.size(X.tokens("text"))
    # Cache at the stage boundary: the budget selector's per-bin
    # aggregate and its final filter both consume this frame, and
    # without the cache each pass re-runs the whole filter+dedup
    # pipeline upstream (measured 10 s -> ~4 s at sf0.1). The frame is
    # three narrow columns per surviving doc - tiny.
    scored = surv.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_words.cast("double").alias("score"),
    ).cache()
    return select_by_token_budget(
        scored, _E2E_BUDGET, score_col="score", token_col="n_words",
        score_lo=0.0, score_hi=1000.0,
    )


@register(
    "weighted_lang_sample",
    r"""
    WITH pri AS (
      SELECT doc_id, text, lang, source, n_chars,
             round(ln((CAST('0x' || substring(md5(
                 CAST(doc_id AS VARCHAR) || ':0'), 1, 15) AS BIGINT) + 1)
                 / 1152921504606846976.0), 6) / n_chars AS p
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
    ), r AS (
      SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY p DESC, doc_id) AS rn
      FROM pri
    )
    SELECT doc_id, text, lang, source, n_chars FROM r WHERE rn <= 30
    """,
)
def q_weighted_lang_sample(spark, sf_dir):
    """A-ES weighted sampling without replacement (llm/sampling.py:
    weighted_sample_without_replacement): 30 docs per language,
    probability proportional to length — the domain-balanced,
    length-weighted corpus cut. Priorities derive from the portable
    hash with 6-dp-rounded ln, so both engines select the identical
    sample."""
    from pos_api_pipeline_spark.llm.sampling import (
        weighted_sample_without_replacement,
    )

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample_without_replacement(
        docs, k=30, weight_col="n_chars", strata_col="lang"
    )


@register(
    "bm25_topk_docs",
    rf"""
    WITH tr AS (
      SELECT doc_id, t AS term
      FROM (SELECT doc_id,
                   unnest({_DUCK_TOKS.format(col='lower(text)')}) AS t
            FROM documents)
    ), tf_all AS (
      SELECT doc_id, term, count(*) AS tf FROM tr GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, sum(tf) AS dl FROM tf_all GROUP BY 1
    ), stats AS (
      SELECT count(*) AS n_docs, sum(dl)::DOUBLE / count(*) AS avgdl
      FROM dl
    ), tf_q AS (
      SELECT * FROM tf_all WHERE term IN ('join', 'vector', 'filter')
    ), dft AS (
      SELECT term, count(*) AS df_t FROM tf_q GROUP BY 1
    ), scored AS (
      SELECT tf_q.doc_id AS id,
             CAST(round(
               ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
               * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))),
               6) AS DECIMAL(28,6)) AS term_score
      FROM tf_q JOIN dft USING (term) JOIN dl USING (doc_id), stats
    )
    SELECT id, CAST(count(*) AS BIGINT) AS n_terms_matched,
           CAST(sum(term_score) AS DOUBLE) AS score
    FROM scored GROUP BY id
    ORDER BY score DESC, id LIMIT 20
    """,
)
def q_bm25_topk_docs(spark, sf_dir):
    """BM25 lexical retrieval (llm/text.py:bm25_topk; Lucene idf
    form, k1=1.2, b=0.75) for a 3-term query — per-term scores
    6-dp-decimal accumulated so the ranking hash-matches DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    return X.bm25_topk(docs, ["join", "vector", "filter"], k=20)


@register(
    "temperature_mixture_lang",
    """
    WITH counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_rows
      FROM documents WHERE lang IS NOT NULL GROUP BY 1
    ), tot AS (SELECT sum(n_rows) AS N FROM counts),
    weighted AS (
      SELECT lang, n_rows,
             n_rows::DOUBLE / N AS share,
             round(pow(n_rows::DOUBLE / N, 0.5), 6) AS weight
      FROM counts, tot
    ), ws AS (SELECT CAST(sum(CAST(weight AS DECIMAL(18,6))) AS DOUBLE)
                AS W FROM weighted)
    SELECT lang, n_rows, share, weight,
           300.0 * weight / W AS target_n,
           least(1.0, 300.0 * weight / W / n_rows) AS rate
    FROM weighted, ws
    """,
)
def q_temperature_mixture_lang(spark, sf_dir):
    """Temperature-scaled language mixture (llm/sampling.py:
    temperature_mixture_rates; Conneau & Lample 2019, alpha=0.5):
    per-language keep-rates that upsample the low-resource tail —
    pow() rounded to 6 dp before renormalization so both engines
    derive identical rates."""
    from pos_api_pipeline_spark.llm.sampling import (
        temperature_mixture_rates,
    )

    docs = _t(spark, sf_dir, "documents")
    return temperature_mixture_rates(docs, "lang", total=300, alpha=0.5)


_DSIR_B = 4096
_DSIR_BUCKET = (
    "CAST('0x' || substring(md5(lower(t)), 1, 15) AS BIGINT) % " + str(_DSIR_B)
)
_DSIR_RATIO_WITH = rf"""
    WITH rtok AS (
      SELECT doc_id, {_DSIR_BUCKET} AS b
      FROM (SELECT doc_id, unnest({_DUCK_TOKS.format(col='text')}) AS t
            FROM documents)
    ), raw_tf AS (
      SELECT doc_id, b, count(*) AS tf FROM rtok GROUP BY 1, 2
    ), raw_b AS (
      SELECT b, sum(tf) AS cr FROM raw_tf GROUP BY 1
    ), tgt_b AS (
      SELECT b, count(*) AS ct
      FROM (SELECT {_DSIR_BUCKET} AS b
            FROM (SELECT unnest({_DUCK_TOKS.format(col='text')}) AS t
                  FROM documents WHERE lang = 'en'))
      GROUP BY 1
    ), tot AS (
      SELECT (SELECT sum(cr) FROM raw_b) AS tr,
             (SELECT sum(ct) FROM tgt_b) AS tt
    ), ratio AS (
      SELECT raw_b.b,
             CAST(round(
               ln((COALESCE(ct, 0) + 1)::DOUBLE / (tt + {_DSIR_B})::DOUBLE)
             - ln((cr + 1)::DOUBLE / (tr + {_DSIR_B})::DOUBLE), 6)
               AS DECIMAL(28,6)) AS lr
      FROM raw_b LEFT JOIN tgt_b USING (b), tot
    ), agg AS (
      SELECT doc_id, sum(tf) AS n_tokens, sum(tf * lr) AS slw
      FROM raw_tf JOIN ratio USING (b) GROUP BY 1
    )"""


@register(
    "dsir_log_weights",
    _DSIR_RATIO_WITH
    + """
    SELECT d.doc_id,
           CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(a.slw AS DOUBLE) AS log_weight
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def q_dsir_log_weights(spark, sf_dir):
    """DSIR importance log-weights (llm/sampling.py:dsir_log_weights;
    Xie et al. 2023): hashed-unigram bucket models of target
    (lang='en') vs the raw pool, add-1 smoothed, 6-dp decimal
    accumulation — per-doc weights hash-match DuckDB."""
    from pos_api_pipeline_spark.llm.sampling import dsir_log_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_log_weights(
        docs, docs.filter(F.col("lang") == "en"), n_buckets=_DSIR_B
    )


@register(
    "dsir_resample_top50",
    _DSIR_RATIO_WITH
    + """
    , keyed AS (
      SELECT doc_id,
             CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(slw AS DOUBLE) AS log_weight,
             CAST(CAST(CAST(slw AS DOUBLE) AS DECIMAL(28,6))
                  + CAST(least(round(-ln(-ln(
                      (CAST('0x' || substring(md5(
                         CAST(doc_id AS VARCHAR) || ':0'), 1, 15) AS BIGINT)
                       + 1) / 1152921504606846976.0)), 6), 50.0)
                    AS DECIMAL(28,6))
               AS DOUBLE) AS gumbel_key
      FROM agg
    )
    SELECT doc_id, n_tokens, log_weight, gumbel_key
    FROM keyed ORDER BY gumbel_key DESC, doc_id LIMIT 50
    """,
)
def q_dsir_resample_top50(spark, sf_dir):
    """DSIR selection via Gumbel-top-k (llm/sampling.py:
    dsir_resample): 50 docs sampled without replacement with
    probability ∝ exp(importance log-weight), deterministically (the
    portable-hash Gumbel), reproduced row-for-row by the oracle."""
    from pos_api_pipeline_spark.llm.sampling import dsir_resample

    docs = _t(spark, sf_dir, "documents")
    return dsir_resample(
        docs, docs.filter(F.col("lang") == "en"), k=50, n_buckets=_DSIR_B
    )


@register(
    "model_quality_scores",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_positive_labels,
           true AS accuracy_floor_met,
           true AS probs_in_unit_interval
    FROM documents
    """,
)
def q_model_quality_scores(spark, sf_dir):
    """Weakly-supervised model-based quality filter (llm/
    quality_model.py): hashed bag-of-words LogisticRegression fit on
    lang=='en' proxies, scored over the whole corpus. The LR fit is
    iterative driver-side model state — no SQL twin — so the hash
    oracle is the seed-pinned INVARIANT form (VERDICT r7 #4): corpus
    size and weak-positive count are checked exactly, every predicted
    probability must sit in [0,1], and train accuracy vs the weak
    labels must clear 0.55 — above the 0.5 chance line and safely
    below the 0.59–0.63 measured across sf0.001–0.1, so a diverged or
    degenerate fit trips it while optimizer float jitter cannot.
    Per-doc score behavior stays pinned on separable synthetic
    corpora in tests/test_quality_model.py."""
    from pos_api_pipeline_spark.llm.quality_model import (
        weakly_supervised_quality_filter,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = weakly_supervised_quality_filter(docs, "en")
    p = F.col("p_positive")
    return scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("label_used").cast("long")).alias("n_positive_labels"),
        (
            F.avg(
                (F.col("keep") == (F.col("label_used") == 1)).cast("double")
            )
            >= F.lit(0.55)
        ).alias("accuracy_floor_met"),
        F.min((p >= 0.0) & (p <= 1.0)).alias("probs_in_unit_interval"),
    )


@register(
    "hard_negatives_topk",
    f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS query_label, e AS qe
          FROM v WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, q.query_label,
             v.vec_id AS neighbor_id, v.label AS neighbor_label,
             {_duck_cos('qe', 'e')} AS cosine
      FROM v CROSS JOIN q
      WHERE q.query_id <> v.vec_id AND v.label <> q.query_label
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label,
           cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q_hard_negatives_topk(spark, sf_dir):
    """Contrastive hard-negative mining (llm/similarity.py:
    hard_negatives): top-5 cross-label near-misses per query vector,
    exact float parity with the DuckDB cosine fold."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    return S.hard_negatives(emb, qs, k=5)


@register(
    "knn_label_accuracy",
    f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS true_label, e AS qe
          FROM v WHERE vec_id < 50),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id, v.label AS neighbor_label,
             {_duck_cos('qe', 'e')} AS cosine
      FROM v CROSS JOIN q WHERE q.query_id <> v.vec_id
    ), topk AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored) WHERE rank <= 5
    ), votes AS (
      SELECT query_id, neighbor_label, count(*) AS n_votes
      FROM topk GROUP BY 1, 2
    ), pred AS (
      SELECT query_id, neighbor_label AS predicted_label,
             CAST(n_votes AS BIGINT) AS n_votes
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY n_votes DESC, neighbor_label) AS r
            FROM votes) WHERE r = 1
    )
    SELECT q.query_id AS vec_id, q.true_label, p.predicted_label,
           p.n_votes, q.true_label = p.predicted_label AS correct
    FROM q JOIN pred p USING (query_id)
    """,
)
def q_knn_label_accuracy(spark, sf_dir):
    """k-NN majority-vote label prediction (llm/similarity.py:
    knn_predict_labels) over the first 50 vectors — the embedding
    sanity check, per-row hash-matched including the deterministic
    tiebreaks."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 50)
    return S.knn_predict_labels(emb, qs, k=5)


def _jl_comp_array(dim: int = _DIM, out_dim: int = 16) -> str:
    """SQL array literal of the JL projection components: the same ±1
    sign arrays as random_projection, the same left-fold order
    (list_reduce), the same exact 1/√out_dim scale (out_dim=16 → 0.25,
    an exact binary value, so the one multiply is boundary-free)."""
    comps = []
    for p in range(out_dim):
        signs = [
            S._plane_sign(S._PROJ_TABLE * out_dim + p, d) for d in range(dim)
        ]
        arr = "[" + ",".join(f"{s}.0" for s in signs) + "]"
        fold = (
            f"list_reduce([e[i] * ({arr})[i] for i in range(1, {dim + 1})],"
            f" (a,b) -> a + b)"
        )
        comps.append(f"round({fold} * 0.25, 9)")
    return ",\n             ".join(comps)


def _jl_components_sql(dim: int = _DIM, out_dim: int = 16) -> str:
    """Per-component twin of random_projection (see _jl_comp_array)."""
    comp_arr = _jl_comp_array(dim, out_dim)
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    proj AS (
      SELECT vec_id, [{comp_arr}] AS projected FROM v
    )
    SELECT vec_id, CAST(i - 1 AS INT) AS dim, projected[i] AS comp
    FROM proj, range(1, 17) t(i)
    """


@register("jl_projection_components", _jl_components_sql())
def q_jl_projection_components(spark, sf_dir):
    """JL sign-matrix projection 64→16 (llm/similarity.py:
    random_projection), hash-checked per component."""
    emb = _t(spark, sf_dir, "embeddings")
    out = S.random_projection(emb, dim=_DIM, out_dim=16)
    return out.select(
        "vec_id", F.posexplode("projected").alias("dim", "comp")
    )


def _jl_recall_sql(
    k: int = 10, query_max: int = 20, dim: int = _DIM, out_dim: int = 16
) -> str:
    """Oracle twin of projection_recall_at_k: brute-force top-k in
    the PROJECTED space (same JL components as _jl_components_sql, a
    hash-matched oracle already) fed into the shared _recall_sql
    truth-join."""
    approx = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    proj AS (SELECT vec_id, [{_jl_comp_array(dim, out_dim)}] AS e FROM v),
    q AS (SELECT vec_id AS query_id, e AS qe FROM proj
          WHERE vec_id < {query_max}),
    scored AS (
      SELECT q.query_id, p.vec_id AS neighbor_id,
             {_duck_cos('q.qe', 'p.e', out_dim)} AS cosine
      FROM proj p CROSS JOIN q WHERE p.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id FROM (
      SELECT query_id, neighbor_id, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank FROM scored
    ) WHERE rank <= {k}
    """
    return _recall_sql(approx, k=k, query_max=query_max)


@register("jl_projection_recall", _jl_recall_sql())
def q_jl_projection_recall(spark, sf_dir):
    """Neighbor preservation of the 64→16 JL projection vs exact
    truth (llm/similarity.py:projection_recall_at_k) — one recall row
    per round in BENCH, next to the IVF/IVFADC recall rows."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.projection_recall_at_k(emb, dim=_DIM, out_dim=16, k=10)


_RSS_K = 8


@register(
    "repeated_substring_spans",
    rf"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKS.format(col='lower(text)')} AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, toks,
             unnest([struct_pack(
                 pos := i - 1,
                 h := {_DUCK_H64.format(
                     col=f"array_to_string(toks[i:i+{_RSS_K - 1}], ' ')")})
               for i in range(1, greatest(len(toks) - {_RSS_K - 1}, 0) + 1)])
               AS s
      FROM t
    ), ex AS (
      SELECT doc_id, toks, s.pos AS pos, s.h AS h FROM g
    ), hot AS (
      SELECT h FROM ex GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), fl AS (
      SELECT * FROM ex WHERE h IN (SELECT h FROM hot)
    ), isl AS (
      SELECT *,
             CASE WHEN pos - lag(pos) OVER (
               PARTITION BY doc_id ORDER BY pos) <= {_RSS_K}
               THEN 0 ELSE 1 END AS ni
      FROM fl
    ), isl2 AS (
      SELECT *, sum(ni) OVER (
        PARTITION BY doc_id ORDER BY pos
        ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    )
    SELECT doc_id,
           min(pos) AS span_start,
           max(pos) + {_RSS_K - 1} AS span_end,
           CAST(count(*) AS BIGINT) AS n_grams,
           array_to_string(
             any_value(toks)[min(pos) + 1 : max(pos) + {_RSS_K}], ' ')
             AS span_tokens
    FROM isl2 GROUP BY doc_id, island
    """,
)
def q_repeated_substring_spans(spark, sf_dir):
    """Cross-document repeated-substring spans (llm/curation.py:
    repeated_substring_spans): 8-token windows shared by ≥2 docs,
    merged to maximal per-doc spans — the fixed-k form of Lee et
    al.'s exact substring dedup, hash-checked including the island
    merge and the reassembled span text."""
    from pos_api_pipeline_spark.llm.curation import repeated_substring_spans

    docs = _t(spark, sf_dir, "documents")
    return repeated_substring_spans(docs, k=_RSS_K)


@register(
    "curation_funnel_stats",
    f"""
    WITH gq AS ({{gopher}}
    ), g AS (
      SELECT doc_id, text FROM gq WHERE keep
    ), ke AS (
      SELECT md5(text) AS h, min(doc_id) AS keep_id FROM g GROUP BY 1
    ), dd AS (
      SELECT g.doc_id, g.text FROM g
      JOIN ke ON md5(g.text) = ke.h AND g.doc_id = ke.keep_id
    ), {{bands_inner}}
    , cand AS (
      SELECT DISTINCT b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
    ), surv AS (
      SELECT dd.doc_id FROM dd
      WHERE NOT EXISTS (SELECT 1 FROM cand WHERE cand.id_b = dd.doc_id)
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_raw,
           (SELECT CAST(count(*) AS BIGINT) FROM g) AS n_rule_pass,
           (SELECT CAST(count(*) AS BIGINT) FROM dd) AS n_exact_unique,
           (SELECT CAST(count(*) AS BIGINT) FROM surv) AS n_near_dup_survivors
    """.format(
        gopher=_DUCK_GOPHER.format(
            toks=_DUCK_TOKS.format(col="text")
        ).replace("stop_hits >= 2", "stop_hits >= 1"),
        bands_inner=_minhash_bands_with(16, 4)
        .replace("FROM documents", "FROM dd")
        .split("WITH", 1)[1],
    ),
)
def q_curation_funnel_stats(spark, sf_dir):
    """Curation observability: one row of per-stage survivor counts
    (raw → rule pass → exact-unique → near-dup survivors) — the
    funnel a pipeline dashboard tracks per tick. Same stages as
    curation_pipeline_e2e, but counted as PER-DOC SURVIVAL FLAGS on
    one cached frame + a single conditional aggregation (the r6/r7
    two-pass redesign): the old form hung four count branches off
    three cached stage frames, costing 14 scans / 13 exchanges and 3
    cross-joins; at 100 TB each extra cached scan is a full pass over
    the curated corpus. Here ``documents`` is scanned once, the
    flagged frame twice (main agg + LSH branch)."""
    docs = _t(spark, sf_dir, "documents")
    # Stage flags in one pass: gopher keep (map-only) + exact-unique
    # = first doc_id within each (keep, md5(text)) window partition.
    # Cached because the LSH candidate branch is lambda-bearing
    # (shingles) and would otherwise recompute scan+window per use.
    flagged = (
        X.gopher_quality_flags(docs, min_words=10, min_stop_hits=1)
        .select(
            "doc_id",
            "text",
            "keep",
            (
                F.col("keep")
                & (
                    F.row_number().over(
                        Window.partitionBy("keep", F.md5("text")).orderBy(
                            "doc_id"
                        )
                    )
                    == 1
                )
            ).alias("first_of_hash"),
        )
        .cache()
    )
    dd = flagged.filter("first_of_hash").select("doc_id", "text")
    # collapse_exact=False: dd is exact-unique by construction (the
    # first_of_hash flag above), so the rule-7 collapse inside the
    # detector would re-group texts that are already distinct —
    # pure overhead that re-widened this plan to 8 scans/21
    # exchanges in r9 (PLAN_AUDIT). Locked by the scan-count plan
    # test (tests/test_plans.py::test_funnel_plan_stays_flat).
    drop_ids = (
        D.minhash_lsh_candidates(dd, collapse_exact=False)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    return (
        flagged.join(drop_ids, "doc_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum(F.col("keep").cast("long")).alias("n_rule_pass"),
            F.sum(F.col("first_of_hash").cast("long")).alias(
                "n_exact_unique"
            ),
            F.sum(
                (F.col("first_of_hash") & F.col("near_dup").isNull()).cast(
                    "long"
                )
            ).alias("n_near_dup_survivors"),
        )
    )


@register(
    "vocab_drift_en",
    rf"""
    WITH dtoks AS (
      SELECT unnest(list_transform({_DUCK_TOKS.format(col='text')},
                                   x -> lower(x))) AS term
      FROM documents WHERE lang = 'en'
    ), ctoks AS (
      SELECT unnest(list_transform({_DUCK_TOKS.format(col='text')},
                                   x -> lower(x))) AS term
      FROM documents
    ), cc AS (SELECT term, count(*) AS c FROM dtoks GROUP BY 1),
    dd AS (SELECT term, count(*) AS d FROM ctoks GROUP BY 1),
    j AS (SELECT cc.term, cc.c, dd.d FROM cc LEFT JOIN dd USING (term)),
    agg AS (
      SELECT sum(CASE WHEN d IS NOT NULL
                      THEN c * CAST(round(ln(CAST(c AS DOUBLE) / d), 6)
                                    AS DECIMAL(28,6)) END) AS slnr,
             sum(CASE WHEN d IS NULL THEN c ELSE 0 END) AS oov,
             sum(CASE WHEN d IS NOT NULL THEN c ELSE 0 END) AS ivc
      FROM j
    ), n1 AS (SELECT sum(c) AS n1 FROM cc),
    n2 AS (SELECT sum(d) AS n2 FROM dd)
    SELECT CAST(n1 AS BIGINT) AS n_delta_tokens,
           CAST(n2 AS BIGINT) AS n_corpus_tokens,
           CAST(oov AS DOUBLE) / n1 AS oov_mass,
           round(CAST(slnr AS DOUBLE) / ivc
                 + ln(CAST(n2 AS DOUBLE) / ivc), 6) AS kl_nats
    FROM agg, n1, n2
    """,
)
def q_vocab_drift_en(spark, sf_dir):
    """Vocabulary-drift monitor (llm/text.py:vocab_kl_divergence):
    KL of the 'en' slice's unigram distribution against the whole
    corpus, decimal-ln accumulated so the one-row drift score
    hash-matches."""
    docs = _t(spark, sf_dir, "documents")
    return X.vocab_kl_divergence(docs.filter(F.col("lang") == "en"), docs)


@register(
    "near_dup_best_survivors",
    f"""{_minhash_bands_with(16, 4)}
    , cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), losers AS (
      SELECT DISTINCT CASE
               WHEN la.len_a < lb.len_b THEN c.id_a
               WHEN lb.len_b < la.len_a THEN c.id_b
               ELSE greatest(c.id_a, c.id_b) END AS doc_id
      FROM cand c
      JOIN (SELECT doc_id, len(text) AS len_a FROM documents) la
        ON c.id_a = la.doc_id
      JOIN (SELECT doc_id, len(text) AS len_b FROM documents) lb
        ON c.id_b = lb.doc_id
    )
    SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id)
    """,
)
def q_near_dup_best_survivors(spark, sf_dir):
    """Quality-aware near-dup pruning (llm/dedup.py:
    apply_pair_dedup_best): MinHash candidate pairs drop their
    SHORTER member — the keep-best-capture policy at the pair grain,
    hash-checked against the banded candidate set."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(docs)
    return D.apply_pair_dedup_best(docs, pairs, score=F.length("text"))


@register(
    "kmv_corpus_overlap",
    r"""
    WITH lab AS (
      SELECT CASE WHEN length(source) = 4 THEN 'a' ELSE 'b' END AS corpus,
             doc_id, text
      FROM documents
    ), t AS (
      SELECT corpus,
             list_distinct([array_to_string(toks[i:i+2], ' ')
                            for i in range(1, greatest(len(toks)-2, 0)+1)]) AS sh
      FROM (SELECT corpus,
                   list_filter(string_split_regex(lower(text), '\s+'),
                               x -> x <> '') AS toks
            FROM lab)
    ), e AS (
      SELECT DISTINCT corpus,
             CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) AS h
      FROM (SELECT corpus, unnest(sh) AS s FROM t)
    ), flags AS (
      SELECT h,
             max(CASE WHEN corpus = 'a' THEN 1 ELSE 0 END) AS ia,
             max(CASE WHEN corpus = 'b' THEN 1 ELSE 0 END) AS ib
      FROM e GROUP BY h
    ), exact AS (
      SELECT CAST(sum(ia) AS BIGINT) AS n_hashes_a,
             CAST(sum(ib) AS BIGINT) AS n_hashes_b,
             CAST(sum(ia * ib) AS BIGINT) AS n_common
      FROM flags
    ), sk AS (
      SELECT corpus, h FROM (
        SELECT corpus, h,
               row_number() OVER (PARTITION BY corpus ORDER BY h) AS r
        FROM e) WHERE r <= 256
    ), pa AS (SELECT h, 1 AS ia FROM sk WHERE corpus = 'a'
    ), pb AS (SELECT h, 1 AS ib FROM sk WHERE corpus = 'b'
    ), pool0 AS (
      SELECT coalesce(pa.h, pb.h) AS h,
             coalesce(ia, 0) AS ia, coalesce(ib, 0) AS ib
      FROM pa FULL OUTER JOIN pb ON pa.h = pb.h
    ), pool AS (
      SELECT h, ia, ib FROM (
        SELECT h, ia, ib, row_number() OVER (ORDER BY h) AS rp
        FROM pool0) WHERE rp <= 256
    ), est AS (
      SELECT CAST(sum(ia * ib) AS BIGINT) AS n_both,
             CAST(sum(ia) AS BIGINT) AS n_pool_a,
             CAST(count(*) AS BIGINT) AS n_pool
      FROM pool
    )
    SELECT CAST(256 AS INT) AS k, n_hashes_a, n_hashes_b, n_common,
           round(CAST(n_common AS DOUBLE)
                 / (n_hashes_a + n_hashes_b - n_common), 6) AS exact_jaccard,
           round(CAST(n_both AS DOUBLE) / n_pool, 6) AS kmv_jaccard,
           round(CAST(n_common AS DOUBLE) / n_hashes_a, 6)
               AS exact_containment_a,
           round(CAST(n_both AS DOUBLE) / n_pool_a, 6) AS kmv_containment_a
    FROM exact, est
    """,
)
def q_kmv_corpus_overlap(spark, sf_dir):
    """Corpus-overlap KMV sketch (llm/dedup.py:kmv_corpus_jaccard):
    the documents table split into two pseudo-corpora (single- vs
    double-digit source suffix), shingle-set Jaccard + containment
    estimated from the 256 smallest md5-prefix hashes per side, with
    the exact flag-aggregate alongside. The oracle replays the sketch
    bit-for-bit (same portable hash, same k-min windows, same pooled
    union top-k), so estimator AND exact values hash-match — the
    denominator is the pool row count, which reduces the estimate to
    the exact Jaccard when the union is smaller than k."""
    docs = _t(spark, sf_dir, "documents")
    return D.kmv_corpus_jaccard(
        docs,
        F.when(F.length("source") == 4, "a").otherwise("b"),
        "a",
        "b",
        k=256,
    )


def _sq8_sql(k: int, query_max: int) -> str:
    """DuckDB twin of llm.similarity.sq8_topk: identical code formula
    (floor((x−mn)·255/rng + 0.5), clamped, 0 on degenerate dims),
    identical dequantization (mn + c·rng/255) and cosine fold order —
    codes are integer-exact across engines, so the ADC cosines (and
    therefore ranks) hash-match."""
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    pd AS (
      SELECT t.d, min(e[t.d]) AS mn, max(e[t.d]) AS mx
      FROM v, (SELECT unnest(range(1, {_DIM + 1})) AS d) t
      GROUP BY t.d
    ), st AS (
      SELECT list(mn ORDER BY d) AS mins, list(mx ORDER BY d) AS maxs
      FROM pd
    ), dec AS (
      SELECT v.vec_id AS neighbor_id,
             [ mins[i] + (CASE WHEN maxs[i] - mins[i] = 0 THEN 0
                 ELSE CAST(least(255.0, greatest(0.0,
                   floor((e[i] - mins[i]) * 255.0 / (maxs[i] - mins[i])
                         + 0.5))) AS INT) END)
               * (maxs[i] - mins[i]) / 255.0
               for i in range(1, {_DIM + 1}) ] AS de
      FROM v, st
    ), q AS (
      SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {query_max}
    ), scored AS (
      SELECT q.query_id, dec.neighbor_id,
             {_duck_cos('q.qe', 'dec.de')} AS adc_cosine
      FROM dec CROSS JOIN q WHERE dec.neighbor_id <> q.query_id
    )
    SELECT query_id, neighbor_id, adc_cosine, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY adc_cosine DESC, neighbor_id
      ) AS INTEGER) AS rank FROM scored
    ) WHERE rank <= {k}
    """


@register("sq8_adc_topk", _sq8_sql(k=5, query_max=5))
def q_sq8_adc_topk(spark, sf_dir):
    """SQ8 scalar-quantized ANN (llm/similarity.py:sq8_topk): int8
    per-dimension min-max codes (faiss SQ8), asymmetric search —
    full-precision queries against dequantized corpus vectors. The
    8×-compression member of the ANN family between raw brute force
    and PQ codebooks."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.sq8_topk(emb, emb.filter(F.col("vec_id") < 5), dim=64, k=5)


@register(
    "sq8_recall_at_k",
    _recall_sql(_sq8_sql(k=10, query_max=20), k=10, query_max=20),
)
def q_sq8_recall_at_k(spark, sf_dir):
    """SQ8 fidelity audit (llm/similarity.py:sq8_recall_at_k): recall
    of the quantized search vs exact brute-force truth, hash-checked
    via the shared truth-join oracle builder."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.sq8_recall_at_k(emb, dim=64, k=10, n_queries=20)


@register(
    "semantic_cluster_stats",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cents AS MATERIALIZED (
      SELECT CAST(vec_id AS BIGINT) AS centroid_id, e AS ce
      FROM v ORDER BY vec_id LIMIT {_SEMDEDUP_CELLS}
    ), assigned AS (
      SELECT id, centroid_id FROM (
        SELECT id, centroid_id,
               row_number() OVER (
                 PARTITION BY id ORDER BY sim DESC, centroid_id
               ) AS cr
        FROM (SELECT v.vec_id AS id, c.centroid_id,
                     {{cos}} AS sim
              FROM v CROSS JOIN cents c)
      ) WHERE cr <= 1
    ), sizes AS (
      SELECT centroid_id, count(*) AS sz
      FROM assigned GROUP BY 1 HAVING count(*) > 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(sz) AS BIGINT) AS max_bucket_size,
           CAST(sum(CASE WHEN sz > 10000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_over_cap,
           CAST(sum(CASE WHEN sz > 10000
                         THEN sz*(sz-1)/2 - (sz-1) ELSE 0 END) AS BIGINT)
               AS pairs_dropped
    FROM sizes
    """.format(cos=_duck_cos("v.e", "c.ce")),
)
def q_semantic_cluster_stats(spark, sf_dir):
    """Cap-audit observable for semantic_dedup (ADVICE r5): the
    shared skew audit (llm/dedup.py:lsh_bucket_stats) run over the
    SemDeDup cluster assignment — n_over_cap > 0 means the
    ``max_bucket`` star cap changed results for some cluster this
    round, so truncation is a recorded number, never silent."""
    emb = _t(spark, sf_dir, "embeddings")
    v = emb.select(
        F.col("vec_id").alias("id"),
        S.as_double_array("embedding").alias("vec"),
    )
    cents = S.deterministic_centroids(emb, _SEMDEDUP_CELLS)
    assigned = S.assign_nearest_centroids(v, cents, "id", "vec", 1).select(
        "id", "centroid_id"
    )
    return D.lsh_bucket_stats(assigned, ["centroid_id"])


@register(
    "token_fertility_by_lang",
    rf"""
    WITH per_doc AS (
      SELECT lang AS stratum,
             CAST(len({_DUCK_TOKS.format(col='text')}) AS BIGINT) AS w,
             CAST(len(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS b,
             CAST(length(text) AS BIGINT) AS c
      FROM documents WHERE lang IS NOT NULL
    ), agg AS (
      SELECT stratum,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(w) AS BIGINT) AS n_words,
             CAST(sum(b) AS BIGINT) AS n_bpe_tokens,
             CAST(sum(c) AS BIGINT) AS n_chars
      FROM per_doc GROUP BY 1
    )
    SELECT stratum, n_docs, n_words, n_bpe_tokens, n_chars,
           round(n_bpe_tokens::DOUBLE / n_words, 6) AS fertility,
           round(n_chars::DOUBLE / n_bpe_tokens, 6) AS chars_per_token,
           round(n_words::DOUBLE / n_docs, 6) AS words_per_doc
    FROM agg
    """,
)
def q_token_fertility_by_lang(spark, sf_dir):
    """Tokenizer fertility audit (llm/text.py:token_fertility):
    sub-word tokens per word / chars per token by language — the
    vocabulary-sizing stat for multilingual mixes. Exact integer
    sums, map-side combinable; ratios rounded to 6 dp on both
    engines."""
    docs = _t(spark, sf_dir, "documents")
    return X.token_fertility(docs, strata_col="lang")


@register(
    "unimax_lang_allocation",
    """
    WITH counts AS (
      SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n_units
      FROM documents WHERE lang IS NOT NULL GROUP BY 1
    ), tot AS (
      SELECT CAST(floor(sum(n_units)::DOUBLE * 0.5 + 0.5) AS BIGINT) AS B
      FROM counts
    ), staged AS (
      SELECT lang, n_units, B,
             n_units::DOUBLE * 2.0 AS cap,
             row_number() OVER
               (ORDER BY n_units::DOUBLE * 2.0, lang) AS j,
             coalesce(sum(n_units::DOUBLE * 2.0) OVER
               (ORDER BY n_units::DOUBLE * 2.0, lang
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0.0) AS prefix,
             count(*) OVER () AS n_s
      FROM counts, tot
    ), lvl AS (
      SELECT *, (B - prefix) / (n_s - j + 1) AS t_j FROM staged
    ), jst AS (
      SELECT *, min(CASE WHEN cap >= t_j THEN j END) OVER () AS jstar
      FROM lvl
    ), tst AS (
      SELECT *, min(CASE WHEN j = jstar THEN t_j END) OVER () AS tstar
      FROM jst
    )
    SELECT lang, n_units,
           round(cap, 4) AS cap,
           round(CASE WHEN tstar IS NULL THEN cap
                      ELSE least(cap, tstar) END, 4) AS allocation,
           round(CASE WHEN tstar IS NULL THEN cap
                      ELSE least(cap, tstar) END / n_units, 6) AS epochs
    FROM tst
    ORDER BY cap, lang
    """,
)
def q_unimax_lang_allocation(spark, sf_dir):
    """UniMax budget allocation (llm/sampling.py:unimax_allocation;
    Chung et al. 2023): character budget spread uniformly across
    languages with a 2-epoch cap, via the closed-form water-filling
    windows (no driver loop). Oracle replays the same prefix-sum /
    water-level algebra."""
    from pos_api_pipeline_spark.llm import sampling as SA

    docs = _t(spark, sf_dir, "documents")
    return SA.unimax_allocation(
        docs, "lang", size_col="n_chars", budget_frac=0.5, max_epochs=2.0
    )


@register(
    "hybrid_rrf_fusion",
    rf"""
    WITH tr AS (
      SELECT doc_id, t AS term
      FROM (SELECT doc_id,
                   unnest({_DUCK_TOKS.format(col='lower(text)')}) AS t
            FROM documents)
    ), tf_all AS (
      SELECT doc_id, term, count(*) AS tf FROM tr GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, sum(tf) AS dl FROM tf_all GROUP BY 1
    ), stats AS (
      SELECT count(*) AS n_docs, sum(dl)::DOUBLE / count(*) AS avgdl
      FROM dl
    ), tf_q AS (
      SELECT * FROM tf_all WHERE term IN ('join', 'vector', 'filter')
    ), dft AS (
      SELECT term, count(*) AS df_t FROM tf_q GROUP BY 1
    ), term_scored AS (
      SELECT tf_q.doc_id AS id,
             CAST(round(
               ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
               * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))),
               6) AS DECIMAL(28,6)) AS term_score
      FROM tf_q JOIN dft USING (term) JOIN dl USING (doc_id), stats
    ), lex AS (
      SELECT id, CAST(row_number() OVER
               (ORDER BY score DESC, id) AS INTEGER) AS lex_rank
      FROM (SELECT id, CAST(sum(term_score) AS DOUBLE) AS score
            FROM term_scored GROUP BY id
            ORDER BY score DESC, id LIMIT 50)
    ), v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    qv AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    dense AS (
      SELECT id, CAST(row_number() OVER
               (ORDER BY cosine DESC, id) AS INTEGER) AS dense_rank
      FROM (
        SELECT v.vec_id AS id, {_duck_cos('qv.qe', 'v.e')} AS cosine
        FROM v, qv WHERE v.vec_id <> 0
        ORDER BY cosine DESC, id LIMIT 50)
    ), fused AS (
      SELECT coalesce(lex.id, dense.id) AS id, lex_rank, dense_rank,
             round(coalesce(1.0 / (60 + lex_rank), 0.0)
                   + coalesce(1.0 / (60 + dense_rank), 0.0), 9)
               AS rrf_score
      FROM lex FULL OUTER JOIN dense ON lex.id = dense.id
    )
    SELECT id, lex_rank, dense_rank, rrf_score,
           CAST(rank AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER
            (ORDER BY rrf_score DESC, id) AS rank FROM fused)
    WHERE rank <= 10
    """,
)
def q_hybrid_rrf_fusion(spark, sf_dir):
    """Hybrid lexical+dense retrieval (llm/similarity.py:
    hybrid_rrf_topk; Cormack et al. 2009): BM25 top-50 and cosine
    top-50 for one query fused by reciprocal-rank fusion — the
    two-tower RAG merge. Both rankers reuse their already-green
    oracle formulations; fusion is exact rank arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    return S.hybrid_rrf_topk(
        docs, emb, ["join", "vector", "filter"],
        query_vec_id=0, k=10, depth=50,
    )


_DECON_K = 4


@register(
    "benchmark_contaminated_spans",
    rf"""
    WITH corpus AS (
      SELECT doc_id, {_DUCK_TOKS.format(col='lower(text)')} AS toks
      FROM documents WHERE doc_id % 37 <> 0
    ), btoks AS (
      SELECT {_DUCK_TOKS.format(col='lower(text)')} AS toks
      FROM documents WHERE doc_id % 37 = 0
    ), bg AS (
      SELECT DISTINCT {_DUCK_H64.format(col='g')} AS h
      FROM (
        SELECT unnest([array_to_string(toks[i:i+{_DECON_K - 1}], ' ')
                       for i in range(1, greatest(len(toks) - {_DECON_K - 1},
                                                  0) + 1)]) AS g
        FROM btoks)
    ), g AS (
      SELECT doc_id, toks,
             unnest([struct_pack(
                 pos := i - 1,
                 h := {_DUCK_H64.format(
                     col=f"array_to_string(toks[i:i+{_DECON_K - 1}], ' ')")})
               for i in range(1, greatest(len(toks) - {_DECON_K - 1}, 0) + 1)])
               AS s
      FROM corpus
    ), ex AS (
      SELECT doc_id, toks, s.pos AS pos, s.h AS h FROM g
    ), fl AS (
      SELECT * FROM ex WHERE h IN (SELECT h FROM bg)
    ), isl AS (
      SELECT *,
             CASE WHEN pos - lag(pos) OVER (
               PARTITION BY doc_id ORDER BY pos) <= {_DECON_K}
               THEN 0 ELSE 1 END AS ni
      FROM fl
    ), isl2 AS (
      SELECT *, sum(ni) OVER (
        PARTITION BY doc_id ORDER BY pos
        ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    )
    SELECT doc_id,
           min(pos) AS span_start,
           max(pos) + {_DECON_K - 1} AS span_end,
           CAST(count(*) AS BIGINT) AS n_grams,
           array_to_string(
             any_value(toks)[min(pos) + 1 : max(pos) + {_DECON_K}], ' ')
             AS span_tokens
    FROM isl2 GROUP BY doc_id, island
    """,
)
def q_benchmark_contaminated_spans(spark, sf_dir):
    """Span-grain decontamination (llm/curation.py:contaminated_spans;
    Lee et al. 2022 §4): corpus spans whose 4-gram windows appear in
    a simulated benchmark slice (doc_id % 37 == 0), merged to maximal
    per-doc spans — the exact ranges a span-removal pass would cut,
    where `contamination` only scores whole documents. Broadcast
    benchmark probe; hash-checked including the island merge and the
    reassembled span text."""
    from pos_api_pipeline_spark.llm.curation import contaminated_spans

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    return contaminated_spans(
        docs.filter(F.col("doc_id") % 37 != 0), bench, k=4
    )


@register(
    "span_decontaminated_docs",
    rf"""
    WITH corpus AS (
      SELECT doc_id, {_DUCK_TOKS.format(col='lower(text)')} AS toks
      FROM documents WHERE doc_id % 37 <> 0
    ), btoks AS (
      SELECT {_DUCK_TOKS.format(col='lower(text)')} AS toks
      FROM documents WHERE doc_id % 37 = 0
    ), bg AS (
      SELECT DISTINCT {_DUCK_H64.format(col='g')} AS h
      FROM (
        SELECT unnest([array_to_string(toks[i:i+{_DECON_K - 1}], ' ')
                       for i in range(1, greatest(len(toks) - {_DECON_K - 1},
                                                  0) + 1)]) AS g
        FROM btoks)
    ), g AS (
      SELECT doc_id, toks,
             unnest([struct_pack(
                 pos := i - 1,
                 h := {_DUCK_H64.format(
                     col=f"array_to_string(toks[i:i+{_DECON_K - 1}], ' ')")})
               for i in range(1, greatest(len(toks) - {_DECON_K - 1}, 0) + 1)])
               AS s
      FROM corpus
    ), ex AS (
      SELECT doc_id, s.pos AS pos, s.h AS h FROM g
    ), fl AS (
      SELECT * FROM ex WHERE h IN (SELECT h FROM bg)
    ), isl AS (
      SELECT *,
             CASE WHEN pos - lag(pos) OVER (
               PARTITION BY doc_id ORDER BY pos) <= {_DECON_K}
               THEN 0 ELSE 1 END AS ni
      FROM fl
    ), isl2 AS (
      SELECT *, sum(ni) OVER (
        PARTITION BY doc_id ORDER BY pos
        ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    ), spans AS (
      SELECT doc_id, island, min(pos) AS a,
             max(pos) + {_DECON_K - 1} AS b
      FROM isl2 GROUP BY doc_id, island
    ), cuts AS (
      SELECT doc_id, list(struct_pack(a := a, b := b)) AS cs
      FROM spans GROUP BY doc_id
    ), joined AS (
      SELECT c.doc_id, c.toks, coalesce(cuts.cs, []) AS cs
      FROM corpus c LEFT JOIN cuts ON c.doc_id = cuts.doc_id
    )
    SELECT doc_id,
           -- DuckDB array_to_string([]) is NULL, Spark array_join is ''
           coalesce(array_to_string(
             [toks[i] for i in range(1, len(toks) + 1)
              if len(list_filter(cs,
                     s -> i - 1 >= s.a AND i - 1 <= s.b)) = 0], ' '), '')
             AS cleaned,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(toks) - len(
             [toks[i] for i in range(1, len(toks) + 1)
              if len(list_filter(cs,
                     s -> i - 1 >= s.a AND i - 1 <= s.b)) = 0])
             AS BIGINT) AS n_tokens_removed
    FROM joined
    """,
)
def q_span_decontaminated_docs(spark, sf_dir):
    """Applied span decontamination (llm/curation.py:
    remove_contaminated_spans): every corpus document rebuilt with
    its benchmark-overlap ranges excised — surviving tokens
    re-joined, removal counts carried. The oracle replays the span
    derivation AND the excision comprehension, so the cleaned text
    itself hash-matches."""
    from pos_api_pipeline_spark.llm.curation import (
        remove_contaminated_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    return remove_contaminated_spans(
        docs.filter(F.col("doc_id") % 37 != 0), bench, k=4
    )
