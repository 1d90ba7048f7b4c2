"""SWAR-packed SimHash vote sums (llm/dedup.py simhash_table): 16
packed 4-lane words instead of 64 per-bit sums. Contract:
bit-identical fingerprints vs the per-bit scalar ``simhash`` column
and a clear error at the 32768-tokens/doc lane-overflow limit.
"""

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from pos_api_pipeline_spark.llm import dedup as D


def _mixed_corpus(spark, seed=11, n=60):
    """Docs with varied token counts (odd AND even, so vote ties are
    exercised), repeated tokens, mixed case, and unicode."""
    rng = random.Random(seed)
    words = [
        "the", "quick", "brown", "fox", "Fox", "ÀGUA", "straße",
        "jumps", "over", "lazy", "dog", "42", "x", "émigré",
    ]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 24))))
        for i in range(n)
    ]
    rows += [(n, ""), (n + 1, "one"), (n + 2, "tie tie bit bit")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _table_vs_perbit(docs):
    """SWAR ``simhash_table`` fingerprints and the per-bit scalar
    ``simhash`` column's, keyed by doc id (zero-token docs drop from
    the table, so the reference keeps only ids the table has)."""
    table = {r["id"]: r["sh"] for r in D.simhash_table(docs).collect()}
    perbit = {
        r["doc_id"]: r["sh"]
        for r in docs.select("doc_id", D.simhash("text").alias("sh")).collect()
        if r["doc_id"] in table
    }
    return table, perbit


def test_swar_bit_parity_with_perbit(spark):
    swar, perbit = _table_vs_perbit(_mixed_corpus(spark))
    assert swar == perbit
    assert len(swar) > 0


def test_swar_parity_with_scalar_simhash(spark):
    table, scalar = _table_vs_perbit(_mixed_corpus(spark, seed=23, n=25))
    assert table == scalar


def test_swar_keep_cols_carried(spark):
    docs = _mixed_corpus(spark, seed=5, n=10).withColumn(
        "grp", F.col("doc_id") % 3
    )
    rows = D.simhash_table(docs, keep_cols=("grp",)).collect()
    assert {r["grp"] for r in rows} <= {0, 1, 2}
    assert all(r["sh"] is not None for r in rows)


def test_swar_token_limit_guard(spark):
    big = " ".join(f"w{i}" for i in range(D._SWAR_TOKEN_LIMIT))
    docs = spark.createDataFrame(
        [(0, "small doc"), (1, big)], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="tokens per document"):
        D.simhash_table(docs).collect()
    # one token under the limit is fine
    ok = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(D._SWAR_TOKEN_LIMIT - 1)))],
        "doc_id long, text string",
    )
    assert D.simhash_table(ok).count() == 1
