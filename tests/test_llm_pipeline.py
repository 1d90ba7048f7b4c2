"""End-to-end training-set materialization units."""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark):
    rows = []
    for i in range(40):
        # stopword-bearing filler so the Gopher probe passes; unique
        # tail so near-dup pruning doesn't collapse everything.
        body = f"the data and value of run {i} " + " ".join(
            f"tok{i}x{j}" for j in range(12)
        )
        rows.append((i, body))
    rows.append((100, rows[0][1]))           # exact dup of doc 0
    rows.append((101, "tiny"))               # fails min_words
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curate_filters_dedups_and_respects_budget(spark):
    from pos_api_pipeline_spark.llm.pipeline import curate

    out = curate(_docs(spark), budget_tokens=300).collect()
    ids = {r.doc_id for r in out}
    assert 101 not in ids                   # rule-filtered
    assert 100 not in ids and 0 in ids      # exact dup dropped, low id kept
    assert sum(r.n_words for r in out) <= 300
    assert all(r.n_words > 0 for r in out)


def test_materialize_training_set_layout_and_stats(spark, tmp_path):
    from pos_api_pipeline_spark.llm.pipeline import (
        materialize_training_set,
        training_set_stats,
    )

    out_dir = str(tmp_path / "train")
    mat = materialize_training_set(
        _docs(spark), out_dir, budget_tokens=700, seq_budget=64, n_shards=4
    )
    rows = mat.collect()
    assert rows and set(mat.columns) >= {
        "doc_id", "text", "n_tokens", "pack_id", "start_offset", "shard"
    }
    # partitioned layout on disk, one dir per non-empty shard
    import os

    shards = {d for d in os.listdir(out_dir) if d.startswith("shard=")}
    assert shards == {f"shard={r.shard}" for r in rows}
    # packing coordinates: offsets live inside the sequence budget
    assert all(0 <= r.start_offset < 64 for r in rows)
    stats = training_set_stats(mat).collect()
    assert sum(s.n_docs for s in stats) == len(rows)
    # rerun is idempotent (full static rewrite, hash shards)
    mat2 = materialize_training_set(
        _docs(spark), out_dir, budget_tokens=700, seq_budget=64, n_shards=4
    )
    assert sorted((r.doc_id, r.shard, r.pack_id) for r in mat2.collect()) == \
           sorted((r.doc_id, r.shard, r.pack_id) for r in rows)


def test_corpus_curation_tick_lifecycle(spark, tmp_path):
    from pos_api_pipeline_spark.llm.pipeline import run_corpus_curation_tick

    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "band_index")

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def doc(i):
        return f"the data and value of run {i} " + " ".join(
            f"w{i}x{j}" for j in range(12)
        )

    # Tick 1: empty lake — everything that passes the rules lands.
    day1 = batch([(i, doc(i)) for i in range(10)] + [(99, "too short")])
    r1 = run_corpus_curation_tick(spark, day1, corpus, index)
    assert r1["cross_corpus_dedup_task"] == "skipped"
    assert r1["append_task"] == "success" and r1["n_appended"] == 10
    assert spark.read.parquet(corpus).count() == 10

    # Tick 2: one brand-new doc, one exact replay of doc 3, one
    # near-dup of doc 5 (one word changed) — only the new doc lands.
    near = doc(5).replace("w5x9", "w5x9CHANGED")
    day2 = batch([(200, doc(200)), (201, doc(3)), (202, near)])
    r2 = run_corpus_curation_tick(spark, day2, corpus, index)
    assert r2["cross_corpus_dedup_task"] == "success"
    assert r2["n_appended"] == 1
    kept = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert 200 in kept and 201 not in kept and 202 not in kept

    # Tick 3: replaying day 2 appends nothing (idempotent).
    r3 = run_corpus_curation_tick(spark, day2, corpus, index)
    assert r3["n_appended"] == 0 and r3["append_task"] == "skipped"
    assert spark.read.parquet(corpus).count() == 11


def test_corpus_tick_raises_on_unreadable_corpus(spark, tmp_path):
    """Only a missing corpus means first tick: a corpus holding a file
    that is not parquet fails the tick, and nothing is appended to the
    corpus or the band index."""
    import pytest

    from pos_api_pipeline_spark.llm.pipeline import run_corpus_curation_tick

    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "band_index")

    def doc(i):
        return f"the data and value of run {i} " + " ".join(
            f"w{i}x{j}" for j in range(12)
        )

    def batch(ids):
        return spark.createDataFrame(
            [(i, doc(i)) for i in ids], "doc_id long, text string"
        )

    run_corpus_curation_tick(spark, batch(range(3)), corpus, index)
    (tmp_path / "corpus" / "part-0.parquet").write_bytes(b"not a parquet file")

    def snapshot():
        return {
            p.relative_to(tmp_path): p.read_bytes()
            for p in tmp_path.rglob("*")
            if p.is_file()
        }

    before = snapshot()
    with pytest.raises(Exception):
        run_corpus_curation_tick(spark, batch(range(10, 13)), corpus, index)
    assert snapshot() == before


def test_corpus_tick_prunes_intra_delta_near_dups(spark, tmp_path):
    """Two near-dup (non-identical) docs arriving in the SAME tick:
    only the lower id survives — the standing index can't catch them
    (it only knows the corpus), so the tick must dedupe the delta
    itself."""
    from pos_api_pipeline_spark.llm.pipeline import run_corpus_curation_tick

    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "band_index")

    def doc(i):
        return f"the data and value of run {i} " + " ".join(
            f"w{i}x{j}" for j in range(12)
        )

    # doc(5) vs its one-word variant is a known band collider (the
    # lifecycle test's standing index catches the same pair).
    near = doc(5).replace("w5x9", "w5x9CHANGED")
    day = spark.createDataFrame(
        [(5, doc(5)), (6, near), (3, doc(3))], "doc_id long, text string"
    )
    r = run_corpus_curation_tick(spark, day, corpus, index)
    assert r["n_appended"] == 2
    kept = {row.doc_id for row in spark.read.parquet(corpus).collect()}
    assert kept == {3, 5}  # 6 pruned inside the delta, lowest id wins


def test_materialize_smaller_rerun_leaves_no_stale_shards(spark, tmp_path):
    """A re-run with a smaller budget must fully replace the output —
    static overwrite; stale shard dirs from the bigger run must not
    leak into the read-back."""
    from pos_api_pipeline_spark.llm.pipeline import materialize_training_set

    out_dir = str(tmp_path / "train")
    big = materialize_training_set(
        _docs(spark), out_dir, budget_tokens=700, seq_budget=64, n_shards=8
    )
    n_big = big.count()
    small = materialize_training_set(
        _docs(spark), out_dir, budget_tokens=60, seq_budget=64, n_shards=8
    )
    rows = small.collect()
    assert 0 < len(rows) < n_big
    # read-back contains ONLY the small run's docs
    assert sum(r.n_tokens for r in rows) <= 60
