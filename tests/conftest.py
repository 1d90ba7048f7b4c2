from __future__ import annotations

import pytest

from pos_api_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark(
        "tests",
        master="local[4]",
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s


def _union_find_labels(pairs):
    """{node: minimum id in its connected component} for an iterable of
    (a, b) edges: the pure-Python grouping reference that the Spark
    ``connected_components`` and the pair detectors' caps are checked
    against. Attaching the larger root under the smaller keeps every
    root its set's minimum."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.fixture(scope="session")
def cc_reference():
    return _union_find_labels


def _ref_bpe(texts, n_merges):
    """Canonical Sennrich-style BPE over the lowercased whitespace
    words of ``texts``, with the trainer's deterministic tie-break
    (count desc, left, right). Returns (merges, {word: final
    symbols}): the pure-Python reference for ``llm.bpe``."""
    word_counts = {}
    for t in texts:
        for w in t.lower().split():
            word_counts[w] = word_counts.get(w, 0) + 1

    def apply(syms, l, r):
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    vocab = {w: list(w) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + word_counts[w]
        if not counts:
            break
        (l, r), total = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((l, r, total))
        vocab = {w: apply(s, l, r) for w, s in vocab.items()}
    return merges, vocab


@pytest.fixture(scope="session")
def bpe_reference():
    return _ref_bpe


def _sq8_codes(emb, dim):
    """{vec_id: codes} of ``emb`` as ``sq8_topk``'s fused projection
    quantizes it: the same stats row and per-component code."""
    from pyspark.sql import functions as F

    from pos_api_pipeline_spark.llm.similarity import (
        _sq8_code,
        _sq8_pairs,
        as_double_array,
        sq8_minmax,
    )

    st = sq8_minmax(emb, dim)
    coded = emb.crossJoin(F.broadcast(st)).select(
        "vec_id",
        F.zip_with(as_double_array("embedding"), _sq8_pairs(), _sq8_code).alias(
            "codes"
        ),
    )
    return {r.vec_id: r.codes for r in coded.collect()}


@pytest.fixture(scope="session")
def sq8_codes():
    return _sq8_codes
