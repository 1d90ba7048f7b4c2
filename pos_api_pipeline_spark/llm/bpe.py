"""Distributed BPE tokenizer training — the iterative merge-learning
loop on top of the single-round pair statistic in
``llm.text.merge_pair_counts``.

Algorithm (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units"): start from the character sequence of
every distinct word, repeatedly (1) count adjacent symbol pairs
weighted by word frequency, (2) pick the most frequent pair, (3)
merge its occurrences left-to-right in every word. The merge step
uses the canonical greedy scan-with-skip (a run ``aaaaa`` under merge
(a,a) becomes ``aa aa a``, never ``aa a aa``) expressed as a Catalyst
``aggregate`` fold with a (out, skip) struct accumulator — no Python
touches a word.

Scale shape: the working set is the WORD VOCABULARY (word, count,
symbol array), not the corpus — built with one explode + one shuffle,
then every round is one weighted pair aggregation (map-side
combinable, shuffle = one row per distinct pair per partition) plus a
small ``collect`` of the top pairs (driver state, like the rounds of
``dedup.connected_components``); one round applies a whole batch of
provably sequential-equal merges. The vocabulary is localCheckpointed
each round so the fold lineage stays one round deep instead of
nesting ``n_merges`` expression trees.

Determinism: ties on pair count break on (left, right) symbol order,
so the learned merge table is a pure function of the corpus on every
engine and partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pos_api_pipeline_spark.llm.text import tokens


def bpe_word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n, seq) working vocabulary: distinct lowercased
    whitespace tokens with corpus frequencies and their initial
    character sequences. One explode + one shuffle on the word."""
    words = docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    seq = F.filter(F.split(F.col("word"), ""), lambda ch: ch != "")
    return vocab.withColumn("seq", seq)


def merge_pair_in_seq(seq: Column, left: str, right: str) -> Column:
    """Canonical BPE merge of one pair inside a symbol array: scan
    left to right, replace each (left, right) adjacency with the
    concatenated symbol, skip the consumed element (non-overlapping,
    leftmost-first). Pure Catalyst fold — accumulator is a
    (out array, skip boolean) struct; ``F.get`` (0-based, null out of
    range) keeps the lookahead ANSI-safe."""
    n = F.size(seq)
    return F.aggregate(
        F.sequence(F.lit(0), n - 1),
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(False).alias("skip"),
        ),
        lambda acc, i: F.when(
            acc["skip"],
            F.struct(acc["out"].alias("out"), F.lit(False).alias("skip")),
        ).otherwise(
            F.when(
                (F.get(seq, i) == F.lit(left))
                & (F.get(seq, i + 1) == F.lit(right)),
                F.struct(
                    F.concat(
                        acc["out"], F.array(F.lit(left + right))
                    ).alias("out"),
                    F.lit(True).alias("skip"),
                ),
            ).otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(F.get(seq, i))).alias("out"),
                    F.lit(False).alias("skip"),
                )
            )
        ),
        lambda acc: acc["out"],
    )


def _weighted_pair_counts(vocab: DataFrame) -> DataFrame:
    """(left, right, total) adjacent-pair frequencies over the symbol
    sequences, weighted by word count. Overlapping adjacencies all
    count (canonical get_stats semantics)."""
    seq = F.col("seq")
    n1 = F.greatest(F.size(seq) - F.lit(1), F.lit(0))
    pairs = F.zip_with(
        F.slice(seq, 1, n1),
        F.slice(seq, 2, n1),
        lambda a, b: F.struct(a.alias("left"), b.alias("right")),
    )
    ex = vocab.select("n", F.explode_outer(pairs).alias("p")).filter(
        F.col("p").isNotNull()
    )
    return ex.groupBy("p.left", "p.right").agg(F.sum("n").alias("total"))


def _exact_batch_prefix(
    cands: list[tuple[str, str, int]],
    truncated: bool,
    existing_merged: set[str],
) -> list[tuple[str, str, int]]:
    """Longest prefix of the descending-(count, left, right) candidate
    list that a single refresh may merge while staying EXACTLY equal
    to sequential BPE.

    Soundness, in three parts:

    1. *Disjointness.* Merging pair p cannot change the count of any
       pair sharing no symbol with p (two pairs cannot overlap a
       corpus position without sharing the symbol at it). The prefix
       is kept pairwise disjoint on {left, right, left+right}, so no
       accepted pair's count moves before its own turn and every
       interacting pair ranks AFTER the prefix.
    2. *No symbol resurrection.* A brand-new pair (x, ab) created by
       merging (a, b) starts from count 0 — unless the symbol ``ab``
       already existed, in which case its old pairs gain occurrences
       and counts can exceed any single old pair's. Multi-char
       symbols only ever come from earlier merges (initial symbols
       are single chars, len(left+right) >= 2), so membership of
       left+right in the driver-held merge table — checked exactly —
       is the complete collision test; colliding candidates end the
       prefix.
    3. *Strict cut.* Every changed count only decreases and every
       new pair inherits at most the old count of ONE interacting
       pair ((x,ab) <= old (x,a); (ab,y) <= old (b,y); (ab,ab) <=
       old (b,a); (ab,cd) <= old (b,c)) — all ranked after the
       prefix, hence <= the first excluded candidate's count. Cutting
       the prefix STRICTLY above that count means nothing changed or
       new can tie an accepted pair and steal its turn through the
       (left, right) tiebreak. Sequential replay inside the batch is
       then forced, with each accepted pair's recorded count exact.
    """
    used: set[str] = set()
    accepted: list[tuple[str, str, int]] = []
    for left, right, total in cands:
        merged = left + right
        if (
            left in used
            or right in used
            or merged in used
            or merged in existing_merged
        ):
            break
        accepted.append((left, right, total))
        used.update((left, right, merged))
    else:
        # Prefix ran off the end of the candidate list. If the list
        # is complete (not truncated), "no next pair" is exact. When
        # truncated, an off-list interacting pair may have a count as
        # high as the list tail's, so the same STRICT cut as the
        # break path must apply at the tail count: a merge in the
        # batch can spawn a new pair tying an accepted candidate and
        # stealing its turn through the (left, right) tiebreak.
        if truncated and accepted:
            cut = cands[-1][2]
            while accepted and accepted[-1][2] <= cut:
                accepted.pop()
        return accepted
    cut = cands[len(accepted)][2]  # first excluded candidate's count
    while accepted and accepted[-1][2] <= cut:
        accepted.pop()
    return accepted


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    batch: int = 64,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the
    ordered merge table [(left, right, pair_count), ...] — driver
    state, like a fitted model. Stops early when no adjacent pair is
    left to merge. Word-internal only (no across-word merges, no
    end-of-word marker — document-level token streams keep words as
    atoms above this layer).

    The pair-count refresh is amortized over up to ``batch`` merges
    per Spark job — EXACT, not approximate: each refresh collects the
    top ``4*batch + 16`` pairs once and accepts only the
    ``_exact_batch_prefix`` that provably replays sequential BPE
    (pairwise-disjoint symbols, strict count cut at the first
    excluded candidate). Adversarial tie-heavy corpora degrade
    gracefully to one merge per refresh; natural text keeps tens of
    disjoint top pairs per refresh, so a 32k-merge vocabulary needs
    ~hundreds of Spark jobs instead of 32k.

    Driver state stays O(model): ``4*batch + 16`` collected rows per
    refresh and the merge table itself.
    """
    vocab = bpe_word_vocab(docs, text_col).localCheckpoint(eager=False)
    merges: list[tuple[str, str, int]] = []
    top_n = 4 * batch + 16
    while len(merges) < n_merges:
        cands = [
            (r.left, r.right, int(r.total))
            for r in (
                _weighted_pair_counts(vocab)
                .orderBy(F.desc("total"), F.asc("left"), F.asc("right"))
                .limit(top_n)
                .collect()
            )
        ]
        if not cands:
            break
        accepted = _exact_batch_prefix(
            cands,
            truncated=len(cands) == top_n,
            existing_merged={l + r for l, r, _ in merges},
        )
        if not accepted:
            # Strict cut rejected even the top pair (a tie right at
            # the head): fall back to the sequential step, which is
            # always exact.
            accepted = cands[:1]
        accepted = accepted[: n_merges - len(merges)]
        merges.extend(accepted)
        col = F.col("seq")
        for left, right, _ in accepted:
            col = merge_pair_in_seq(col, left, right)
        vocab = vocab.withColumn("seq", col).localCheckpoint(eager=False)
    return merges


# Sentinels for the string-fold fast path: every symbol is WRAPPED in
# US (so a word is ``␟a␟␟e␟``), words join with RS. Both sentinels are
# stripped from input text first. The wrapping matters: merge patterns
# start with ``US+left`` and a US immediately precedes a char only at
# a symbol START, so a pattern can never match the suffix of a longer
# symbol (with a bare single-separator join, merging (e,e) after (a,e)
# would corrupt ``ae␟e`` via its embedded ``e␟e`` — caught by the
# roundtrip property test).
_US = "\x1f"
_RS = "\x1e"


def _wrap_seq(arr: Column) -> Column:
    """['a','e'] -> '␟a␟␟e␟' (empty array -> '')."""
    joined = F.array_join(F.transform(arr, lambda x: F.concat(F.lit(_US), x, F.lit(_US))), "")
    return joined


def _doc_symbol_string(text_col: str) -> Column:
    """The whole lowercased document as one wrapped-symbol string:
    each char wrapped in US inside each word, words joined by RS."""
    c = F.lower(F.col(text_col))
    c = F.replace(F.replace(c, F.lit(_US)), F.lit(_RS))
    toks = tokens(c)
    per_word = F.transform(
        toks,
        lambda w: _wrap_seq(F.filter(F.split(w, ""), lambda ch: ch != "")),
    )
    return F.array_join(per_word, _RS)


def apply_merges_joined(
    col: Column, merges: list[tuple[str, str, int]] | list[tuple[str, str]]
) -> Column:
    """Apply an ordered BPE merge table to a separator-joined symbol
    string via a chain of ``replace`` calls.

    This is exactly the canonical greedy scan-with-skip: string
    ``replace`` substitutes leftmost-first, non-overlapping, and
    resumes AFTER the inserted text — so a run of five wrapped ``a``
    symbols under merge (a,a) becomes ``aa aa a``, matching
    ``merge_pair_in_seq``'s fold (property-tested). The pattern
    ``␟left␟␟right␟`` anchors on the wrapping US, so it can only ever
    consume two WHOLE adjacent symbols. Unlike the fold, the whole chain stays one
    codegen'd string expression with no per-element struct traffic —
    the shape you want when encoding a 100 TB corpus with a learned
    tokenizer of thousands of merges (chunk the chain with
    localCheckpoint every few hundred merges to bound plan depth).
    DuckDB's ``replace`` has identical semantics, which is what makes
    the trained-tokenizer encoding oracle-able.
    """
    out = col
    for m in merges:
        left, right = m[0], m[1]
        out = F.replace(
            out,
            F.lit(_US + left + _US + _US + right + _US),
            F.lit(_US + left + right + _US),
        )
    return out


def bpe_encode_corpus(
    docs: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode every document with a learned merge table: the ordered
    subword token stream plus the stats a data-mixing layer needs
    (whitespace word count, BPE token count, chars-per-token ratio —
    the 'fertility' that decides packing budgets).

    Direct per-document form: one string-expression chain over the
    corpus, no join, no shuffle — encoding is embarrassingly parallel.
    """
    enc = apply_merges_joined(_doc_symbol_string(text_col), merges)
    toks = F.filter(
        F.split(enc, f"[{_US}{_RS}]"), lambda t: t != ""
    )
    return docs.select(
        F.col(id_col),
        F.size(tokens(F.lower(F.col(text_col)))).cast("long").alias("n_words"),
        F.size(toks).cast("long").alias("n_tokens"),
        toks.alias("bpe_tokens"),
    )
