"""Units for llm/curation.py: repetition stats, decontamination,
PII redaction, normalization — hand-computed expectations on tiny
frames; the sf-scale hash gate lives in the registry oracles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pos_api_pipeline_spark.llm.curation import (
    contamination,
    decontaminate,
    normalize_text,
    redact_pii,
    repetition_stats,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_repetition_stats_hand_computed(spark):
    # "a a a b": bigrams = [a a, a a, a b] → 3 total, 2 distinct,
    # top count 2 → dup 1/3, top 2/3. "x" is too short: zero grams,
    # null fractions.
    out = {
        r.doc_id: r
        for r in repetition_stats(_docs(spark, ["a a a b", "x"]), n=2).collect()
    }
    r0 = out[0]
    assert (r0.n_ngrams, r0.n_distinct, r0.top_count) == (3, 2, 2)
    assert abs(r0.dup_ngram_fraction - (1 - 2 / 3)) < 1e-12
    assert abs(r0.top_ngram_fraction - 2 / 3) < 1e-12
    r1 = out[1]
    assert (r1.n_ngrams, r1.top_count) == (0, 0)
    assert r1.dup_ngram_fraction is None and r1.top_ngram_fraction is None


def test_contamination_hand_computed(spark):
    docs = _docs(spark, ["x y z w", "p q r s", "t"])
    bench = spark.createDataFrame([("y z",)], "text string")
    out = {r.doc_id: r for r in contamination(docs, bench, n=2).collect()}
    # doc0 bigrams {x y, y z, z w}; bench contributes {y z} → 1/3.
    assert out[0].n_shingles == 3 and out[0].n_contaminated == 1
    assert abs(out[0].contamination_fraction - 1 / 3) < 1e-12
    assert out[1].n_contaminated == 0
    # Too-short doc survives with zeros, not a dropped row.
    assert out[2].n_shingles == 0 and out[2].contamination_fraction == 0.0


def test_decontaminate_default_drops_any_overlap(spark):
    docs = _docs(spark, ["x y z w", "p q r s"])
    bench = spark.createDataFrame([("y z",)], "text string")
    kept = decontaminate(docs, bench, n=2).collect()
    assert [r.doc_id for r in kept] == [1]


def test_redact_pii_all_three_types(spark):
    df = _docs(spark, ["mail a.b@ex.com ip 10.0.0.1 tel 555-123-4567 end"])
    r = redact_pii(df).collect()[0]
    assert (r.n_emails, r.n_ips, r.n_phones) == (1, 1, 1)
    assert r.redacted == "mail <EMAIL> ip <IP> tel <PHONE> end"
    # Original text column is untouched.
    assert "ex.com" in r.text


def test_redact_pii_order_ip_before_phone(spark):
    # Dotted phone style and an IP in one text: the IP must be
    # consumed by the IP pattern, the phone by the phone pattern.
    df = _docs(spark, ["call 555.123.4567 from 192.168.1.200"])
    r = redact_pii(df).collect()[0]
    assert r.redacted == "call <PHONE> from <IP>"
    assert (r.n_ips, r.n_phones) == (1, 1)


def test_redact_pii_phone_format_variants(spark):
    # Parenthesized area code, space separators, +1 / 1 prefixes —
    # under-redaction is the unsafe direction for PII.
    df = _docs(
        spark,
        [
            "a (555) 123-4567 b",
            "a 555 123 4567 b",
            "a +1-555-123-4567 b",
            "a 1 555 123 4567 b",
            "a 555.123.4567 b",
        ],
    )
    rows = sorted(redact_pii(df).collect(), key=lambda r: r.doc_id)
    for r in rows:
        assert r.redacted == "a <PHONE> b", r.text
        assert r.n_phones == 1


def test_redact_pii_overlapping_span_counted_once(spark):
    # A span matching both the email and phone patterns is attributed
    # to the pattern that consumed it: counts sum to replacements.
    df = _docs(spark, ["reach 555-123-4567@ex.com now"])
    r = redact_pii(df).collect()[0]
    assert r.redacted == "reach <EMAIL> now"
    assert (r.n_emails, r.n_ips, r.n_phones) == (1, 0, 0)
    assert r.n_emails + r.n_ips + r.n_phones == r.redacted.count("<")


def test_normalize_text_hand_computed(spark):
    df = _docs(spark, ["  Hello\t WORLD \x01 again  "])
    r = normalize_text(df).collect()[0]
    assert r.normalized == "hello world again"
    assert r.n_chars_raw == len("  Hello\t WORLD \x01 again  ")
    assert r.n_chars_norm == len("hello world again")


def test_extract_urls_and_domain_counts(spark):
    from pos_api_pipeline_spark.llm.curation import domain_counts, extract_urls

    docs = _docs(
        spark,
        [
            "read https://WWW.Example.com/a/b and http://cdn.example.net:8080/x now",
            "plain text no links",
            "again https://www.example.com/c",
        ],
    )
    urls = extract_urls(docs).collect()
    assert len(urls) == 3
    assert {r.domain for r in urls} == {"www.example.com", "cdn.example.net"}
    # Host lowercased; port/path stripped from domain, kept in url.
    ex = [r for r in urls if r.doc_id == 0 and "cdn" in r.url][0]
    assert ex.url == "http://cdn.example.net:8080/x"
    assert ex.domain == "cdn.example.net"

    counts = {r.domain: r for r in domain_counts(docs).collect()}
    assert counts["www.example.com"].n_urls == 2
    assert counts["www.example.com"].n_docs == 2
    assert counts["cdn.example.net"].n_urls == 1


def test_remove_boilerplate_lines_hand_computed(spark):
    from pos_api_pipeline_spark.llm.curation import (
        line_document_frequency,
        remove_boilerplate_lines,
    )

    docs = _docs(
        spark,
        [
            "unique zero\nSHARED FOOTER\nmiddle zero",
            "unique one\nSHARED FOOTER",
            "  SHARED FOOTER  \nunique two",  # trimmed match
            "all alone",
        ],
    )
    df_counts = {
        r.line: r.df for r in line_document_frequency(docs).collect()
    }
    assert df_counts["SHARED FOOTER"] == 3
    assert df_counts["unique zero"] == 1

    out = {
        r.doc_id: r
        for r in remove_boilerplate_lines(docs, max_df=3).collect()
    }
    assert out[0].cleaned == "unique zero\nmiddle zero"
    assert out[0].n_lines == 3 and out[0].n_removed == 1
    assert out[1].cleaned == "unique one"
    assert out[2].cleaned == "unique two"
    assert out[3].cleaned == "all alone" and out[3].n_removed == 0


def test_remove_boilerplate_keeps_all_when_threshold_unmet(spark):
    from pos_api_pipeline_spark.llm.curation import remove_boilerplate_lines

    docs = _docs(spark, ["a\nb", "a\nc"])
    out = {
        r.doc_id: r for r in remove_boilerplate_lines(docs, max_df=3).collect()
    }
    assert out[0].cleaned == "a\nb" and out[0].n_removed == 0
    assert out[1].cleaned == "a\nc"


def test_remove_boilerplate_fully_boilerplate_doc_survives_empty(spark):
    from pos_api_pipeline_spark.llm.curation import remove_boilerplate_lines

    docs = _docs(spark, ["SPAM", "SPAM", "SPAM\nkeep me"])
    out = {
        r.doc_id: r for r in remove_boilerplate_lines(docs, max_df=3).collect()
    }
    assert out[0].cleaned == "" and out[0].n_removed == 1
    assert out[2].cleaned == "keep me"


def test_fix_mojibake_hand_computed(spark):
    from pos_api_pipeline_spark.llm.curation import fix_mojibake

    df = _docs(spark, ["cafÃ© â€” said â€œhiâ€™ 20Â° Ã¸ok"])
    r = fix_mojibake(df).collect()[0]
    # Table entries repaired; the non-table char Ã¸ is left alone.
    assert r.fixed == "café — said “hi’ 20° Ã¸ok"
    assert r.n_chars_fixed <= r.n_chars_raw
    assert r.n_chars_fixed == len(r.fixed)


def test_shared_shingle_stats_hand_computed(spark):
    from pos_api_pipeline_spark.llm.curation import shared_shingle_stats

    docs = _docs(
        spark,
        [
            "one two three four",        # shingles: {one two three, two three four}
            "one two three",             # shingle:  {one two three} — shared with doc 0
            "totally different words here",  # 2 shingles, none shared
            "hi",                        # too short: no shingles
        ],
    )
    out = {r.doc_id: r for r in shared_shingle_stats(docs, n=3).collect()}
    assert (out[0].n_shingles, out[0].n_shared) == (2, 1)
    assert abs(out[0].shared_fraction - 0.5) < 1e-12
    assert (out[1].n_shingles, out[1].n_shared) == (1, 1)
    assert out[1].shared_fraction == 1.0
    assert (out[2].n_shingles, out[2].n_shared) == (2, 0)
    assert out[2].shared_fraction == 0.0
    assert (out[3].n_shingles, out[3].n_shared) == (0, 0)
    assert out[3].shared_fraction is None


def test_repeated_substring_spans_hand_computed(spark):
    from pos_api_pipeline_spark.llm.curation import repeated_substring_spans

    shared = "one two three four five six"  # a 6-token shared block
    docs = _docs(
        spark,
        [
            f"alpha {shared} beta",
            f"gamma delta {shared}",
            "nothing in common here at all friends",
        ],
    )
    out = [
        r
        for r in repeated_substring_spans(docs, k=4, min_docs=2).collect()
    ]
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {0, 1}
    # doc 0: tokens [alpha one two three four five six beta]; shared
    # 4-gram windows start at positions 1,2,3 → one island, span 1..6.
    (s0,) = by_doc[0]
    assert (s0.span_start, s0.span_end, s0.n_grams) == (1, 6, 3)
    assert s0.span_tokens == shared
    (s1,) = by_doc[1]
    assert (s1.span_start, s1.span_end) == (2, 7)
    assert s1.span_tokens == shared


def test_repeated_substring_spans_merges_adjacent_islands(spark):
    from pos_api_pipeline_spark.llm.curation import repeated_substring_spans

    a = "p q r s"          # shared 4-gram A
    b = "w x y z"          # shared 4-gram B
    docs = _docs(
        spark,
        [
            f"{a} filler1 filler2 filler3 filler4 filler5 {b}",
            f"{a} other tokens here",
            f"{b} more other tokens",
        ],
    )
    spans = {
        (r.span_start, r.span_end)
        for r in repeated_substring_spans(docs, k=4, min_docs=2).collect()
        if r.doc_id == 0
    }
    # A at 0..3 and B at 9..12 are separated by > k → two islands.
    assert spans == {(0, 3), (9, 12)}


def test_repeated_substring_strategies_agree(spark):
    """Two docs sharing a 10-token prefix get exactly one span each;
    the doc with no overlap gets none."""
    from pos_api_pipeline_spark.llm.curation import repeated_substring_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, shared + " unique tail zero zero0 zero1 zero2 zero3"),
        (1, shared + " other ending one one1 one2 one3 one4"),
        (2, "completely different words with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = repeated_substring_spans(df, k=4).collect()
    assert len(spans) == 2  # docs 0 and 1 share one span each


def test_contaminated_spans_surgical_ranges(spark):
    """Span-grain decontamination finds exactly the benchmark-overlap
    ranges, not whole documents; clean docs produce no spans."""
    from pos_api_pipeline_spark.llm.curation import contaminated_spans

    leak = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (0, "intro words here " + leak + " and an original ending"),
            (1, "totally original content with no benchmark overlap"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, leak)], "doc_id long, text string")
    out = contaminated_spans(docs, bench, k=4).collect()
    assert len(out) == 1
    r = out[0]
    assert r.doc_id == 0
    # leak is tokens 3..11 of doc 0 (0-based inclusive)
    assert (r.span_start, r.span_end) == (3, 11)
    assert r.span_tokens == leak


def test_remove_contaminated_spans_excises_only_the_leak(spark):
    from pos_api_pipeline_spark.llm.curation import (
        remove_contaminated_spans,
    )

    leak = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (0, "intro words here " + leak + " and an original ending"),
            (1, "totally original content with no benchmark overlap"),
            (2, ""),  # empty doc must pass through untouched
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, leak)], "doc_id long, text string")
    out = {r.doc_id: r for r in
           remove_contaminated_spans(docs, bench, k=4).collect()}
    assert out[0].cleaned == "intro words here and an original ending"
    assert out[0].n_tokens_removed == 9
    assert out[1].cleaned == (
        "totally original content with no benchmark overlap"
    )
    assert out[1].n_tokens_removed == 0
    assert out[2].cleaned == "" and out[2].n_tokens_removed == 0


def test_remove_contaminated_spans_null_text_normalized(spark):
    """NULL text must come back uniformly normalized (cleaned='',
    n_tokens=0) — not size(NULL)=-1 / cleaned=NULL (ADVICE r6)."""
    from pos_api_pipeline_spark.llm.curation import (
        remove_contaminated_spans,
    )

    leak = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(0, leak), (1, None)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(9, leak)], "doc_id long, text string")
    out = {r.doc_id: r for r in
           remove_contaminated_spans(docs, bench, k=4).collect()}
    assert out[1].cleaned == ""
    assert out[1].n_tokens == 0 and out[1].n_tokens_removed == 0


@pytest.mark.parametrize("k", [0, -1])
def test_repeated_substring_spans_rejects_nonpositive_k(spark, k):
    # unchecked, 0 yields spans that end before they start and -1
    # fails inside an executor task; both must fail on the driver
    from pos_api_pipeline_spark.llm.curation import repeated_substring_spans

    df = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="k must be"):
        repeated_substring_spans(df, k=k)
