"""A/B the r12 SAMPLED collapse probe against the r11 full probe.

For each corpus (text and vector, replica-dense and all-distinct,
single-file and a 32-file rewrite), measure:

- full-probe distinct ratio + wall time (the r11 behavior: one
  count+HLL pass over the whole corpus),
- sampled-probe ratio + wall time (r12: count+HLL over a
  stride-picked ≤32-file subset, escalating to the full probe only
  inside the (0.75, 0.95] gray band; single-file corpora fall back
  to the full probe by design),
- the resulting collapse decisions and whether they AGREE.

Writes BENCH_collapse_probe_r12.json. The multi-file rewrites land
under scale_data/probe_ab/ (gitignored, regenerable scratch).

Usage: python tools/collapse_probe_ab.py [OUT.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pos_api_pipeline_spark.llm import dedup as D  # noqa: E402
from pos_api_pipeline_spark.session import get_spark, read_parquet  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(REPO, "scale_data", "probe_ab")

#: (name, source parquet, probe column). Regimes covered:
#: driver documents = near-distinct text (0.16 % dups);
#: exact-replica text = 10-way byte-identical texts (built below
#: from the driver corpus, scale_up --exact-text semantics);
#: sf1 embeddings = 10-way byte-identical vectors (replica-dense);
#: sf1p embeddings = the perturbed all-distinct twin.
CORPORA = [
    ("documents_sf0.1", "/root/testdata/sf0.1/documents.parquet", "text"),
    ("embeddings_sf1_replica", os.path.join(REPO, "scale_data/sf1/embeddings.parquet"), "embedding"),
    ("embeddings_sf1p_distinct", os.path.join(REPO, "scale_data/sf1p/embeddings.parquet"), "embedding"),
]


def _probe_full(df, col):
    t0 = time.perf_counter()
    ratio = D._distinct_ratio(df, col)
    return ratio, time.perf_counter() - t0


def _probe_sampled(df, col):
    """Mirror _resolve_collapse's sampled path, reporting which arm
    ran: 'sampled', 'escalated' (gray band → full), or
    'fallback_full' (not file-subsettable)."""
    t0 = time.perf_counter()
    sampled = D._sampled_probe_frame(df, col, df.inputFiles())
    if sampled is None:
        ratio = D._distinct_ratio(df, col)
        return ratio, time.perf_counter() - t0, "fallback_full", None
    ratio = D._distinct_ratio(sampled, col)
    sampled_ratio = ratio
    mode = "sampled"
    if D.COLLAPSE_AUTO_MAX_DISTINCT < ratio <= D.COLLAPSE_ESCALATE_MAX:
        ratio = D._distinct_ratio(df, col)
        mode = "escalated"
    return ratio, time.perf_counter() - t0, mode, sampled_ratio


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "BENCH_collapse_probe_r12.json"
    )
    spark = get_spark("collapse-probe-ab")
    os.makedirs(SCRATCH, exist_ok=True)

    # Exact-replica TEXT corpus: 10 byte-identical copies of the
    # driver documents (text grain only — ids shifted), the text twin
    # of scale_data/sf1's replica-dense embeddings.
    rep_text = os.path.join(SCRATCH, "documents_replica")
    if not os.path.isdir(rep_text):
        docs = read_parquet(spark, "/root/testdata/sf0.1/documents.parquet")
        n = docs.count()
        from pyspark.sql import functions as F

        reps = spark.range(10).withColumnRenamed("id", "rep")
        (
            docs.select("doc_id", "text")
            .crossJoin(reps)
            .select(
                (F.col("doc_id") + F.col("rep") * F.lit(10_000_000)).alias("doc_id"),
                "text",
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(rep_text)
        )
        print(f"built exact-replica text corpus: {n} docs x 10")

    # Synthetic regime corpora: text = id % mod over 10k rows,
    # scattered across 32 files (12.5% file sample → p=0.125).
    # synth_5way_scatter: mod 2000 → every text 5-way (ratio 0.2);
    # the sample reads ~0.70 — still ≤0.75, collapses directly.
    # synth_3way_band: mod 3333 → 3-way families (ratio ~0.33); the
    # sample reads ~0.87 — inside (0.75, 0.95] → exercises the
    # ESCALATION arm, which runs the full probe and agrees.
    # synth_2way_boundary: mod 7000 → 3000 2-way families + 4000
    # singles (ratio 0.7, full probe collapses). Pairwise duplication
    # is nearly invisible to a thin file sample (detecting a family
    # needs both members picked, ~p² at rate p): expected sampled
    # ratio ~0.96, right at the escalation edge — HLL noise resolves
    # it EITHER as a safe-side miss (uncollapsed where full would
    # collapse: plan-speed only, never correctness — collapse is
    # output-neutral) or as an escalation that agrees. Reported
    # separately from the headline agreement.
    synth = {
        "synth_5way_scatter": 2000,
        "synth_3way_band": 3333,
        "synth_2way_boundary": 7000,
    }
    from pyspark.sql import functions as F

    for sname, mod in synth.items():
        path = os.path.join(SCRATCH, sname)
        if not os.path.isdir(path):
            spark.range(10_000).select(
                F.col("id").alias("doc_id"),
                F.concat(
                    F.lit("synthetic corpus text "),
                    (F.col("id") % F.lit(mod)).cast("string"),
                ).alias("text"),
            ).repartition(32).write.mode("overwrite").parquet(path)

    specs = (
        list(CORPORA)
        + [("documents_replica_text", rep_text, "text")]
        + [(s, os.path.join(SCRATCH, s), "text") for s in synth]
    )
    bias_cases = {"synth_2way_boundary"}
    results = {}
    prebuilt_32f = {"documents_replica_text"} | set(synth)
    for name, src, col in specs:
        df = read_parquet(spark, src)
        if name in prebuilt_32f:
            variants = [("multi_file_32", df)]
        else:
            # 32-file rewrite so the sampled path engages (sources
            # are single-file fixtures; at 100 TB every corpus is
            # multi-file).
            multi = os.path.join(SCRATCH, f"{name}_32f")
            if not os.path.isdir(multi):
                df.repartition(32).write.mode("overwrite").parquet(multi)
            variants = [
                ("single_file", df),
                ("multi_file_32", read_parquet(spark, multi)),
            ]
        for variant, frame in variants:
            full_ratio, full_s = _probe_full(frame, col)
            samp_ratio, samp_s, mode, raw_sampled = _probe_sampled(frame, col)
            full_dec = full_ratio <= D.COLLAPSE_AUTO_MAX_DISTINCT
            samp_dec = samp_ratio <= D.COLLAPSE_AUTO_MAX_DISTINCT
            results[f"{name}:{variant}"] = {
                "bias_case": name in bias_cases,
                "n_input_files": len(frame.inputFiles()),
                "full_ratio": round(full_ratio, 4),
                "full_seconds": round(full_s, 3),
                "sampled_ratio": round(samp_ratio, 4),
                "sampled_raw_subset_ratio": (
                    None if raw_sampled is None else round(raw_sampled, 4)
                ),
                "sampled_seconds": round(samp_s, 3),
                "sampled_mode": mode,
                "decision_full": full_dec,
                "decision_sampled": samp_dec,
                "agree": full_dec == samp_dec,
            }
            print(name, variant, results[f"{name}:{variant}"])

    agree = all(
        r["agree"] for r in results.values() if not r["bias_case"]
    )
    payload = {
        "metric": "collapse_probe_decision_agreement",
        "all_agree": agree,
        "n_corpora": len(results),
        "escalate_band": [D.COLLAPSE_AUTO_MAX_DISTINCT, D.COLLAPSE_ESCALATE_MAX],
        "probe_files_cap": D.COLLAPSE_PROBE_MAX_FILES,
        "bias_case_note": (
            "synth_2way_boundary is the DOCUMENTED thin-sampling bias"
            " regime: pairwise-scattered duplication near the 0.75"
            " threshold reads ~0.96 in a 12.5% file sample (family"
            " detection ~p^2), at the escalation edge — it resolves"
            " either as a safe-side uncollapsed plan (speed-only"
            " miss; collapse is output-neutral) or as an escalation"
            " that agrees. Excluded from all_agree; recorded here."
        ),
        "corpora": results,
    }
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=2)
    print(json.dumps({"all_agree": agree, "out": out_path}))


if __name__ == "__main__":
    main()
