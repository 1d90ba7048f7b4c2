"""Physical-plan inventory across EVERY registered query.

Writes PLAN_AUDIT.md: one row per query with scan count, exchange
(shuffle) count, join strategies, window/generate/aggregate presence,
and whole-stage-codegen coverage — the at-a-glance answer to "which
plans would hurt at 100 TB". The targeted property locks live in
tests/test_plans.py; this is the breadth view, regenerated per round.

Also writes PLAN_SNAPSHOT.json — the per-query structural fingerprint
(scan/exchange/join counts; attribute-id-free, so stable run to run)
— and DIFFS it against the previous snapshot: any query whose plan
got structurally worse (more scans, more shuffles, a join degrading
to nested-loop/cartesian) is reported as a regression. This catches
the silent plan pathologies a green correctness gate can't see.

Usage: python tools/plan_audit.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Queries whose nested-loop joins are deliberate one-row-scalar or
# brute-force-baseline broadcasts (see tests/test_plans.py).
SCALAR_BROADCAST_OK = {
    "ann_cosine_topk",
    "lsh_ann_topk",
    "ivf_ann_topk",
    "ivf_recall_at_k",
    "tfidf_top_terms",
    "unigram_logprob_scores",
    # 1-row total-count broadcast for the exact decile formula
    "doc_length_deciles",
    # broadcast n_centroids-row assignment frames (IVF/SemDeDup)
    "ivf_pq_adc_topk",
    "semantic_dedup_survivors",
    # recall measurements embed the brute-force broadcast ground truth
    "ivf_pq_recall_at_k",
    "ivf_trained_recall_at_k",
    # one-row global-threshold broadcast (TPC-H Q22 scalar subquery)
    "dormant_rich_customers",
    # label-aware exact-baseline broadcasts (bounded query set)
    "hard_negatives_topk",
    "knn_label_accuracy",
    "jl_projection_recall",
    # one-row corpus-total broadcast (TPC-H Q11's scalar subquery)
    "important_part_value",
    # one-row token-total broadcasts on both sides of the KL ratio
    "vocab_drift_en",
    # one-row corpus-max-date broadcast for the recency anchor
    "rfm_customer_segments",
    # same, plus the one-row percentile-cuts broadcast
    "rfm_segments_scalable",
    # one-row corpus-total broadcasts (bucket totals / N+avgdl /
    # weight renormalizer) in the DSIR / BM25 / temperature family
    "dsir_log_weights",
    "dsir_resample_top50",
    "temperature_mixture_lang",
    "bm25_topk_docs",
    # broadcast n_centroids-row prototypicality assignment
    "prototype_prune_half",
    # two one-row scalar frames (exact overlap × KMV estimate)
    "kmv_corpus_overlap",
    # one-row SQ8 stats broadcast + deliberate queries × corpus NLJ
    "sq8_adc_topk",
    "sq8_recall_at_k",
    # broadcast n_centroids-row assignment NLJ (cap audit)
    "semantic_cluster_stats",
    # one-row corpus-budget broadcast (water-filling windows)
    "unimax_lang_allocation",
    # bounded brute-force dense ranking + BM25 one-row scalar
    "hybrid_rrf_fusion",
}


def audit_plan(plan: str) -> dict[str, object]:
    return {
        "scans": plan.count("Scan parquet"),
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "window": "Window" in plan,
        "generate": "Generate" in plan,
    }


SNAPSHOT = os.path.join(REPO, "PLAN_SNAPSHOT.json")


def diff_snapshots(prev: dict, cur: dict) -> list[str]:
    """Structural regressions between two snapshot dicts."""
    regressions = []
    for name, c in cur.items():
        p = prev.get(name)
        if p is None:
            continue
        for key, label in (
            ("scans", "parquet scans"),
            ("exchanges", "shuffles"),
            ("cartesian", "CartesianProduct"),
            ("bnlj", "BroadcastNestedLoopJoin"),
            ("smj", "SortMergeJoin"),
        ):
            if c[key] > p[key]:
                regressions.append(
                    f"{name}: {label} {p[key]} -> {c[key]}"
                )
    return regressions


def main() -> int:
    args = list(sys.argv[1:])
    # --accept: advance the snapshot ratchet DESPITE regressions —
    # for deliberate plan changes (e.g. an added repartition that
    # fixes task-level serialization). Requires explicit intent;
    # a plain re-run never clears a regression.
    accept = "--accept" in args
    if accept:
        args.remove("--accept")
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    out_md = args[1] if len(args) > 1 else "PLAN_AUDIT.md"

    import __spark_entry__ as e
    from pos_api_pipeline_spark.session import get_spark

    spark = get_spark("plan_audit")
    rows = []
    flagged = []
    audits = {}
    for name, fn in e.queries().items():
        df = fn(spark, sf_dir)
        # Execute (noop sink) BEFORE reading the plan: under AQE the
        # pre-execution tree hides runtime join conversions and
        # codegen markers; the post-run adaptive plan is the truth.
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        a = audit_plan(plan)
        audits[name] = a
        joins = []
        if a["bhj"]:
            joins.append(f"{a['bhj']}xBHJ")
        if a["smj"]:
            joins.append(f"{a['smj']}xSMJ")
        if a["bnlj"]:
            joins.append(f"{a['bnlj']}xBNLJ")
        if a["cartesian"]:
            joins.append(f"{a['cartesian']}xCARTESIAN")
        note = ""
        if a["cartesian"]:
            note = "CARTESIAN"
            flagged.append((name, "CartesianProduct"))
        elif a["bnlj"] and name not in SCALAR_BROADCAST_OK:
            note = "unexpected BNLJ"
            flagged.append((name, "BroadcastNestedLoopJoin"))
        elif a["bnlj"]:
            note = "scalar broadcast (ok)"
        rows.append(
            (name, a["scans"], a["exchanges"], "+".join(joins) or "-",
             "W" if a["window"] else "", "G" if a["generate"] else "",
             note)
        )

    with open(out_md, "w") as f:
        f.write(
            "# PLAN_AUDIT — per-query physical-plan inventory\n\n"
            f"Captured at `{sf_dir}` on the engine session; regenerate "
            "with `python tools/plan_audit.py`.\n\n"
            "Columns: parquet scans, exchanges (shuffles), join "
            "strategies, W=window, G=generate/explode, note.\n\n"
            "| query | scans | exch | joins | W | G | note |\n"
            "| --- | --- | --- | --- | --- | --- | --- |\n"
        )
        for r in sorted(rows):
            f.write("| " + " | ".join(str(x) for x in r) + " |\n")
        f.write(
            f"\n{len(rows)} queries; flagged: "
            f"{flagged if flagged else 'none'}\n"
        )
    import json

    snapshot = {name: a for name, a in audits.items()}
    regressions = []
    if os.path.exists(SNAPSHOT):
        with open(SNAPSHOT) as f:
            prev = json.load(f)
        regressions = diff_snapshots(prev, snapshot)
    if not regressions or accept:
        # Only advance the ratchet on a clean run (or an explicit
        # --accept) — writing the degraded snapshot on a plain re-run
        # would clear the regression without anyone fixing it.
        with open(SNAPSHOT, "w") as f:
            json.dump(snapshot, f, indent=1, sort_keys=True)

    print(f"{len(rows)} queries audited -> {out_md}; flagged: {flagged}")
    if regressions:
        print("PLAN REGRESSIONS vs previous snapshot:")
        for r in regressions:
            print(f"  {r}")
    else:
        print("no structural plan regressions vs previous snapshot")
    return 1 if flagged or regressions else 0


if __name__ == "__main__":
    raise SystemExit(main())
