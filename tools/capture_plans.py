"""Regenerate the plan trees embedded in PLANS.md.

Usage: python tools/capture_plans.py [sf_dir] — prints each headline
query's `.explain("formatted")` tree section to stdout.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "region_revenue",
    "daily_sales",
    "top_parts",
    "dedup_latest_line",
    "minhash_lsh_candidates",
    "ngram_jaccard_pairs",
    "asof_latest_purchase",
    "hash_sample_docs",
    "mixture_sample_docs",
    "pack_concat_docs",
    "cross_near_dups_flagged",
    "local_supplier_volume",
    "curation_pipeline_e2e",
    "min_cost_supplier",
    "rfm_segments_scalable",
    "embedding_near_dups",
]


def main() -> None:
    import __spark_entry__ as e
    from pos_api_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("capture_plans")
    for name in HEADLINE:
        df = e.queries()[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        tree = buf.getvalue().split("\n\n")[0]
        print(f"## {name}\n\n```\n{tree.strip()}\n```\n")


if __name__ == "__main__":
    main()
