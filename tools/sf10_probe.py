"""sf10 load probe — the per-round scale gate (r9+ convention).

Runs each detector cell in a FRESH JVM (subprocess) against
scale_data/sf10 (x100 key-shifted perturbed replication of the
driver's sf0.1 — byte-deterministic, so pair counts are comparable
across rounds EXACTLY), local[32], 16g driver heap, .count() forced.
Pair counts and completes-at-16g are the load-proof signals; seconds
are host-phase-stamped via bench.py --phase-probe readings taken
around the runs.

Expected pair parity (r9/r10/r11):
  minhash_lsh_candidates          31,252,314
  simhash_near_dups               236,491,628
  embedding_near_dup_pairs t=0.95   9,900,000
  embedding_near_dup_pairs t=0.3   40,800,000
  semantic_dedup rows                 200,000

Usage: python tools/sf10_probe.py [OUT.json] [cell ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF10 = os.path.join(REPO, "scale_data", "sf10")

CELLS = {
    "minhash_lsh_candidates": """
docs = read_parquet(spark, SF10 + '/documents.parquet')
out = D.minhash_lsh_candidates(docs).count()
""",
    "simhash_near_dups_16g_32thr": """
docs = read_parquet(spark, SF10 + '/documents.parquet')
out = D.simhash_near_dups(docs).count()
""",
    "embedding_near_dup_pairs_t095": """
emb = read_parquet(spark, SF10 + '/embeddings.parquet')
out = S.embedding_near_dup_pairs(emb, dim=64, threshold=0.95).count()
""",
    "embedding_near_dup_pairs_t03": """
emb = read_parquet(spark, SF10 + '/embeddings.parquet')
out = S.embedding_near_dup_pairs(emb, dim=64, threshold=0.3).count()
""",
    "semantic_dedup": """
emb = read_parquet(spark, SF10 + '/embeddings.parquet')
out = S.semantic_dedup(emb, dim=64, threshold=0.95).count()
""",
}

EXPECT = {
    "minhash_lsh_candidates": 31252314,
    "simhash_near_dups_16g_32thr": 236491628,
    "embedding_near_dup_pairs_t095": 9900000,
    "embedding_near_dup_pairs_t03": 40800000,
    "semantic_dedup": 200000,
}

STUB = """
import sys, time, json
sys.path.insert(0, {repo!r})
SF10 = {sf10!r}
from pos_api_pipeline_spark.session import get_spark, read_parquet
from pos_api_pipeline_spark.llm import dedup as D
from pos_api_pipeline_spark.llm import similarity as S
spark = get_spark('sf10_probe', extra_conf={{'spark.driver.maxResultSize': '4g'}})
t0 = time.perf_counter()
{body}
print(json.dumps({{'count': out, 'seconds': round(time.perf_counter() - t0, 2)}}))
"""


def main() -> None:
    args = sys.argv[1:]
    out_path = args[0] if args and args[0].endswith(".json") else os.path.join(
        REPO, "BENCH_sf10_r12.json"
    )
    names = [a for a in args if not a.endswith(".json")] or list(CELLS)
    results = {}
    for name in names:
        proc = subprocess.run(
            [sys.executable, "-c", STUB.format(repo=REPO, sf10=SF10, body=CELLS[name])],
            capture_output=True,
            text=True,
        )
        line = (proc.stdout.strip().splitlines() or [""])[-1]
        try:
            rec = json.loads(line)
            rec["parity"] = rec["count"] == EXPECT[name]
        except Exception:
            rec = {
                "error": (proc.stderr or proc.stdout)[-500:],
                "returncode": proc.returncode,
            }
        rec["expect"] = EXPECT[name]
        results[name] = rec
        print(name, json.dumps(rec)[:300], flush=True)

    payload = {
        "note": (
            "sf10 probe, fresh JVM per detector, local[32] 16g, "
            ".count() forced; pair counts and completes-at-16g are "
            "the load-proof signals, seconds are host-phase-dependent"
        ),
        "unit": "sec",
        "cells": results,
        "all_parity": all(r.get("parity") for r in results.values()),
    }
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=2)
    print(json.dumps({"all_parity": payload["all_parity"], "out": out_path}))


if __name__ == "__main__":
    main()
