"""The ``queries`` workload: registry queries over seeded tables.

One op builds one registry query (``fn(spark, data_dir)``) and
executes it to the noop sink. The run times ``passes`` passes over a
fixed query list, in an order shuffled by the seed. Setup writes the
tables (``tablegen``) and runs every query once, untimed, collecting
its result; after the timed section each collected result is compared
with the query's DuckDB oracle twin by ``tools/oracle_check.py``.

The list mixes the two registry families:

- ``BUILD_HEAVY``: LLM-family queries whose driver-side build (eager
  checkpoints, BPE merge rounds) is most of the op.
- ``TABULAR``: the heaviest tabular and POS queries (multi-way joins,
  aggregates, windows, the POS flatten and combo explode).
- ``LIGHT``: a short star-join query.

At sf 0.01 every op is small: job scheduling and driver work, not
task time, set most of its latency (the traced run shows the split).
"""

from __future__ import annotations

import os
import random
import time

import pandas as pd

from perfbench import tablegen
from tools.oracle_check import compare, duck_connection

SF = 0.01
BUILD_HEAVY = [
    "bpe_corpus_encoding",
    "curation_pipeline_e2e",
    "token_budget_selection",
    "gopher_rule_flags",
]
TABULAR = [
    "pos_curation_roundtrip",
    "min_cost_supplier",
    "pos_combo_choices",
]
LIGHT = ["region_revenue"]
QUERIES = BUILD_HEAVY + TABULAR + LIGHT
#: Nominal seconds of one pass over ``QUERIES`` on a 4-core host;
#: ``--seconds`` divided by it fixes how many passes a run times.
NOMINAL_PASS_S = 8.0


def op_order(seed: int, passes: int) -> list[str]:
    """Op ids ``<query>#<pass>``, shuffled by the seed."""
    ops = [f"{q}#{p}" for p in range(passes) for q in QUERIES]
    random.Random(seed).shuffle(ops)
    return ops


class Queries:
    def __init__(self, seed: int, seconds: float, work: str, tracer=None):
        self.seed = seed
        self.tracer = tracer
        self.passes = max(1, round(seconds / NOMINAL_PASS_S))
        self.data = os.path.join(work, "tables")
        self.results: dict[str, pd.DataFrame | Exception] = {}
        self.info: dict = {"sf": SF, "queries": len(QUERIES), "passes": self.passes}
        self.fns: dict = {}
        self.failed_queries: set[str] = set()

    def setup(self, spark) -> None:
        from pos_api_pipeline_spark.plans import registry

        t0 = time.perf_counter()
        self.info["table_rows"] = tablegen.write(self.seed, SF, self.data)
        t1 = time.perf_counter()
        all_fns = registry.queries()
        self.fns = {q: all_fns[q] for q in QUERIES}
        warm = self.info["warmup_op_s"] = {}
        for q in QUERIES:
            t = time.perf_counter()
            try:
                self.results[q] = self.fns[q](spark, self.data).toPandas()
            except Exception as e:  # noqa: BLE001 - reported as a failed op
                self.results[q] = e
            warm[q] = round(time.perf_counter() - t, 3)
        self.info["tables_s"] = t1 - t0
        self.info["warmup_s"] = time.perf_counter() - t1

    def ops(self) -> list[str]:
        return op_order(self.seed, self.passes)

    def run_op(self, spark, op: str) -> bool:
        query = op.split("#")[0]
        if self.tracer is None:
            self.fns[query](spark, self.data).write.format("noop").mode("overwrite").save()
            return True
        with self.tracer.span("query.build"):
            df = self.fns[query](spark, self.data)
        with self.tracer.span("query.plan"):
            df._jdf.queryExecution().executedPlan()
        with self.tracer.span("query.exec"):
            df.write.format("noop").mode("overwrite").save()
        return True

    def check(self) -> list[str]:
        """Each query's collected setup result against its DuckDB twin;
        returns the problems and records the queries in
        ``failed_queries``."""
        from pos_api_pipeline_spark.plans import registry

        oracles = registry.oracle_sql()
        con = duck_connection(self.data)
        problems = []
        for q in QUERIES:
            got = self.results.get(q)
            if isinstance(got, Exception):
                found = [f"spark raised {type(got).__name__}: {str(got)[:200]}"]
            else:
                found = compare(q, got, con.execute(oracles[q]).df())
            if found:
                self.failed_queries.add(q)
                problems += [f"{q}: {p}" for p in found]
        return problems

    def op_failed(self, op: str) -> bool:
        return op.split("#")[0] in self.failed_queries
