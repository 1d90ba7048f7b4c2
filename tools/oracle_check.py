"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet tables, then compares row count,
column names, dtypes, and order-insensitive values. Use while
iterating so the driver's CORRECTNESS_r{N}.json holds no surprises.

Usage: python tools/oracle_check.py [--vanilla] [--json OUT.json]
       [sf_dir] [query ...]

``--json OUT.json`` also writes a per-query machine-readable
record (status, rows, oracle presence, problems) — persisted
each round as ORACLE_SWEEP_r{N}.json so the queries the driver's
50-sample misses still have an auditable artifact.

``--vanilla`` runs the queries on a DEFAULT SparkSession (no tuned
confs) — the driver harness does not use this repo's session factory,
so a periodic vanilla sweep catches any accidental dependence on
get_spark's settings (tz pinning, AQE, shuffle partitions).
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}"
        )
        return problems
    if len(spark_df) != len(duck_df):
        problems.append(f"row count: spark={len(spark_df)} duck={len(duck_df)}")
    s, d = normalize(spark_df), normalize(duck_df)
    for c in s.columns:
        if str(s[c].dtype) != str(d[c].dtype):
            problems.append(f"dtype[{c}]: spark={s[c].dtype} duck={d[c].dtype}")
    if len(s) == len(d):
        for c in s.columns:
            sv, dv = s[c], d[c]
            if sv.dtype == object or str(sv.dtype).startswith("datetime"):
                neq = (sv.astype(str) != dv.astype(str))
            else:
                both_nan = sv.isna() & dv.isna()
                neq = ~both_nan & (sv != dv)
            if neq.any():
                i = neq.idxmax()
                problems.append(
                    f"values[{c}]: {int(neq.sum())} mismatches; first at row {i}: "
                    f"spark={sv[i]!r} duck={dv[i]!r}"
                )
    return problems


def main() -> int:
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    if vanilla:
        args.remove("--vanilla")
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            sys.exit("--json requires an output path")
        json_out = args[i + 1]
        del args[i:i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e

    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("oracle_check_vanilla")
            .getOrCreate()
        )
    else:
        from pos_api_pipeline_spark.session import get_spark

        spark = get_spark("oracle_check")
    con = duck_connection(sf_dir)
    qs, oracles = e.queries(), e.oracle_sql()
    failed = []
    record: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: spark raised {type(ex).__name__}: {ex}")
            record[name] = {"status": "fail",
                            "err": f"spark {type(ex).__name__}: {ex}"[:300]}
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={len(sdf)} (rows-only check, no oracle)")
            if math.isnan(len(sdf)) or len(sdf) < 0:
                failed.append(name)
            record[name] = {"status": "rows_only", "rows": len(sdf)}
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: duckdb raised {type(ex).__name__}: {ex}")
            record[name] = {"status": "fail",
                            "err": f"duckdb {type(ex).__name__}: {ex}"[:300]}
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failed.append(name)
            print(f"FAIL {name}:")
            for p in problems:
                print(f"  - {p}")
            record[name] = {"status": "fail", "rows": len(sdf),
                            "problems": problems[:5]}
        else:
            print(f"PASS {name}: rows={len(sdf)} cols={sorted(sdf.columns)}")
            record[name] = {"status": "pass", "rows": len(sdf),
                            "cols": sorted(sdf.columns)}
    n_checked = len(record)
    print(f"\n{n_checked - len(failed)}/{n_checked} checked queries pass"
          + ("" if n_checked == len(qs) else f" ({len(qs)} registered)"))
    if json_out:
        import json as _json

        with open(json_out, "w") as f:
            _json.dump(
                {
                    "sf_dir": sf_dir,
                    "vanilla": vanilla,
                    "n_registered": len(qs),
                    "n_checked": len(record),
                    "n_failed": len(failed),
                    "queries": record,
                },
                f,
                indent=1,
                default=str,
            )
        print(f"wrote {json_out}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
