"""Named query registry — the driver-facing contract.

Every entry pairs a PySpark implementation (built from the operator
modules) with an ANSI-SQL oracle string DuckDB can run over the same
parquet tables. Names, aliases and types are kept identical on both
sides because the driver hash-compares (row count + schema +
order-insensitive value hash).

Determinism rules used throughout (so Spark and DuckDB agree bit-for-bit):
- Monetary sums go through ``CAST(x AS DECIMAL(18,2))`` before SUM —
  decimal addition is exact and order-independent, unlike double sums
  whose partial-aggregation order differs per engine — then back to
  DOUBLE (a single deterministic rounding of the exact value).
- Every ORDER BY carries a unique tiebreaker key.
- Timestamps/dates are emitted as formatted strings (engines differ in
  date/timestamp pandas dtypes).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pos_api_pipeline_spark.operators import analytics as A
from pos_api_pipeline_spark.operators import windows as W
from pos_api_pipeline_spark.session import read_parquet

# name -> (spark_callable(spark, sf_dir) -> DataFrame, oracle_sql | None)
_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def register(name: str, oracle: str | None):
    def deco(fn):
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Pin session tz: the caller may hand us a default session, and
    # every date_format/hour here assumes UTC (DuckDB is UTC-naive).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _sum_dec(col, alias: str):
    """Deterministic monetary sum: exact 10^2 fixed-point accumulation
    (floor(x*100 + 0.5) -> compact long->decimal; identical float
    expression in the oracle), one double out. Source columns are
    2-dp values so the fixed-point snap is exact; vs the old
    double->DECIMAL(18,2) per-row cast this is pure codegen float
    math with no BigDecimal allocation per row."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(
            F.floor(c * F.lit(100.0) + F.lit(0.5)).cast("decimal(38,0)")
        ).cast("double")
        / F.lit(100.0)
    ).alias(alias)


# ---------------------------------------------------------------------------
# A1 — top-K by frequency (reference: reporting/data_preparation.py:9-33)
# ---------------------------------------------------------------------------


@register(
    "top_parts",
    """
    SELECT l_partkey, n_lines FROM (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY l_partkey
    ) ORDER BY n_lines DESC, l_partkey LIMIT 5
    """,
)
def q_top_parts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return A.top_k(li, "l_partkey", k=5, count_col="n_lines")


# ---------------------------------------------------------------------------
# A2 — COUNT DISTINCT per group (reference: data_preparation.py:71, 371-374)
# ---------------------------------------------------------------------------


@register(
    "orders_per_returnflag",
    """
    SELECT l_returnflag, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS unique_orders
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_orders_per_returnflag(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return A.count_distinct_by(
        li, ["l_returnflag"], "l_orderkey", alias="unique_orders"
    )


# ---------------------------------------------------------------------------
# A3 — global scalar KPIs (reference: cumulative_report.py:24-56,
# monthly_report.py:541-543)
# ---------------------------------------------------------------------------


@register(
    "global_kpis",
    """
    SELECT
      (CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS total_revenue,
      CAST(count(DISTINCT o_orderkey) AS BIGINT) AS unique_orders,
      CAST(count(DISTINCT o_custkey) AS BIGINT) AS unique_customers,
      strftime(min(o_orderdate), '%Y-%m-%d') AS first_sale,
      strftime(max(o_orderdate), '%Y-%m-%d') AS last_sale
    FROM orders
    """,
)
def q_global_kpis(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        _sum_dec("o_totalprice", "total_revenue"),
        F.countDistinct("o_orderkey").alias("unique_orders"),
        F.countDistinct("o_custkey").alias("unique_customers"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_sale"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_sale"),
    )


# ---------------------------------------------------------------------------
# A5 — grouped multi-agg: daily sales (reference: data_preparation.py:379-398)
# ---------------------------------------------------------------------------


@register(
    "daily_sales",
    """
    SELECT strftime(l_shipdate, '%Y-%m-%d') AS sale_date,
           (CAST(SUM(CAST(floor(l_extendedprice * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS total_sales,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS unique_receipts
    FROM lineitem GROUP BY 1
    """,
)
def q_daily_sales(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "sale_date", F.date_format("l_shipdate", "yyyy-MM-dd")
    )
    return li.groupBy("sale_date").agg(
        _sum_dec("l_extendedprice", "total_sales"),
        F.countDistinct("l_orderkey").alias("unique_receipts"),
    )


# ---------------------------------------------------------------------------
# A6/A8/C13 — group count + % share of group total
# (reference: data_preparation.py:258-266, 296-301)
# ---------------------------------------------------------------------------


@register(
    "status_share",
    """
    SELECT l_returnflag, l_linestatus, n,
           n / sum(n) OVER (PARTITION BY l_returnflag) * 100.0 AS percentage
    FROM (
      SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2
    )
    """,
)
def q_status_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return A.group_share(
        li, ["l_returnflag"], ["l_linestatus"], count_alias="n",
        pct_alias="percentage",
    )


# ---------------------------------------------------------------------------
# A7/T9 — monthly revenue trend (reference: cumulative_report.py:470-473)
# ---------------------------------------------------------------------------


@register(
    "monthly_revenue",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           (CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS revenue
    FROM orders GROUP BY 1
    """,
)
def q_monthly_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    return o.groupBy("month").agg(_sum_dec("o_totalprice", "revenue"))


# ---------------------------------------------------------------------------
# C14 — pct change vs previous month via lag window
# (reference: monthly_report.py:548-554)
# ---------------------------------------------------------------------------


@register(
    "monthly_pct_change",
    """
    WITH m AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             (CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           CASE WHEN lag(revenue) OVER (ORDER BY month) IS NOT NULL
                 AND lag(revenue) OVER (ORDER BY month) <> 0
                THEN (revenue - lag(revenue) OVER (ORDER BY month))
                     / lag(revenue) OVER (ORDER BY month) * 100.0
           END AS pct_change
    FROM m
    """,
)
def q_monthly_pct_change(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    monthly = o.groupBy("month").agg(_sum_dec("o_totalprice", "revenue"))
    return W.pct_change_over(monthly, "month", "revenue", alias="pct_change")


# ---------------------------------------------------------------------------
# A4 — two-level aggregate: avg monthly revenue
# (reference: cumulative_report.py:45)
# ---------------------------------------------------------------------------


@register(
    "avg_monthly_revenue",
    """
    WITH m AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             SUM(CAST(floor(o_totalprice * 100.0 + 0.5)
                      AS DECIMAL(38,0))) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT (CAST(SUM(revenue) AS DOUBLE) / 100.0) / count(*)
             AS avg_monthly_revenue
    FROM m
    """,
)
def q_avg_monthly_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    monthly = o.groupBy("month").agg(
        F.sum(
            F.floor(
                F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
            ).cast("decimal(38,0)")
        ).alias("revenue")
    )
    return monthly.agg(
        (
            (F.sum("revenue").cast("double") / F.lit(100.0))
            / F.count(F.lit(1))
        ).alias("avg_monthly_revenue")
    )


# ---------------------------------------------------------------------------
# W1 — ROW_NUMBER dedup, latest wins (reference: monthly_report.py:51-72)
# ---------------------------------------------------------------------------


@register(
    "dedup_latest_line",
    """
    SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM (
      SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
             row_number() OVER (
               PARTITION BY l_orderkey, l_partkey
               ORDER BY l_shipdate DESC, l_linenumber
             ) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def q_dedup_latest_line(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    deduped = W.window_dedup(
        li,
        keys=("l_orderkey", "l_partkey"),
        order_col="l_shipdate",
        descending=True,
        tiebreakers=("l_linenumber",),
    )
    return deduped.select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")


# ---------------------------------------------------------------------------
# Dimension join chain with broadcast (latent `items` join surface,
# SURVEY.md §1.1) — revenue per region
# ---------------------------------------------------------------------------


@register(
    "region_revenue",
    """
    SELECT r.r_name AS region,
           (CAST(SUM(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS revenue,
           CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def q_region_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    # Dims are small: broadcast all three so the fact table never shuffles
    # for the join (only the final groupBy exchanges pre-aggregated rows).
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy(F.col("r_name").alias("region")).agg(
        _sum_dec("o_totalprice", "revenue"),
        F.countDistinct("o_orderkey").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# C1-C3-shaped CASE WHEN classifier (reference: etl/transform.py:101-157,
# data_preparation.py:53-60) over order priorities
# ---------------------------------------------------------------------------


@register(
    "priority_class",
    """
    SELECT CASE
             WHEN lower(o_orderpriority) LIKE '%urgent%' THEN 'High'
             WHEN lower(o_orderpriority) LIKE '%high%' THEN 'High'
             WHEN lower(o_orderpriority) LIKE '%medium%' THEN 'Medium'
             ELSE 'Low'
           END AS priority_class,
           CAST(count(*) AS BIGINT) AS n,
           (CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS revenue
    FROM orders GROUP BY 1
    """,
)
def q_priority_class(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    lc = F.lower(F.col("o_orderpriority"))
    cls = (
        F.when(lc.contains("urgent"), F.lit("High"))
        .when(lc.contains("high"), F.lit("High"))
        .when(lc.contains("medium"), F.lit("Medium"))
        .otherwise(F.lit("Low"))
    )
    return (
        o.withColumn("priority_class", cls)
        .groupBy("priority_class")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _sum_dec("o_totalprice", "revenue"),
        )
    )


# ---------------------------------------------------------------------------
# T2/T4/T5 — fixed −6 h shift + hourly time-slot bucketing
# (reference: etl/transform.py:159-195)
# ---------------------------------------------------------------------------


@register(
    "time_slot_traffic",
    """
    WITH e AS (
      SELECT ts - INTERVAL 6 HOUR AS shifted_time, value FROM events
    )
    SELECT printf('%02d:00-%02d:00', hour(shifted_time), hour(shifted_time) + 1)
             AS time_slot,
           CAST(count(*) AS BIGINT) AS n_events,
           (CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS total_value
    FROM e GROUP BY 1
    """,
)
def q_time_slot_traffic(spark, sf_dir):
    from pos_api_pipeline_spark.operators.transform import with_time_slots

    e = _t(spark, sf_dir, "events")
    slotted = with_time_slots(e, ts_col="ts")
    return slotted.groupBy("time_slot").agg(
        F.count(F.lit(1)).alias("n_events"),
        _sum_dec("value", "total_value"),
    )


# ---------------------------------------------------------------------------
# T13 — weekday/weekend split (weekend = Fri+Sat+Sun, the reference's
# business rule at cumulative_report.py:74-76) + A5 aggregates
# ---------------------------------------------------------------------------


@register(
    "weekday_weekend",
    """
    SELECT CASE WHEN dayofweek(ts) IN (0, 5, 6) THEN 'Weekend'
                ELSE 'Weekday' END AS period_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS unique_users,
           (CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS total_value
    FROM events GROUP BY 1
    """,
)
def q_weekday_weekend(spark, sf_dir):
    from pos_api_pipeline_spark.operators.classifiers import period_type

    e = _t(spark, sf_dir, "events").withColumn("period_type", period_type("ts"))
    return e.groupBy("period_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("unique_users"),
        _sum_dec("value", "total_value"),
    )


# ---------------------------------------------------------------------------
# C10 — regex extract from JSON-ish props (reference:
# data_preparation.py:214, 248; cumulative_report.py:203-208)
# ---------------------------------------------------------------------------


@register(
    "props_k_buckets",
    r"""
    SELECT CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER) % 10
             AS k_bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
)
def q_props_k_buckets(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("int")
    return (
        e.withColumn("k_bucket", k % 10)
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# A9/T6/T7 — weekday axis with empty-group preservation
# (reference: data_preparation.py:49-50, 71 — observed=False)
# ---------------------------------------------------------------------------


@register(
    "weekday_purchases_preserved",
    """
    WITH days(day_of_week, day_order) AS (VALUES
      ('Monday', 1), ('Tuesday', 2), ('Wednesday', 3), ('Thursday', 4),
      ('Friday', 5), ('Saturday', 6), ('Sunday', 7)),
    agg AS (
      SELECT dayname(ts) AS day_of_week,
             CAST(count(DISTINCT user_id) AS BIGINT) AS unique_users
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT d.day_of_week, d.day_order,
           COALESCE(a.unique_users, 0) AS unique_users
    FROM days d LEFT JOIN agg a USING (day_of_week)
    """,
)
def q_weekday_purchases_preserved(spark, sf_dir):
    from pos_api_pipeline_spark.operators.cleaning import WEEKDAY_ORDER, day_name

    e = _t(spark, sf_dir, "events")
    agg = (
        e.filter(F.col("event_type") == "purchase")
        .withColumn("day_of_week", day_name(F.col("ts")))
        .groupBy("day_of_week")
        .agg(F.countDistinct("user_id").alias("unique_users"))
    )
    # Day dimension built JVM-side (spark.range + element_at): a
    # createDataFrame over a Python list here is a PythonRDD whose
    # slices rerun in Python workers on every action, seconds per call
    # in the bench.
    name_arr = F.array(*[F.lit(d) for d in WEEKDAY_ORDER])
    dim = spark.range(1, 8).select(
        F.element_at(name_arr, F.col("id").cast("int")).alias("day_of_week"),
        F.col("id").cast("int").alias("day_order"),
    )
    return A.preserve_empty_groups(
        agg, dim, on=["day_of_week"], fill_zero_cols=["unique_users"]
    ).select("day_of_week", "day_order", "unique_users")


# ---------------------------------------------------------------------------
# ROLLUP — hierarchical subtotals (beyond the reference: standard OLAP)
# ---------------------------------------------------------------------------


@register(
    "lineitem_rollup",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(count(*) AS BIGINT) AS n,
           (CAST(SUM(CAST(floor(l_quantity * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS total_qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q_lineitem_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _sum_dec("l_quantity", "total_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "total_qty",
        )
    )


@register(
    "order_status_cube",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def q_order_status_cube(spark, sf_dir):
    """CUBE — all grouping-set combinations in one pass."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# Exact percentiles — interpolated, engine-parity verified
# ---------------------------------------------------------------------------


@register(
    "event_value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY 1
    """,
)
def q_event_value_percentiles(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    # Exact interpolated percentile, snapped to 6 dp on both sides:
    # the interpolation (1-g)*lo + g*hi is bit-identical at small
    # group sizes but the engines' index/fraction arithmetic drifts
    # in the last ulp once groups reach ~10^5 rows (seen at the sf1
    # scale probe: p99 230.53 vs 230.53000000000003). The 100 TB
    # path is percentile_approx — see approx_distinct_users for the
    # sketch-based pattern.
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


@register(
    "approx_value_percentiles",
    # Tolerance-check oracle (same pattern as approx_distinct_users):
    # the GK sketch inside percentile_approx is engine-specific, so
    # the estimate cannot hash-match; instead Spark emits the EXACT
    # 6-dp percentiles plus a boolean asserting every sketch estimate
    # honored its RANK contract: the fraction of rows below/at the
    # estimate brackets q within 1/accuracy + one discrete rank.
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99,
           TRUE AS approx_within_tol
    FROM events GROUP BY 1
    """,
)
def q_approx_value_percentiles(spark, sf_dir):
    """The 100 TB percentile path: percentile_approx (mergeable GK
    sketch, one pass, no per-group sort) next to the exact twin —
    the exact values anchor the hash, the boolean proves the sketch
    honored its rank-error contract on this data. The check is
    rank-based (share of rows < estimate ≤ q+tol and share ≤
    estimate ≥ q−tol, tol = 1e-4 + 1/n) because the sketch returns a
    data VALUE while the exact form interpolates — a value bracket
    falsely fails wherever the two straddle a gap."""
    e = _t(spark, sf_dir, "events")
    qs = ((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))
    per_type = e.groupBy("event_type").agg(
        *[
            F.round(F.percentile("value", F.lit(q)), 6).alias(name)
            for q, name in qs
        ],
        *[
            F.percentile_approx("value", F.lit(q), F.lit(10000)).alias(
                f"_ap_{name}"
            )
            for q, name in qs
        ],
    )
    j = e.select("event_type", "value").join(
        F.broadcast(per_type), "event_type"
    )
    rank_aggs = [F.count(F.lit(1)).alias("_n")]
    for _, name in qs:
        ap = F.col(f"_ap_{name}")
        rank_aggs.append(
            F.sum((F.col("value") < ap).cast("long")).alias(f"_lt_{name}")
        )
        rank_aggs.append(
            F.sum((F.col("value") <= ap).cast("long")).alias(f"_le_{name}")
        )
    ranks = j.groupBy("event_type").agg(*rank_aggs)
    tol = F.lit(1e-4) + F.lit(1.0) / F.col("_n")
    ok = F.lit(True)
    for q, name in qs:
        ok = (
            ok
            & (F.col(f"_lt_{name}") / F.col("_n") <= F.lit(q) + tol)
            & (F.col(f"_le_{name}") / F.col("_n") >= F.lit(q) - tol)
        )
    return per_type.join(ranks, "event_type").select(
        "event_type", "p50", "p90", "p99", ok.alias("approx_within_tol")
    )


@register(
    "approx_distinct_users",
    # Tolerance-check oracle (documented deviation): HLL sketches
    # differ per engine, so the estimate itself cannot hash-match.
    # Instead the Spark side emits the EXACT per-group count plus a
    # boolean asserting its approx_count_distinct (rsd=0.05) landed
    # within ±15% (3σ) of exact; the oracle asserts the same exact
    # counts and that the tolerance always holds. A broken sketch
    # (or a broken exact count) flips the boolean and fails the hash.
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS est_within_tol
    FROM events GROUP BY 1
    """,
)
def q_approx_distinct_users(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("_est"),
    )
    return agg.select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("_est") - F.col("n_exact"))
            <= F.lit(0.15) * F.col("n_exact")
        ).alias("est_within_tol"),
    )


# Batch-2 (text analysis / dedup / similarity / events / basket),
# batch-3 (POS curation surface), and batch-4 (join-depth relational
# + temporal-join) queries self-register on import.
from pos_api_pipeline_spark.plans import registry_llm  # noqa: E402,F401
from pos_api_pipeline_spark.plans import registry_pos  # noqa: E402,F401
from pos_api_pipeline_spark.plans import registry_tpch  # noqa: E402,F401
