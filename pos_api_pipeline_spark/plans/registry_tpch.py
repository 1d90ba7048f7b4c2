"""Registry batch 4: join-depth relational queries + temporal-join
wiring.

The reference's relational surface is single-table pandas; these
queries exercise the join strategies a 100 TB deployment actually
needs — fact-to-fact shuffle joins, broadcast dim chains, non-equi
semi-joins, and the bucketized range join from
``operators/temporal.py`` — in the classic TPC-H shapes (Q3/Q4/Q8)
over the driver's TPC-H-ish tables.

Determinism discipline matches registry.py: decimal-accumulated
monetary sums, formatted timestamps, unique ORDER BY tiebreakers.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pos_api_pipeline_spark.operators.temporal import range_join
from pos_api_pipeline_spark.plans.registry import _sum_dec, _t, register

# Revenue expression used by every TPC-H-shaped query: exact decimal
# accumulation of the double product (IEEE multiply is bit-identical
# across engines; only the SUM order is not — hence the decimal).
# price and discount are 2-dp values, so the true product has 4 dp;
# round(x, 4) lands both engines on that exact value BEFORE the
# decimal cast — a raw double→DECIMAL(18,2) cast sits on a .xx5
# rounding boundary whenever the 3rd/4th dp is 50, and Spark (string
# repr, HALF_UP) and DuckDB (binary expansion) resolve those
# boundaries differently (~1 cent per million rows — ROADMAP.md
# "cross-engine float traps").
# Revenue summand in 10^4 FIXED-POINT: floor(x*1e4 + 0.5) is pure
# IEEE float math and floor(double) is already integral, so the
# per-row path is codegen arithmetic + a compact long->decimal cast
# instead of a BigDecimal allocation per row (measured ~2x on the
# revenue-summing TPC-H family, VERDICT r4 item 4). Every consumer
# divides the decimal-exact sum by 10000.0 once, after the final
# cast to double; the oracle computes the identical float
# expression, so the sums are bit-identical across engines and
# partitionings.
_REV = (
    "CAST(floor(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5)"
    " AS DECIMAL(38,0))"
)


def _rev_fix():
    """Per-row fixed-point revenue summand (Spark twin of _REV)."""
    return F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        * F.lit(10000.0)
        + F.lit(0.5)
    ).cast("decimal(38,0)")


def _rev_dec(alias: str):
    return (F.sum(_rev_fix()).cast("double") / F.lit(10000.0)).alias(alias)


# ---------------------------------------------------------------------------
# TPC-H Q3 shape — shipping priority: revenue of not-yet-shipped
# lineitems for one customer segment, top 10 orders.
# Fact-to-fact shuffle join (orders x lineitem) with the customer dim
# broadcast; both date filters reach the parquet scans.
# ---------------------------------------------------------------------------


@register(
    "shipping_priority",
    f"""
    SELECT l.l_orderkey,
           (CAST(SUM({_REV}) AS DOUBLE) / 10000.0) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q_shipping_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp_ntz")
    )
    joined = o.join(
        F.broadcast(c.select("c_custkey")), o.o_custkey == c.c_custkey
    ).join(li, o.o_orderkey == li.l_orderkey)
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        _rev_dec("revenue")
    )
    return (
        agg.orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 shape — order-priority check: orders having at least one
# lineitem shipped more than 60 days after the order date.
# EXISTS(l_shipdate > threshold) is monotone in l_shipdate, so it
# collapses to max(l_shipdate) per order key > threshold — the
# lineitem side partial-aggregates map-side down to one (key, date)
# row per order BEFORE the shuffle, instead of shipping every
# lineitem row into a semi join. At 100 TB this is the difference
# between shuffling the fact table and shuffling one row per order.
# ---------------------------------------------------------------------------


@register(
    "late_orders_by_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def q_late_orders_by_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    lmax = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("_max_shipdate"))
    )
    late = o.join(lmax, o.o_orderkey == lmax.l_orderkey).filter(
        F.col("_max_shipdate") > o.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_late_orders")
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape — market share: per order year, the fraction of
# lineitem revenue supplied by ASIA-region suppliers.
# lineitem⋈orders is the genuine fact-to-fact shuffle; the
# supplier→nation→region chain is broadcast so the big side shuffles
# exactly once (on l_orderkey).
# ---------------------------------------------------------------------------


@register(
    "nation_market_share",
    f"""
    WITH asia AS (
      SELECT s.s_suppkey
      FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
    )
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
           (CAST(SUM(CASE WHEN a.s_suppkey IS NOT NULL THEN {_REV}
                         ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE) / 10000.0)
             AS asia_revenue,
           (CAST(SUM({_REV}) AS DOUBLE) / 10000.0) AS total_revenue,
           (CAST(SUM(CASE WHEN a.s_suppkey IS NOT NULL THEN {_REV}
                         ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE) / 10000.0)
             / (CAST(SUM({_REV}) AS DOUBLE) / 10000.0) AS asia_share
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    LEFT JOIN asia a ON l.l_suppkey = a.s_suppkey
    GROUP BY 1
    """,
)
def q_nation_market_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("s_suppkey").alias("asia_suppkey"))
    )
    rev = _rev_fix()
    zero = F.lit(0).cast("decimal(38,0)")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).join(
        F.broadcast(asia), li.l_suppkey == F.col("asia_suppkey"), "left"
    )
    agg = joined.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        (
            F.sum(
                F.when(F.col("asia_suppkey").isNotNull(), rev).otherwise(zero)
            ).cast("double")
            / F.lit(10000.0)
        ).alias("asia_revenue"),
        _rev_dec("total_revenue"),
    )
    return agg.select(
        "order_year",
        "asia_revenue",
        "total_revenue",
        (F.col("asia_revenue") / F.col("total_revenue")).alias("asia_share"),
    )


# ---------------------------------------------------------------------------
# Range-join wiring — assign every event to its (gap-derived) session
# span via the bucketized range join, then re-aggregate per span.
# Sessions are maximal 30-min-gap-separated intervals, so the spans
# are disjoint per user and the assignment is exact; the oracle
# recomputes the same spans in SQL and joins with BETWEEN.
# ---------------------------------------------------------------------------

_SESSION_SPANS_SQL = """
    WITH g AS (
      SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS s,
             lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
               AS prev_s
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts, s,
             CASE WHEN prev_s IS NULL OR s - prev_s > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM g
    ), numbered AS (
      SELECT user_id, ts, s,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), spans AS (
      SELECT user_id, session_id,
             min(s) AS span_lo, max(s) AS span_hi
      FROM numbered GROUP BY user_id, session_id
    )
"""


@register(
    "event_session_assignment",
    f"""{_SESSION_SPANS_SQL}
    SELECT e.user_id,
           strftime(to_timestamp(sp.span_lo), '%Y-%m-%d %H:%M:%S')
             AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           (CAST(SUM(CAST(floor(e.value * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS session_value
    FROM events e
    JOIN spans sp
      ON e.user_id = sp.user_id
     AND CAST(floor(epoch(e.ts)) AS BIGINT) BETWEEN sp.span_lo AND sp.span_hi
    GROUP BY 1, 2
    """,
)
def q_event_session_assignment(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    # NTZ has no direct long cast; via TIMESTAMP under the UTC-pinned
    # session the epoch seconds match DuckDB's epoch().
    # event_id tiebreaker: epoch seconds collide (same user, same
    # second), and lag vs the running sum are separate window
    # evaluations whose tie enumeration can differ — without a
    # unique ORDER BY a 0-flag twin enumerated before its group's
    # 1-flag row mints a phantom session (see user_sessions).
    epoch = F.col("ts").cast("timestamp").cast("long")
    ev = e.select("user_id", "event_id", "ts", "value", epoch.alias("s"))
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("s").over(w).isNull()
            | ((F.col("s") - F.lag("s").over(w)) > 1800),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = numbered.groupBy("user_id", "session_id").agg(
        F.min("s").alias("span_lo"), F.max("s").alias("span_hi")
    )
    assigned = range_join(
        ev.select("user_id", "value", "s"),
        spans.select("user_id", "span_lo", "span_hi"),
        on="user_id",
        left_val="s",
        right_lo="span_lo",
        right_hi="span_hi",
        bucket_width=3600.0,
    )
    from pos_api_pipeline_spark.plans.registry import _sum_dec

    return assigned.groupBy(
        "user_id",
        F.date_format(
            F.to_timestamp(F.col("span_lo")), "yyyy-MM-dd HH:mm:ss"
        ).alias("session_start"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        _sum_dec("value", "session_value"),
    )


# ---------------------------------------------------------------------------
# Click→purchase attribution — for every purchase event, the count
# and value of the same user's clicks in the preceding 30 minutes
# (inclusive window). The batch form reuses the bucketized range
# join; the streaming twin is a watermarked stream-stream interval
# join over the identical predicate (streaming/events.py).
# ---------------------------------------------------------------------------


@register(
    "click_attribution",
    """
    WITH p AS (
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS p_s, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS c_s, value FROM events
      WHERE event_type = 'click'
    ), hits AS (
      SELECT p.event_id,
             CAST(count(c.user_id) AS BIGINT) AS n_clicks,
             (CAST(SUM(CAST(floor(c.value * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
               AS click_value
      FROM p
      JOIN c ON p.user_id = c.user_id
            AND c.c_s BETWEEN p.p_s - 1800 AND p.p_s
      GROUP BY p.event_id
    )
    SELECT p.event_id,
           strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
           coalesce(h.n_clicks, 0) AS n_clicks,
           coalesce(h.click_value, 0.0) AS click_value
    FROM p LEFT JOIN hits h ON p.event_id = h.event_id
    """,
)
def q_click_attribution(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    epoch = F.col("ts").cast("timestamp").cast("long")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        epoch.alias("p_s"),
        F.col("ts").alias("p_ts"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", epoch.alias("c_s"), "value"
    )
    hits = range_join(
        clicks,
        purchases.select(
            "event_id",
            "user_id",
            (F.col("p_s") - 1800).alias("win_lo"),
            F.col("p_s").alias("win_hi"),
        ),
        on="user_id",
        left_val="c_s",
        right_lo="win_lo",
        right_hi="win_hi",
        bucket_width=1800.0,
    )
    agg = hits.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        _sum_dec("value", "click_value"),
    )
    return (
        purchases.join(agg, "event_id", "left")
        .select(
            "event_id",
            F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "purchase_time"
            ),
            F.coalesce(F.col("n_clicks"), F.lit(0)).alias("n_clicks"),
            F.coalesce(F.col("click_value"), F.lit(0.0)).alias("click_value"),
        )
    )


# ---------------------------------------------------------------------------
# Calendar gap-filling — resample daily revenue onto a complete date
# spine (missing days materialized as zero rows). The spine is
# sequence()+explode off the min/max scalars — one tiny generated
# relation broadcast against the aggregated days, never a per-row
# Python loop. The standard time-series "fill the holes" operator.
# ---------------------------------------------------------------------------


@register(
    "daily_sales_gapfilled",
    """
    WITH days AS (
      SELECT (CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
               AS total_sales,
             CAST(l_shipdate AS DATE) AS d
      FROM lineitem GROUP BY 2
    ), bounds AS (
      SELECT min(d) AS lo, max(d) AS hi FROM days
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
      FROM bounds
    )
    SELECT strftime(s.d, '%Y-%m-%d') AS sale_date,
           coalesce(days.total_sales, 0.0) AS total_sales,
           days.total_sales IS NULL AS was_gap
    FROM spine s LEFT JOIN days ON s.d = days.d
    """,
)
def q_daily_sales_gapfilled(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    days = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        _sum_dec("l_extendedprice", "total_sales")
    )
    bounds = days.agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    )
    return spine.join(days, "d", "left").select(
        F.date_format("d", "yyyy-MM-dd").alias("sale_date"),
        F.coalesce(F.col("total_sales"), F.lit(0.0)).alias("total_sales"),
        F.col("total_sales").isNull().alias("was_gap"),
    )


# ---------------------------------------------------------------------------
# Unpivot (wide -> long): melt per-returnflag aggregate columns back
# into rows — the inverse of event_type_pivot, via the native STACK
# expression (codegen, no shuffle beyond the input agg).
# ---------------------------------------------------------------------------


@register(
    "lineitem_metrics_unpivot",
    """
    WITH wide AS (
      SELECT l_returnflag,
             (CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS qty,
             (CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
               AS price,
             CAST(count(*) AS DOUBLE) AS n_lines
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, metric, value
    FROM wide
    UNPIVOT (value FOR metric IN (qty, price, n_lines))
    """,
)
def q_lineitem_metrics_unpivot(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        _sum_dec("l_quantity", "qty"),
        _sum_dec("l_extendedprice", "price"),
        F.count(F.lit(1)).cast("double").alias("n_lines"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["qty", "price", "n_lines"],
        "metric",
        "value",
    )


# ---------------------------------------------------------------------------
# Data-quality battery — referential integrity + null/range audits as
# one unioned scorecard (check_name, n_violations). Each check is a
# broadcast/anti-join or aggregate over one scan; the union is a
# no-shuffle concat of 1-row frames.
# ---------------------------------------------------------------------------


@register(
    "dq_checks",
    """
    SELECT 'orphan_lineitems' AS check_name,
           CAST(count(*) AS BIGINT) AS n_violations
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'orders_without_customer',
           CAST(count(*) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT 'negative_prices', CAST(count(*) AS BIGINT)
    FROM lineitem WHERE l_extendedprice < 0
    UNION ALL
    SELECT 'discount_out_of_range', CAST(count(*) AS BIGINT)
    FROM lineitem WHERE l_discount < 0 OR l_discount > 1
    UNION ALL
    SELECT 'ship_before_order', CAST(count(*) AS BIGINT)
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate < o.o_orderdate
    """,
)
def q_dq_checks(spark, sf_dir):
    # One pass over lineitem for all four lineitem checks (r12, guide
    # §2.4/§1.2: the pre-r12 form scanned lineitem four times and
    # joined it to orders twice — once anti, once inner — for counts
    # that one LEFT join + one conditional aggregate produce
    # identically, o_orderkey being unique so the join never fans
    # out). No broadcast hint: orders is corpus-scale, the planner
    # picks BHJ at bench SFs and SMJ where orders outgrows the
    # threshold — and now pays that join once, not twice.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")

    def n(cond):
        return F.coalesce(
            F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
        ).cast("long")

    joined = li.select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"
    ).join(
        o.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left",
    )
    a = joined.agg(
        n(F.col("o_orderkey").isNull()).alias("_orphan"),
        n(F.col("l_extendedprice") < 0).alias("_neg"),
        n(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
        ).alias("_disc"),
        n(
            F.col("o_orderkey").isNotNull()
            & (F.col("l_shipdate") < F.col("o_orderdate"))
        ).alias("_early"),
    )
    four = a.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("orphan_lineitems").alias("check_name"),
                    F.col("_orphan").alias("n_violations"),
                ),
                F.struct(
                    F.lit("negative_prices").alias("check_name"),
                    F.col("_neg").alias("n_violations"),
                ),
                F.struct(
                    F.lit("discount_out_of_range").alias("check_name"),
                    F.col("_disc").alias("n_violations"),
                ),
                F.struct(
                    F.lit("ship_before_order").alias("check_name"),
                    F.col("_early").alias("n_violations"),
                ),
            )
        ).alias("_c")
    ).select("_c.check_name", "_c.n_violations")
    no_cust = o.join(
        F.broadcast(c.select("c_custkey")),
        o.o_custkey == c.c_custkey,
        "left_anti",
    )
    return four.unionByName(
        no_cust.agg(F.count(F.lit(1)).alias("n_violations")).select(
            F.lit("orders_without_customer").alias("check_name"),
            "n_violations",
        )
    )


# ---------------------------------------------------------------------------
# Length-decile audit — exact decile bucketing of documents by token
# count (the padding-efficiency statistic behind length-grouped
# batching). NOT a global ntile: a whole-corpus window would move
# every row to one task. Instead the exact global rank is decomposed
# as cum_before(value) + row_number-within-value — the within-value
# window is partitioned by token count, and the cumulative table has
# one row per DISTINCT count (tiny; its window is the only
# single-partition step). decile = 1 + (rank-1)*10/n in integer
# arithmetic on both engines (DuckDB's oracle can afford the
# brute-force global row_number).
# ---------------------------------------------------------------------------


@register(
    "doc_length_deciles",
    r"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ), d AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY n_tokens, doc_id) AS rnk,
             count(*) OVER () AS n_total
      FROM t
    )
    SELECT CAST(1 + ((rnk - 1) * 10) // n_total AS INTEGER) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM d GROUP BY 1
    """,
)
def q_doc_length_deciles(spark, sf_dir):
    from pos_api_pipeline_spark.llm import text as X

    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.size(X.tokens("text")).alias("n_tokens")
    )
    vc = t.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("_cnt"))
    w_vals = Window.orderBy("n_tokens").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = vc.select(
        "n_tokens",
        F.coalesce(F.sum("_cnt").over(w_vals), F.lit(0)).alias("_cum_before"),
    )
    total = t.agg(F.count(F.lit(1)).alias("_n_total"))
    w_in = Window.partitionBy("n_tokens").orderBy("doc_id")
    ranked = (
        t.withColumn("_wr", F.row_number().over(w_in))
        .join(F.broadcast(cum), "n_tokens")
        .crossJoin(F.broadcast(total))
        .withColumn("_rank", F.col("_cum_before") + F.col("_wr"))
    )
    # `div`, not `/`: Spark's / on longs is DOUBLE division, and a
    # float quotient truncated back to int can land one decile low.
    d = ranked.withColumn(
        "decile",
        (
            F.lit(1)
            + F.expr("((_rank - 1) * 10) div _n_total")
        ).cast("int"),
    )
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
        F.sum("n_tokens").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q1 shape — pricing summary: the canonical wide-aggregate scan
# (8 aggregates, 2 group keys, single pass, fully partial-aggregable).
# Averages are exact-decimal sums divided by exact counts in DOUBLE —
# deterministic on both engines.
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           (CAST(SUM(CAST(floor(l_quantity * 100.0 + 0.5)
               AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS sum_qty,
           (CAST(SUM(CAST(floor(l_extendedprice * 100.0 + 0.5)
               AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS sum_base_price,
           (CAST(SUM({_REV}) AS DOUBLE) / 10000.0) AS sum_disc_price,
           (CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount)
                                * (1 + l_tax) * 1000000.0 + 0.5)
               AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0) AS sum_charge,
           (CAST(SUM(CAST(floor(l_quantity * 100.0 + 0.5)
               AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
             / count(*) AS avg_qty,
           (CAST(SUM(CAST(floor(l_extendedprice * 100.0 + 0.5)
               AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
             / count(*) AS avg_price,
           (CAST(SUM(CAST(floor(l_discount * 100.0 + 0.5)
               AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
             / count(*) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))

    def cents(col):
        # 10^2 fixed-point (2-dp source columns): floor float math +
        # compact long->decimal, no per-row BigDecimal (see _REV)
        return F.sum(
            F.floor(F.col(col) * F.lit(100.0) + F.lit(0.5)).cast(
                "decimal(38,0)"
            )
        ).cast("double") / F.lit(100.0)

    sum_qty = cents("l_quantity")
    sum_price = cents("l_extendedprice")
    sum_disc = cents("l_discount")
    # charge has 3 two-dp factors -> true value has 6 dp -> 10^6
    charge = F.floor(
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("decimal(38,0)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        sum_qty.alias("sum_qty"),
        sum_price.alias("sum_base_price"),
        _rev_dec("sum_disc_price"),
        (F.sum(charge).cast("double") / F.lit(1000000.0)).alias(
            "sum_charge"
        ),
        (sum_qty / n).alias("avg_qty"),
        (sum_price / n).alias("avg_price"),
        (sum_disc / n).alias("avg_disc"),
        n.alias("count_order"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 shape — small-quantity revenue: lineitems below 20% of
# their part's average quantity. The correlated scalar subquery
# becomes a pre-aggregated per-part frame joined back to the fact —
# one extra shuffle on l_partkey instead of a per-row subquery.
# The 0.2*avg threshold compare uses the same double on both engines
# (exact decimal sum / exact count, then one multiply).
# ---------------------------------------------------------------------------


@register(
    "small_quantity_revenue",
    """
    WITH pa AS (
      SELECT l_partkey,
             (CAST(SUM(CAST(floor(l_quantity * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
               / count(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_small_lines,
           (CAST(SUM(CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
             / 7.0 AS avg_yearly
    FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE l.l_quantity < 0.2 * pa.avg_qty
    """,
)
def q_small_quantity_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(
        (
            (
                F.sum(
                    F.floor(
                        F.col("l_quantity") * F.lit(100.0) + F.lit(0.5)
                    ).cast("decimal(38,0)")
                ).cast("double")
                / F.lit(100.0)
            )
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    joined = li.join(pa, "l_partkey").filter(
        F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty")
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_small_lines"),
        (
            (
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5)
                    ).cast("decimal(38,0)")
                ).cast("double")
                / F.lit(100.0)
            )
            / F.lit(7.0)
        ).alias("avg_yearly"),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS with grouping_id — the explicit multi-grain aggregate
# (finer than rollup/cube: exactly the grains you ask for, one pass).
# ---------------------------------------------------------------------------


@register(
    "revenue_grouping_sets",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
                AS INTEGER) AS grp_id,
           (CAST(SUM(CAST(floor(l_extendedprice * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
             AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), ())
    """,
)
def q_revenue_grouping_sets(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        _sum_dec("l_extendedprice", "revenue"),
        (
            F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")
        ).cast("int").alias("grp_id"),
    )
    return g.select(
        F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
        F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
        "grp_id",
        "revenue",
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape — top-revenue supplier: max-of-aggregate with tie
# retention. The max rides as a ONE-ROW frame equi-joined on the
# revenue value (broadcast hash join) — no scalar-subquery nested
# loop, no single-partition window over the supplier aggregate.
# ---------------------------------------------------------------------------


@register(
    "top_revenue_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey, (CAST(SUM({_REV}) AS DOUBLE) / 10000.0) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01'
        AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey
    ), m AS (SELECT max(total_rev) AS total_rev FROM rev)
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM supplier s
    JOIN rev r ON s.s_suppkey = r.l_suppkey
    JOIN m ON r.total_rev = m.total_rev
    """,
)
def q_top_revenue_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    rev = li.groupBy("l_suppkey").agg(_rev_dec("total_rev"))
    mx = rev.agg(F.max("total_rev").alias("total_rev"))
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(rev, s.s_suppkey == rev.l_suppkey)
        .join(F.broadcast(mx), "total_rev")
        .select("s_suppkey", "s_name", "total_rev")
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape — supplier counts per part group, excluding flagged
# suppliers: NOT IN == broadcast LEFT ANTI join (the exclusion set is
# tiny by construction), distinct part-supplier links pre-deduped in
# one shuffle, then COUNT DISTINCT per (brand, size).
# ---------------------------------------------------------------------------


@register(
    "part_supplier_counts",
    """
    WITH links AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ), excl AS (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
    )
    SELECT p.p_brand,
           CAST(p.p_size AS INTEGER) AS p_size,
           CAST(count(DISTINCT j.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM links j
    JOIN part p ON j.l_partkey = p.p_partkey
    WHERE j.l_suppkey NOT IN (SELECT s_suppkey FROM excl)
    GROUP BY p.p_brand, p.p_size
    """,
)
def q_part_supplier_counts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    links = li.select("l_partkey", "l_suppkey").distinct()
    excl = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    kept = links.join(
        F.broadcast(excl),
        links.l_suppkey == excl.s_suppkey,
        "left_anti",
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    return (
        kept.join(p, kept.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .select("p_brand", F.col("p_size").cast("int"), "supplier_cnt")
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 shape — trade volume between two nations: revenue shipped
# from suppliers of one nation to customers of the other, per year,
# both directions. The fact-to-fact lineitem⋈orders shuffle carries
# the plan; both nation filters collapse to broadcast hash joins that
# prune the fact rows BEFORE the shuffle (supplier side ahead of the
# l_orderkey exchange, customer side on the orders scan).
# ---------------------------------------------------------------------------


@register(
    "nation_trade_volume",
    f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(o.o_orderdate) AS INTEGER) AS l_year,
           (CAST(SUM({_REV}) AS DOUBLE) / 10000.0) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def q_nation_trade_volume(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    nations = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nations), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    joined = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("o_orderdate").cast("int").alias("l_year"),
    ).agg(_rev_dec("revenue"))


# ---------------------------------------------------------------------------
# TPC-H Q9 shape — product profit by supplier nation and year for one
# part family (no partsupp table in this schema, so supply cost is
# modeled as 10% of p_retailprice per unit — the JOIN SHAPE is the
# point: two broadcast dims pruning the fact before the one
# fact-to-fact shuffle). Profit terms are 4-dp-rounded decimals so
# the cross-engine sum is exact.
# ---------------------------------------------------------------------------


@register(
    "part_profit_by_nation",
    """
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           (CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                                * 10000.0 + 0.5) AS DECIMAL(38,0))
                    - CAST(floor(0.1 * p.p_retailprice * l.l_quantity
                                 * 10000.0 + 0.5) AS DECIMAL(38,0)))
               AS DOUBLE) / 10000.0) AS profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q_part_profit_by_nation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        F.floor(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            * F.lit(10000.0)
            + F.lit(0.5)
        ).cast("decimal(38,0)")
        - F.floor(
            F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
            * F.lit(10000.0)
            + F.lit(0.5)
        ).cast("decimal(38,0)")
    )
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
    )
    return joined.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("int").alias("o_year"),
    ).agg(
        (F.sum(profit).cast("double") / F.lit(10000.0)).alias("profit")
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape — returned-item reporting: revenue lost to 'R'
# lineitems per customer over one quarter, top 20. The groupBy runs
# on the joined fact FIRST (one shuffle on c_custkey after the
# l_orderkey shuffle); the customer/nation dims join the 20-row-bound
# aggregate, not the fact.
# ---------------------------------------------------------------------------


@register(
    "top_return_customers",
    f"""
    WITH rev AS (
      SELECT o.o_custkey,
             (CAST(SUM({_REV}) AS DOUBLE) / 10000.0) AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= TIMESTAMP '1997-01-01'
        AND o.o_orderdate < TIMESTAMP '1997-04-01'
      GROUP BY 1
    )
    SELECT c.c_custkey, c.c_name, r.revenue, c.c_acctbal,
           n.n_name AS nation
    FROM rev r
    JOIN customer c ON r.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    ORDER BY r.revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_top_return_customers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(_rev_dec("revenue"))
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        rev.join(c, rev.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            "c_acctbal",
            F.col("n_name").alias("nation"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 shape — customer order-count distribution: orders per
# customer INCLUDING zero-order customers (left outer), then the
# distribution of those counts. Two aggregation grains back to back;
# the left join preserves customers the filter wipes out.
# ---------------------------------------------------------------------------


@register(
    "customer_order_distribution",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY 1
    )
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM per_cust
    GROUP BY c_count
    """,
)
def q_customer_order_distribution(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


# ---------------------------------------------------------------------------
# TPC-H Q14 shape — promo revenue share for one ship month: a
# conditional aggregate over the li⋈part join (part broadcast; the
# month filter prunes the fact scan to ~1% before the join).
# ---------------------------------------------------------------------------


@register(
    "promo_revenue_share",
    f"""
    SELECT (CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REV}
                         ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE) / 10000.0)
             AS promo_revenue,
           (CAST(SUM({_REV}) AS DOUBLE) / 10000.0) AS total_revenue,
           100.0 * (CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REV}
                                 ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE) / 10000.0)
             / (CAST(SUM({_REV}) AS DOUBLE) / 10000.0) AS promo_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate < TIMESTAMP '1997-10-01'
    """,
)
def q_promo_revenue_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp_ntz"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _rev_fix()
    zero = F.lit(0).cast("decimal(38,0)")
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.sum(
                    F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)
                ).cast("double")
                / F.lit(10000.0)
            ).alias("promo_revenue"),
            _rev_dec("total_revenue"),
        )
    )
    return agg.select(
        "promo_revenue",
        "total_revenue",
        (
            F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue")
        ).alias("promo_pct"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape — large-volume orders: orders whose total quantity
# exceeds a threshold, with their customer. The HAVING pre-aggregates
# the fact to one row per order BEFORE any dim join (same
# shuffle-the-aggregate-not-the-fact discipline as Q4/Q10).
# ---------------------------------------------------------------------------


@register(
    "large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey,
             (CAST(SUM(CAST(floor(l_quantity * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0) AS sum_qty
      FROM lineitem GROUP BY 1
      HAVING SUM(CAST(floor(l_quantity * 100.0 + 0.5)
                      AS DECIMAL(38,0))) > 25000
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_totalprice, b.sum_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q_large_volume_customers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_quantity") * F.lit(100.0) + F.lit(0.5)
                ).cast("decimal(38,0)")
            ).alias("_q")
        )
        .filter(F.col("_q") > 25000)
        .select(
            "l_orderkey",
            (F.col("_q").cast("double") / F.lit(100.0)).alias("sum_qty"),
        )
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape — disjunctive bracket predicates: three OR-ed
# (brand, size-range, quantity-range) brackets over li⋈part. The
# partkey equi-join stays a hash join with the disjunction applied as
# a post-join filter; the OR of per-side prefilters
# (quantity ∈ [1,40] overall, size ∈ [1,35]) still pushes to both
# scans, which is what survives at 100 TB.
# ---------------------------------------------------------------------------


@register(
    "bracketed_revenue",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           (CAST(SUM({_REV}) AS DOUBLE) / 10000.0) AS revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q_bracketed_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    br = F.col("p_brand")
    cond = (
        ((br == "Brand#1") & sz.between(1, 15) & q.between(1, 20))
        | ((br == "Brand#2") & sz.between(1, 25) & q.between(10, 30))
        | ((br == "Brand#3") & sz.between(1, 35) & q.between(20, 40))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            _rev_dec("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape — high-balance customers gone quiet: acctbal above
# the global positive-balance average AND no orders in the recent
# window, grouped by market segment. The global average rides as a
# one-row broadcast; the recency test is a LEFT ANTI join against the
# filtered orders (never a NOT IN over a collected list).
# ---------------------------------------------------------------------------


@register(
    "dormant_rich_customers",
    """
    WITH avg_bal AS (
      SELECT (CAST(SUM(CAST(floor(c_acctbal * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
               / count(*) AS threshold
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           (CAST(SUM(CAST(floor(c.c_acctbal * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
             AS total_balance
    FROM customer c, avg_bal a
    WHERE c.c_acctbal > a.threshold
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY 1
    """,
)
def q_dormant_rich_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    thr = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                (
                    F.sum(
                        F.floor(
                            F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5)
                        ).cast("decimal(38,0)")
                    ).cast("double")
                    / F.lit(100.0)
                )
                / F.count(F.lit(1))
            ).alias("threshold")
        )
    )
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz")
    ).select("o_custkey")
    rich = c.crossJoin(F.broadcast(thr)).filter(
        F.col("c_acctbal") > F.col("threshold")
    )
    dormant = rich.join(
        recent, rich.c_custkey == recent.o_custkey, "left_anti"
    )
    return dormant.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        _sum_dec("c_acctbal", "total_balance"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q5 shape — local-supplier volume: revenue per nation within a
# region, counting only lineitems whose SUPPLIER sits in the same
# nation as the ordering customer. The interesting join is
# c_nationkey = s_nationkey ACROSS the order/lineitem chain: customer,
# supplier, nation, region are broadcast dims; the only shuffle is
# orders ⋈ lineitem on the order key. The nation-equality predicate
# rides on the fact rows after the broadcasts — no extra exchange.
# ---------------------------------------------------------------------------


@register(
    "local_supplier_volume",
    f"""
    SELECT n.n_name,
           (CAST(SUM({_REV}) AS DOUBLE) / 10000.0) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def q_local_supplier_volume(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (F.col("c_nationkey") == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(_rev_dec("revenue"), F.count(F.lit(1)).alias("n_lines"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 shape — forecast revenue change: pure scan-side
# filter + global aggregate, zero joins. The point at 100 TB is that
# every predicate (shipdate range, discount band, quantity cap) is
# min/max-prunable and pushes to the parquet scan — the whole query
# is one codegen stage over the pruned row groups plus a 1-row
# exchange for the final sum.
# ---------------------------------------------------------------------------


@register(
    "forecast_revenue_change",
    """
    SELECT (CAST(SUM(CAST(floor(l_extendedprice * l_discount
                                * 10000.0 + 0.5) AS DECIMAL(38,0)))
              AS DOUBLE) / 10000.0) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_forecast_revenue_change(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    sel = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return sel.agg(
        (
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * F.col("l_discount")
                    * F.lit(10000.0)
                    + F.lit(0.5)
                ).cast("decimal(38,0)")
            ).cast("double")
            / F.lit(10000.0)
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape — shipping-delay priority audit: per return-flag
# class (the schema's stand-in for ship mode), how many LATE lines
# (shipped >90 days after order) belong to critical-priority orders
# vs the rest. The conditional split happens INSIDE one partial
# aggregate (two CASE sums), so the fact join output is consumed in
# a single pass — never two filtered scans.
# ---------------------------------------------------------------------------


@register(
    "late_shipment_priority_mix",
    """
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1 ORDER BY 1
    """,
)
def q_late_shipment_priority_mix(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    joined = o.join(li, o.o_orderkey == li.l_orderkey).filter(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~crit, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Cohort retention + RFM segmentation — the two classic customer-
# analytics shapes missing from the aggregate family. Both aggregate
# the fact table FIRST and window/join the small per-entity frame —
# at 100 TB that ordering is the whole game.
# ---------------------------------------------------------------------------


@register(
    "weekly_cohort_retention",
    """
    WITH f AS (
      SELECT user_id AS u, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY 1
    ), j AS (
      SELECT e.user_id AS u, date_trunc('week', e.ts) AS w, f.cohort_week
      FROM events e JOIN f ON e.user_id = f.u
    ), active AS (
      SELECT cohort_week,
             CAST(date_diff('day', cohort_week, w) / 7 AS BIGINT)
               AS week_offset,
             CAST(count(DISTINCT u) AS BIGINT) AS n_active
      FROM j GROUP BY 1, 2
    ), sizes AS (
      SELECT cohort_week, CAST(count(DISTINCT u) AS BIGINT) AS cohort_size
      FROM f GROUP BY 1
    )
    SELECT strftime(a.cohort_week, '%Y-%m-%d') AS cohort_week,
           a.week_offset, a.n_active, s.cohort_size,
           CAST(a.n_active AS DOUBLE) / s.cohort_size AS retention
    FROM active a JOIN sizes s USING (cohort_week)
    """,
)
def q_weekly_cohort_retention(spark, sf_dir):
    """Weekly cohort retention triangle (operators/analytics.py:
    cohort_retention)."""
    from pos_api_pipeline_spark.operators.analytics import cohort_retention

    e = _t(spark, sf_dir, "events")
    return cohort_retention(e)


@register(
    "rfm_customer_segments",
    """
    WITH pc AS (
      SELECT o_custkey AS customer, max(o_orderdate) AS _last,
             CAST(count(*) AS BIGINT) AS frequency,
             (CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
               AS monetary
      FROM orders GROUP BY 1
    ), mx AS (SELECT max(o_orderdate) AS _maxd FROM orders),
    s AS (
      SELECT pc.*, CAST(date_diff('day', _last, _maxd) AS BIGINT)
               AS recency_days
      FROM pc, mx
    ), b AS (
      SELECT customer, recency_days, frequency, monetary,
             CAST(ntile(4) OVER (ORDER BY recency_days DESC, customer)
               AS INT) AS r,
             CAST(ntile(4) OVER (ORDER BY frequency, customer) AS INT) AS f,
             CAST(ntile(4) OVER (ORDER BY monetary, customer) AS INT) AS m
      FROM s
    )
    SELECT customer, recency_days, frequency, monetary, r, f, m,
           CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
             AS rfm_segment
    FROM b
    """,
)
def q_rfm_customer_segments(spark, sf_dir):
    """RFM quantile segmentation (operators/analytics.py:
    rfm_segments): aggregate-then-window, decimal-exact monetary,
    unique-tiebreak ntiles so both engines bin identically. The
    windowless percentile-boundary plan (rfm_segments_scalable) is
    oracled separately."""
    from pos_api_pipeline_spark.operators.analytics import rfm_segments

    o = _t(spark, sf_dir, "orders")
    return rfm_segments(o)


@register(
    "rfm_segments_scalable",
    """
    WITH pc AS (
      SELECT o_custkey AS customer, max(o_orderdate) AS _last,
             CAST(count(*) AS BIGINT) AS frequency,
             (CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
               AS monetary
      FROM orders GROUP BY 1
    ), mx AS (SELECT max(o_orderdate) AS _maxd FROM orders),
    s AS (
      SELECT pc.customer, pc.frequency, pc.monetary,
             CAST(date_diff('day', _last, _maxd) AS BIGINT) AS recency_days
      FROM pc, mx
    ), cuts AS (
      SELECT quantile_cont(recency_days, [0.25, 0.5, 0.75]) AS rb,
             quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fb,
             quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mb
      FROM s
    ), b AS (
      SELECT s.*,
        CAST(5 - (1 + list_sum([CASE WHEN recency_days > x THEN 1
                                     ELSE 0 END for x in rb])) AS INT) AS r,
        CAST(1 + list_sum([CASE WHEN frequency > x THEN 1
                                ELSE 0 END for x in fb]) AS INT) AS f,
        CAST(1 + list_sum([CASE WHEN monetary > x THEN 1
                                ELSE 0 END for x in mb]) AS INT) AS m
      FROM s, cuts
    )
    SELECT customer, recency_days, frequency, monetary, r, f, m,
           CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
             AS rfm_segment
    FROM b
    """,
)
def q_rfm_segments_scalable(spark, sf_dir):
    """Scale-safe RFM (operators/analytics.py:rfm_segments_scalable):
    percentile-boundary bucketing — boundaries are one distributive
    aggregate (Spark exact ``percentile`` == DuckDB quantile_cont,
    bit-matched), bucketing is map-side; NO single-partition window
    in the plan, unlike the exact-ntile twin above."""
    from pos_api_pipeline_spark.operators.analytics import (
        rfm_segments_scalable,
    )

    o = _t(spark, sf_dir, "orders")
    return rfm_segments_scalable(o)


# ---------------------------------------------------------------------------
# Snapshot diff (CDC) — the "what changed between loads" primitive.
# The query simulates a successor snapshot of orders deterministically
# (drop keys ≡ 0 mod 37, bump totalprice for keys ≡ 1 mod 37, append
# shifted clones of keys ≡ 2 mod 37) and diffs it against the
# original; the oracle replays the same construction.
# ---------------------------------------------------------------------------


@register(
    "orders_snapshot_diff",
    """
    WITH old AS (
      SELECT o_orderkey,
             md5(concat_ws('|',
                 coalesce(CAST(length(CAST(o_orderstatus AS VARCHAR))
                     AS VARCHAR) || ':' || CAST(o_orderstatus AS VARCHAR),
                   'N'),
                 coalesce(CAST(length(CAST(o_totalprice AS VARCHAR))
                     AS VARCHAR) || ':' || CAST(o_totalprice AS VARCHAR),
                   'N'))) AS h
      FROM orders
    ), new_rows AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 37 = 1
                  THEN round(o_totalprice + 1.0, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 37 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 37 = 2
    ), new AS (
      SELECT o_orderkey,
             md5(concat_ws('|',
                 coalesce(CAST(length(CAST(o_orderstatus AS VARCHAR))
                     AS VARCHAR) || ':' || CAST(o_orderstatus AS VARCHAR),
                   'N'),
                 coalesce(CAST(length(CAST(o_totalprice AS VARCHAR))
                     AS VARCHAR) || ':' || CAST(o_totalprice AS VARCHAR),
                   'N'))) AS h
      FROM new_rows
    )
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.h IS NULL THEN 'added'
                WHEN n.h IS NULL THEN 'removed'
                WHEN o.h <> n.h THEN 'changed' END AS change_type
    FROM old o FULL OUTER JOIN new n USING (o_orderkey)
    WHERE CASE WHEN o.h IS NULL THEN 'added'
               WHEN n.h IS NULL THEN 'removed'
               WHEN o.h <> n.h THEN 'changed' END IS NOT NULL
    """,
)
def q_orders_snapshot_diff(spark, sf_dir):
    """CDC snapshot diff (lake.py:snapshot_diff): one full-outer join
    on hashed compare columns; added/removed/changed keys only.
    Cross-engine note: the compare hash feeds md5 with CAST(double AS
    VARCHAR), which both engines render identically for these 2-dp
    values."""
    from pos_api_pipeline_spark.lake import snapshot_diff

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    new = o.filter(k % 37 != 0).withColumn(
        "o_totalprice",
        F.when(k % 37 == 1, F.round(F.col("o_totalprice") + 1.0, 2)).otherwise(
            F.col("o_totalprice")
        ),
    ).unionByName(
        o.filter(k % 37 == 2).withColumn("o_orderkey", k + 10_000_000)
    )
    return snapshot_diff(o, new, key_cols=["o_orderkey"])


@register(
    "daily_event_anomalies",
    """
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT day, event_type, n,
           CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w AS mean_n,
           round(sqrt(greatest(
             CAST(sum(n * n) OVER w AS DOUBLE) / count(*) OVER w
             - (CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w)
               * (CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w),
             0.0)), 9) AS std_n,
           CASE WHEN round(sqrt(greatest(
               CAST(sum(n * n) OVER w AS DOUBLE) / count(*) OVER w
               - (CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w)
                 * (CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w),
               0.0)), 9) > 0
             THEN round((n - CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w)
                  / round(sqrt(greatest(
                      CAST(sum(n * n) OVER w AS DOUBLE) / count(*) OVER w
                      - (CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w)
                        * (CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w),
                      0.0)), 9), 9)
           END AS z,
           coalesce(abs(
             CASE WHEN sqrt(greatest(
                 CAST(sum(n * n) OVER w AS DOUBLE) / count(*) OVER w
                 - (CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w)
                   * (CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w),
                 0.0)) > 0
               THEN round((n - CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w)
                    / round(sqrt(greatest(
                        CAST(sum(n * n) OVER w AS DOUBLE) / count(*) OVER w
                        - (CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w)
                          * (CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w),
                        0.0)), 9), 9)
             END) > 3.0, FALSE) AS is_anomaly
    FROM daily
    WINDOW w AS (PARTITION BY event_type)
    """,
)
def q_daily_event_anomalies(spark, sf_dir):
    """Daily volume z-score anomalies (operators/analytics.py:
    daily_anomaly_scores): integer-sum-derived population stddev so
    both engines compute identical doubles."""
    from pos_api_pipeline_spark.operators.analytics import daily_anomaly_scores

    e = _t(spark, sf_dir, "events")
    return daily_anomaly_scores(e)


@register(
    "lineitem_correlations",
    """
    WITH s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(floor(l_quantity * 10000.0 + 0.5)
               AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS s_q,
             CAST(sum(CAST(floor(l_quantity*l_quantity * 10000.0 + 0.5)
               AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS ss_q,
             CAST(sum(CAST(floor(l_extendedprice * 10000.0 + 0.5)
               AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS s_p,
             CAST(sum(CAST(floor(l_extendedprice*l_extendedprice
                                 * 10000.0 + 0.5)
               AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS ss_p,
             CAST(sum(CAST(floor(l_discount * 10000.0 + 0.5)
               AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS s_d,
             CAST(sum(CAST(floor(l_discount*l_discount * 10000.0 + 0.5)
               AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS ss_d,
             CAST(sum(CAST(floor(l_quantity*l_extendedprice * 10000.0 + 0.5)
               AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS sp_qp,
             CAST(sum(CAST(floor(l_quantity*l_discount * 10000.0 + 0.5)
               AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS sp_qd,
             CAST(sum(CAST(floor(l_extendedprice*l_discount * 10000.0 + 0.5)
               AS DECIMAL(38,0))) AS DOUBLE) / 10000.0 AS sp_pd
      FROM lineitem
    )
    SELECT col_a, col_b,
           CASE WHEN den > 0 THEN round(num / den, 9) END AS corr
    FROM (
      SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
             n*sp_qp - s_q*s_p AS num,
             sqrt(n*ss_q - s_q*s_q) * sqrt(n*ss_p - s_p*s_p) AS den
      FROM s
      UNION ALL
      SELECT 'l_quantity', 'l_discount',
             n*sp_qd - s_q*s_d,
             sqrt(n*ss_q - s_q*s_q) * sqrt(n*ss_d - s_d*s_d) FROM s
      UNION ALL
      SELECT 'l_extendedprice', 'l_discount',
             n*sp_pd - s_p*s_d,
             sqrt(n*ss_p - s_p*s_p) * sqrt(n*ss_d - s_d*s_d) FROM s
    )
    """,
)
def q_lineitem_correlations(spark, sf_dir):
    """One-pass Pearson correlation matrix over lineitem numerics
    (operators/analytics.py:correlation_matrix): decimal-accumulated
    rounded products, one final double expression per pair."""
    from pos_api_pipeline_spark.operators.analytics import correlation_matrix

    li = _t(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount"]
    )


@register(
    "daily_sales_locf",
    """
    WITH days AS (
      SELECT (CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100.0)
               AS total_sales,
             CAST(l_shipdate AS DATE) AS d
      FROM lineitem GROUP BY 2
    ), bounds AS (
      SELECT min(d) AS lo, max(d) AS hi FROM days
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
      FROM bounds
    ), joined AS (
      SELECT s.d, days.total_sales,
             days.total_sales IS NULL AS was_gap
      FROM spine s LEFT JOIN days ON s.d = days.d
    )
    SELECT strftime(d, '%Y-%m-%d') AS sale_date,
           last_value(total_sales IGNORE NULLS) OVER (
             ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS total_sales,
           was_gap
    FROM joined
    """,
)
def q_daily_sales_locf(spark, sf_dir):
    """Gap-fill then LOCF forward-fill (operators/temporal.py:
    forward_fill): missing days carry the last observed total instead
    of zero — the time-series repair variant of
    daily_sales_gapfilled."""
    from pos_api_pipeline_spark.operators.temporal import forward_fill

    li = _t(spark, sf_dir, "lineitem")
    days = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        _sum_dec("l_extendedprice", "total_sales")
    )
    bounds = days.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("d"))
    joined = spine.join(days, "d", "left").select(
        "d",
        "total_sales",
        F.col("total_sales").isNull().alias("was_gap"),
    )
    return forward_fill(joined, "d", ["total_sales"]).select(
        F.date_format("d", "yyyy-MM-dd").alias("sale_date"),
        "total_sales",
        "was_gap",
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape — suppliers who kept orders waiting: for finished
# ('F') orders, count per supplier the lines that shipped late
# (>60 days after order) where ANOTHER supplier was on the order
# (EXISTS) but NO other supplier shipped late (NOT EXISTS) — i.e.
# this supplier alone held the order up. The two correlated
# subqueries become one aggregated self-frame: per order, the count
# of distinct suppliers and of distinct LATE suppliers — the same
# monotone pre-aggregation trick as the Q4 rewrite, so the fact
# table is shuffled once, not three times.
# ---------------------------------------------------------------------------


@register(
    "waiting_orders_by_supplier",
    """
    WITH lines AS (
      SELECT l.l_suppkey, l.l_orderkey,
             l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS is_late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    ), per_order AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN is_late THEN l_suppkey END)
               AS n_late_supp
      FROM lines GROUP BY 1
    )
    SELECT s.s_name,
           CAST(count(*) AS BIGINT) AS numwait
    FROM lines li
    JOIN per_order p ON li.l_orderkey = p.l_orderkey
    JOIN supplier s ON li.l_suppkey = s.s_suppkey
    WHERE li.is_late
      AND p.n_supp > 1
      AND p.n_late_supp = 1
    GROUP BY 1
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q_waiting_orders_by_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    lines = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_suppkey",
        "l_orderkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("is_late"),
    )
    per_order = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("is_late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    culprits = (
        lines.filter("is_late")
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
    )
    return (
        culprits.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 shape — minimum-cost supplier per part: the schema has no
# partsupp table, so the (part, supplier) supply frame derives from
# lineitem history (avg unit price per pair — one partial-agg pass).
# The correlated MIN subquery becomes a per-part min joined back on
# (part, cost) — the standard decorrelation; supplier/nation/region
# stay broadcast. Ties on min cost keep every tying supplier (as in
# the original) and the unique ORDER BY makes output deterministic.
# ---------------------------------------------------------------------------


@register(
    "min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             (CAST(sum(CAST(floor(l_extendedprice / l_quantity
                                  * 10000.0 + 0.5) AS DECIMAL(38,0)))
                AS DOUBLE) / 10000.0)
               / count(*) AS supplycost
      FROM lineitem WHERE l_quantity > 0
      GROUP BY 1, 2
    ), mn AS (
      SELECT l_partkey, min(supplycost) AS mincost FROM ps GROUP BY 1
    )
    SELECT p.p_partkey, p.p_name, s.s_name, n.n_name AS nation,
           ps.supplycost
    FROM ps
    JOIN mn ON ps.l_partkey = mn.l_partkey
           AND ps.supplycost = mn.mincost
    JOIN part p ON ps.l_partkey = p.p_partkey
    JOIN supplier s ON ps.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE' AND p.p_size < 20
    ORDER BY ps.supplycost, p.p_partkey, s.s_name
    LIMIT 25
    """,
)
def q_min_cost_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        (
            (
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") / F.col("l_quantity")
                        * F.lit(10000.0)
                        + F.lit(0.5)
                    ).cast("decimal(38,0)")
                ).cast("double")
                / F.lit(10000.0)
            )
            / F.count(F.lit(1))
        ).alias("supplycost")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") < 20)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    # Per-part min as a window over the (part, supplier) aggregate —
    # ONE lineitem aggregation pass. The previous mn-frame self-join
    # re-aggregated lineitem for each join side (VERDICT r03 item 5).
    # Partitioned by l_partkey: bounded partitions (suppliers per
    # part), never a global sort. Ties on min cost keep every tying
    # supplier, exactly like the decorrelated join form.
    best = (
        ps.withColumn(
            "mincost",
            F.min("supplycost").over(Window.partitionBy("l_partkey")),
        )
        .filter(F.col("supplycost") == F.col("mincost"))
        .select("l_partkey", "l_suppkey", "supplycost")
    )
    out = (
        best.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        out.select(
            "p_partkey", "p_name", "s_name",
            F.col("n_name").alias("nation"), "supplycost",
        )
        .orderBy("supplycost", "p_partkey", "s_name")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape — important supply value: (part, supplier) value
# share above a global-fraction threshold. The scalar subquery (the
# corpus-wide total) rides as a one-row broadcast, never an eager
# action; value accumulates in decimal so the HAVING threshold is
# bit-identical across engines.
# ---------------------------------------------------------------------------


@register(
    "important_part_value",
    """
    WITH ps AS (
      SELECT l_partkey,
             (CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                  * 10000.0 + 0.5) AS DECIMAL(38,0)))
                AS DOUBLE) / 10000.0) AS value
      FROM lineitem GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(vdec) AS DOUBLE) / 10000.0 AS total,
             CAST(count(*) AS DOUBLE) AS n_parts
      FROM (SELECT sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                  * 10000.0 + 0.5) AS DECIMAL(38,0)))
              AS vdec
            FROM lineitem GROUP BY l_partkey)
    )
    SELECT ps.l_partkey, ps.value,
           ps.value / tot.total AS share
    FROM ps, tot
    WHERE ps.value > tot.total * 1.5 / tot.n_parts
    """,
)
def q_important_part_value(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    vdec = F.sum(
        F.floor(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            * F.lit(10000.0)
            + F.lit(0.5)
        ).cast("decimal(38,0)")
    )
    ps = li.groupBy("l_partkey").agg(
        vdec.alias("_vdec")
    ).select(
        "l_partkey",
        (F.col("_vdec").cast("double") / F.lit(10000.0)).alias("value"),
        "_vdec",
    )
    # Total accumulates in DECIMAL (order-independent), one double
    # cast at the end — a double sum here drifts in the last ulp
    # between engines and partitionings. Threshold is 1.5× the
    # AVERAGE per-part value — scale-free, so the check has teeth at
    # every sf (a fixed global fraction returned 0 rows at sf≤0.1:
    # VERDICT r03 item 3's vacuous-oracle finding). Same
    # multiply-then-divide fold order as the SQL twin.
    tot = ps.agg(
        (F.sum("_vdec").cast("double") / F.lit(10000.0)).alias("total"),
        F.count(F.lit(1)).cast("double").alias("n_parts"),
    )
    ps = ps.drop("_vdec")
    return (
        ps.crossJoin(F.broadcast(tot))
        .filter(
            F.col("value") > F.col("total") * F.lit(1.5) / F.col("n_parts")
        )
        .select(
            "l_partkey",
            "value",
            (F.col("value") / F.col("total")).alias("share"),
        )
    )


@register(
    "event_transitions",
    """
    WITH pairs AS (
      SELECT lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_type) AS from_type,
             event_type AS to_type
      FROM events
    ), cnt AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p
    FROM cnt
    """,
)
def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix (operators/analytics.py:
    event_transition_matrix): total (ts, type) ordering so both
    engines pair identical consecutive events."""
    from pos_api_pipeline_spark.operators.analytics import (
        event_transition_matrix,
    )

    e = _t(spark, sf_dir, "events")
    return event_transition_matrix(e)


@register(
    "signup_purchase_latency",
    """
    WITH pu AS (
      SELECT user_id AS u,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS t_from
      FROM events GROUP BY 1
    ), conv AS (
      SELECT pu.u, pu.t_from, min(e.ts) AS t_conv
      FROM pu LEFT JOIN events e
        ON e.user_id = pu.u AND e.event_type = 'purchase'
       AND e.ts >= pu.t_from
      WHERE pu.t_from IS NOT NULL
      GROUP BY 1, 2
    ), lat AS (
      SELECT CASE WHEN t_conv IS NOT NULL
                  THEN CAST(floor((epoch_us(t_conv) - epoch_us(t_from))
                                  / 1000000.0) AS BIGINT) END AS latency_s
      FROM conv
    )
    SELECT CAST(count(*) AS BIGINT) AS n_started,
           CAST(sum(CASE WHEN latency_s IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_converted,
           CAST(sum(CASE WHEN latency_s IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*) AS conversion_rate,
           round(quantile_cont(latency_s, 0.5), 6) AS p50_s,
           round(quantile_cont(latency_s, 0.9), 6) AS p90_s
    FROM lat
    """,
)
def q_signup_purchase_latency(spark, sf_dir):
    """Signup→purchase conversion latency (operators/analytics.py:
    conversion_latency): conditional-min aggregates, never a
    fact-to-fact self-join; exact interpolated percentiles."""
    from pos_api_pipeline_spark.operators.analytics import conversion_latency

    e = _t(spark, sf_dir, "events")
    return conversion_latency(e, "signup", "purchase")


@register(
    "standardized_order_values",
    """
    WITH stats AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             count(o_totalprice) OVER w AS n,
             CAST(sum(CAST(round(o_totalprice, 4) AS DECIMAL(28,8)))
               OVER w AS DOUBLE) AS s1,
             CAST(sum(CAST(round(o_totalprice * o_totalprice, 4)
               AS DECIMAL(28,8))) OVER w AS DOUBLE) AS s2
      FROM orders
      WINDOW w AS (PARTITION BY o_orderstatus)
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CASE WHEN sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) > 0
                THEN round((o_totalprice - s1 / n)
                     / sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)), 9)
           END AS o_totalprice_z
    FROM stats
    """,
)
def q_standardized_order_values(spark, sf_dir):
    """Per-status z-scored order values (operators/analytics.py:
    standardize_columns): decimal-exact grouped moments, map-only
    projection."""
    from pos_api_pipeline_spark.operators.analytics import standardize_columns

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    return standardize_columns(o, ["o_totalprice"], by=["o_orderstatus"])


@register(
    "weighted_median_doc_length",
    """
    WITH c AS (
      SELECT lang,
             len(list_filter(string_split_regex(text, '\\s+'),
                             x -> x <> '')) AS n_words,
             CAST(n_chars AS BIGINT) AS wgt
      FROM documents
    ), cw AS (
      SELECT lang, n_words, wgt,
             sum(wgt) OVER (PARTITION BY lang
                            ORDER BY n_words, wgt
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(wgt) OVER (PARTITION BY lang) AS tot
      FROM c
    )
    SELECT lang,
           CAST(min(n_words) AS BIGINT) AS weighted_median,
           CAST(any_value(tot) AS BIGINT) AS total_weight
    FROM cw WHERE 2 * cum >= tot
    GROUP BY lang
    """,
)
def q_weighted_median_doc_length(spark, sf_dir):
    """Per-language n_chars-weighted median of document word count
    (operators/analytics.py:weighted_median) — integer-exact decision
    rule, no float threshold anywhere."""
    from pos_api_pipeline_spark.operators.analytics import weighted_median

    docs = _t(spark, sf_dir, "documents")
    from pos_api_pipeline_spark.llm.text import tokens as _toks

    base = docs.select(
        "lang",
        F.size(_toks("text")).cast("long").alias("n_words"),
        F.col("n_chars").cast("long").alias("wgt"),
    )
    return weighted_median(base, "n_words", "wgt", by=["lang"])


# ---------------------------------------------------------------------------
# TPC-H Q20 shape — potential part promotion (excess-stock
# suppliers): the last of the 22 classic shapes. The schema has no
# partsupp, so (as in Q2/Q11/Q16) the per-(part, supplier) "stock"
# derives from lineitem history: a pair's demonstrated capacity is
# its all-time shipped quantity, and it is EXCESS when more than 2×
# the target year's demand — the original's availqty > 0.5·year_qty
# with both sides derived. Plan: the part name filter broadcast-semi-
# joins the fact BEFORE the one partial-agg pass (conditional sum
# folds the correlated year subquery into the same aggregate);
# supplier/nation/region stay broadcast; quantities are small exact
# integers in doubles, so the 2× comparison is deterministic on both
# engines.
# ---------------------------------------------------------------------------


@register(
    "excess_stock_suppliers",
    """
    WITH pr AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
    pairs AS (
      SELECT l_partkey, l_suppkey,
             sum(l_quantity) AS capacity,
             sum(CASE WHEN year(l_shipdate) = 1997
                      THEN l_quantity ELSE 0 END) AS qty_1997
      FROM lineitem JOIN pr ON l_partkey = p_partkey
      GROUP BY 1, 2
    ), qual AS (
      SELECT DISTINCT l_suppkey FROM pairs
      WHERE capacity > 2.0 * qty_1997
    )
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation
    FROM qual q
    JOIN supplier s ON q.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
    ORDER BY s.s_name, s.s_suppkey
    """,
)
def q_excess_stock_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    pr = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("red"))
        .select("p_partkey")
    )
    pairs = (
        li.join(F.broadcast(pr), li.l_partkey == pr.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum("l_quantity").alias("capacity"),
            F.sum(
                F.when(
                    F.year("l_shipdate") == 1997, F.col("l_quantity")
                ).otherwise(F.lit(0.0))
            ).alias("qty_1997"),
        )
    )
    qual = (
        pairs.filter(F.col("capacity") > F.lit(2.0) * F.col("qty_1997"))
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        qual.join(F.broadcast(s), qual.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
        .orderBy("s_name", "s_suppkey")
    )
