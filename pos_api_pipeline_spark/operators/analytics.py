"""Parameterized analytic operators (SURVEY.md §2.5 A1–A11).

Each operator is a pure function over DataFrames, parameterized by
column names so the same implementation serves the POS curated table
and any star-schema fact table. Scale notes per operator:

- groupBy aggregates rely on Spark's partial (map-side) aggregation —
  the shuffle moves pre-combined partials, not raw rows.
- top-k uses orderBy+limit which Catalyst plans as
  TakeOrderedAndProject: per-partition heaps, only k rows per
  partition cross the wire.
- group-share uses a window aggregate (no row reduction) — at scale
  the window partitions by the group key, same shuffle as the groupBy
  would need; no driver involvement.
- empty-group preservation joins a (tiny, broadcast) dimension —
  Spark's groupBy drops empty groups, the reference's categorical
  ``observed=False`` keeps them (A9).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k(df: DataFrame, key: str | Sequence[str], k: int = 5,
          count_col: str = "count") -> DataFrame:
    """A1 — top-K groups by frequency
    (reference: reporting/data_preparation.py:9-33 get_top_products).

    Plans as partial-agg → shuffle on key → TakeOrderedAndProject:
    only k rows reach the driver side of the limit regardless of
    cardinality. Ties broken by key for determinism (the pandas
    ``value_counts`` tie order is insertion order — not reproducible;
    we pin a total order instead).
    """
    keys = [key] if isinstance(key, str) else list(key)
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias(count_col))
        .orderBy(F.desc(count_col), *keys)
        .limit(k)
    )


def count_distinct_by(
    df: DataFrame,
    keys: Sequence[str],
    id_col: str,
    alias: str = "unique_count",
) -> DataFrame:
    """A2 — COUNT DISTINCT per group
    (reference: reporting/data_preparation.py:71, 371-374;
    cumulative_report.py:79-87, 111)."""
    return df.groupBy(*keys).agg(F.countDistinct(id_col).alias(alias))


def grouped_multi_agg(
    df: DataFrame,
    keys: Sequence[str],
    sum_col: str,
    id_col: str,
    sum_alias: str = "total_sales",
    distinct_alias: str = "unique_receipts",
) -> DataFrame:
    """A5 — grouped sum + count-distinct
    (reference: reporting/data_preparation.py:379-417,
    cumulative_report.py:58-89)."""
    return df.groupBy(*keys).agg(
        F.sum(sum_col).alias(sum_alias),
        F.countDistinct(id_col).alias(distinct_alias),
    )


def group_count(df: DataFrame, keys: Sequence[str],
                alias: str = "count") -> DataFrame:
    """A6 — COUNT(*) per group (reference:
    reporting/data_preparation.py:228, 260, 296, 333)."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(alias))


def grouped_sum(df: DataFrame, keys: Sequence[str], val: str,
                alias: str = "total") -> DataFrame:
    """A7 — grouped sum (reference: cumulative_report.py:473)."""
    return df.groupBy(*keys).agg(F.sum(val).alias(alias))


def group_share(
    df: DataFrame,
    group_keys: Sequence[str],
    part_keys: Sequence[str],
    count_alias: str = "count",
    pct_alias: str = "percentage",
) -> DataFrame:
    """A8 + C13 — per-part count and % of group total
    (reference: reporting/data_preparation.py:258-266, 296-301:
    ``groupby(k)['count'].transform('sum')`` then percent).

    count per (group, part) + window-sum over group: the window
    re-uses the shuffle partitioning of the groupBy (same leading
    keys) so Catalyst plans one exchange, not two.
    """
    counted = group_count(df, [*group_keys, *part_keys], alias=count_alias)
    w = Window.partitionBy(*group_keys)
    return counted.withColumn(
        pct_alias,
        F.col(count_alias) / F.sum(count_alias).over(w) * 100.0,
    )


def pivot_matrix(
    df: DataFrame,
    index: str,
    columns: str,
    pivot_values: Sequence,
    fill: float = 0,
) -> DataFrame:
    """A10 — long→wide row-count pivot + fillna(0)
    (reference: cumulative_report.py:114, monthly_report.py:237-238,
    306-307).

    ``pivot_values`` fixes the column set, so Spark runs no extra
    distinct job to discover it and a huge cardinality cannot explode
    the schema. The reference pivots are day×hour and small category
    sets — bounded.
    """
    return (
        df.groupBy(index)
        .pivot(columns, list(pivot_values))
        .agg(F.count(F.lit(1)))
        .na.fill(fill)
    )


def preserve_empty_groups(
    aggregated: DataFrame,
    dimension: DataFrame,
    on: Sequence[str],
    fill_zero_cols: Sequence[str],
) -> DataFrame:
    """A9 — keep empty groups (pandas ``observed=False``).

    Spark's groupBy drops groups with no rows; the reference's ordered
    categorical keeps all 7 weekdays (reference:
    reporting/data_preparation.py:49-50, 71). Left-join from the
    dimension and zero-fill the aggregate columns. The join carries
    no broadcast hint: Spark cannot build the preserved side of a left
    outer join, so a hint on the dimension is dropped with a warning.
    """
    out = dimension.join(aggregated, on=list(on), how="left")
    return out.na.fill({c: 0 for c in fill_zero_cols})


def basket_lists(
    df: DataFrame,
    basket_key: str = "receipt_number",
    item_col: str = "item_name",
) -> DataFrame:
    """A12 — transaction basket building
    (reference: cumulative_report.py:137). ``collect_set`` (distinct)
    because FPGrowth requires unique items per basket — the reference
    feeds apriori one-hot encoded baskets which are implicitly
    distinct."""
    return df.groupBy(basket_key).agg(
        F.array_sort(F.collect_set(item_col)).alias("items")
    )


def histogram(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Fixed-width histogram over a numeric column: (bin, lo_edge,
    hi_edge, n), empty bins preserved via a broadcast bin dimension
    (Spark's groupBy drops them — same A9 trick as the weekday axis).
    Values outside [lo, hi) clamp into the edge bins, nulls are
    dropped. One aggregation shuffle of n_bins rows — at any corpus
    size the shuffle payload is the bin table, not data."""
    if n_bins <= 0 or not hi > lo:
        raise ValueError("need n_bins > 0 and hi > lo")
    width = (hi - lo) / n_bins
    c = F.col(col)
    bin_expr = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0), F.floor((c - F.lit(lo)) / F.lit(width)).cast("int")
        ),
    )
    counts = (
        df.filter(c.isNotNull())
        .select(bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spark = df.sparkSession
    bins = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    return (
        bins.join(F.broadcast(counts), "bin", "left")
        .select(
            "bin",
            (F.lit(lo) + F.col("bin") * F.lit(width)).alias("lo_edge"),
            (F.lit(lo) + (F.col("bin") + 1) * F.lit(width)).alias("hi_edge"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )


def profile_table(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """ANALYZE-style column profile: one output row per column with
    row/null/distinct counts and min/max (rendered as strings so
    heterogeneous column types share one schema). Single-pass: every
    statistic for every column computes in ONE aggregation over one
    scan — the stats-collection shape that feeds size estimates and
    join planning; never one job per column."""
    aggs = []
    for c in columns:
        col = F.col(c)
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(col).alias(f"{c}__distinct"),
            F.min(col).cast("string").alias(f"{c}__min"),
            F.max(col).cast("string").alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
            )
            for c in columns
        ]
    )
    return wide.select(F.explode(per_col).alias("p")).select("p.*")


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: users are cohorted by the week of
    their FIRST event; for each (cohort week, weeks-since) offset the
    fraction of the cohort still active. The standard growth-analytics
    triangle.

    Shape: one groupBy for first-seen, one join back (AQE broadcasts
    the per-user frame when small, shuffles on user otherwise — at
    100 TB users is the natural co-partition key for both sides), one
    distinct-user count per (cohort, offset), one broadcast join for
    cohort sizes. date_trunc('week') keeps the cohort key exact and
    engine-portable.

    Output: (cohort_week, week_offset, n_active, cohort_size,
    retention)."""
    first = events.groupBy(F.col(user_col).alias("u")).agg(
        F.date_trunc("week", F.min(ts_col)).alias("cohort_week")
    )
    joined = events.select(
        F.col(user_col).alias("u"), F.date_trunc("week", F.col(ts_col)).alias("w")
    ).join(first, "u")
    offset = (
        F.datediff(F.col("w"), F.col("cohort_week")) / 7
    ).cast("long")
    active = (
        joined.withColumn("week_offset", offset)
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("u").alias("n_active"))
    )
    sizes = first.groupBy("cohort_week").agg(
        F.countDistinct("u").alias("cohort_size")
    )
    return (
        active.join(F.broadcast(sizes), "cohort_week")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_active",
            "cohort_size",
            (F.col("n_active").cast("double") / F.col("cohort_size")).alias(
                "retention"
            ),
        )
    )


def _rfm_per_customer(
    orders: DataFrame, customer_col: str, ts_col: str, amount_col: str
) -> DataFrame:
    """(customer, frequency, monetary, recency_days) per customer, the
    frame both RFM scorers bin: recency is days since the customer's
    last order relative to the corpus max date (a one-row broadcast),
    so the result is deterministic; monetary is a decimal-exact
    total."""
    per_cust = orders.groupBy(F.col(customer_col).alias("customer")).agg(
        F.max(ts_col).alias("_last"),
        F.count(F.lit(1)).alias("frequency"),
        (
            F.sum(
                F.floor(
                    F.col(amount_col) * F.lit(100.0) + F.lit(0.5)
                ).cast("decimal(38,0)")
            ).cast("double")
            / F.lit(100.0)
        ).alias("monetary"),
    )
    maxd = orders.agg(F.max(ts_col).alias("_maxd"))
    return (
        per_cust.crossJoin(F.broadcast(maxd))
        .withColumn(
            "recency_days",
            F.datediff(F.col("_maxd"), F.col("_last")).cast("long"),
        )
        .drop("_last", "_maxd")
    )


def rfm_segments(
    orders: DataFrame,
    customer_col: str = "o_custkey",
    ts_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n_bins: int = 4,
) -> DataFrame:
    """RFM segmentation: per customer recency (days since last order,
    relative to the corpus max date so the result is deterministic),
    frequency (order count), monetary (decimal-exact total), each
    scored into ``n_bins`` equal-size ntile bins. Recency bin
    ``n_bins`` = most recent (conventional: higher is better on every
    axis).

    Three global-sort windows over the per-customer frame — fine on
    small frames, a scale trap past ~10⁷ customers, where
    ``rfm_segments_scalable`` (percentile-boundary bucketing, no
    single-partition window) is the shape; the two differ only in
    boundary-tie placement.

    Output: (customer, recency_days, frequency, monetary, r, f, m,
    rfm_segment)."""
    scored = _rfm_per_customer(orders, customer_col, ts_col, amount_col)
    r = F.ntile(n_bins).over(
        Window.orderBy(F.desc("recency_days"), F.asc("customer"))
    )
    f = F.ntile(n_bins).over(
        Window.orderBy(F.asc("frequency"), F.asc("customer"))
    )
    m = F.ntile(n_bins).over(
        Window.orderBy(F.asc("monetary"), F.asc("customer"))
    )
    return (
        scored.withColumn("r", r)
        .withColumn("f", f)
        .withColumn("m", m)
        .select(
            "customer",
            "recency_days",
            "frequency",
            "monetary",
            "r",
            "f",
            "m",
            F.concat_ws("", F.col("r"), F.col("f"), F.col("m")).alias(
                "rfm_segment"
            ),
        )
    )


def rfm_segments_scalable(
    orders: DataFrame,
    customer_col: str = "o_custkey",
    ts_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n_bins: int = 4,
) -> DataFrame:
    """Scale-safe RFM: same per-customer (recency, frequency,
    monetary) frame as ``rfm_segments``, but scored by PERCENTILE
    BOUNDARIES instead of global ntile — the 100 TB shape flagged in
    VERDICT r03 item 4. Boundaries are one distributive aggregate
    (exact ``percentile``), broadcast as a 1-row frame, and bucketing
    is a map-side comparison: no single-partition window anywhere in
    the plan.

    Semantics differ from ntile on boundary ties: a value equal to a
    cut point lands in the LOWER bin (ntile splits ties by the
    customer-id tiebreaker to equalize bin sizes). Segment labels are
    what these scores feed, and labels don't need equal-size bins —
    they need stable, meaningful cuts. Higher is better on every
    axis, as in ``rfm_segments``.

    Output: (customer, recency_days, frequency, monetary, r, f, m,
    rfm_segment) — same schema as ``rfm_segments``."""
    scored = _rfm_per_customer(orders, customer_col, ts_col, amount_col)
    pcts = [k / n_bins for k in range(1, n_bins)]
    pct_arr = "array(" + ",".join(str(p) for p in pcts) + ")"
    cuts = F.broadcast(
        scored.agg(
            F.expr(f"percentile(recency_days, {pct_arr})").alias("_rb"),
            F.expr(f"percentile(frequency, {pct_arr})").alias("_fb"),
            F.expr(f"percentile(monetary, {pct_arr})").alias("_mb"),
        )
    )

    def bucket(col: str, cut: str) -> Column:
        # 1 + number of cut points strictly below the value
        over = F.aggregate(
            F.col(cut),
            F.lit(0),
            lambda acc, b: acc
            + F.when(F.col(col) > b, 1).otherwise(0),
        )
        return (F.lit(1) + over).cast("int")

    return (
        scored.crossJoin(cuts)
        .withColumn(
            # recency: fewer days = better = higher score
            "r",
            (F.lit(n_bins + 1) - bucket("recency_days", "_rb")).cast("int"),
        )
        .withColumn("f", bucket("frequency", "_fb"))
        .withColumn("m", bucket("monetary", "_mb"))
        .select(
            "customer",
            "recency_days",
            "frequency",
            "monetary",
            "r",
            "f",
            "m",
            F.concat_ws("", F.col("r"), F.col("f"), F.col("m")).alias(
                "rfm_segment"
            ),
        )
    )


def daily_anomaly_scores(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Volume-anomaly detection on the event stream: daily counts per
    event type, z-scored against that type's own history
    (population stddev), flagged when |z| exceeds the threshold — the
    ops-dashboard primitive for catching ingestion gaps and bot
    spikes.

    Two aggregations: day-grain counts (partial-agg over the events),
    then per-type mean/stddev as a window over the TINY daily frame —
    the aggregate-first ordering that keeps the wide work off the
    fact table. stddev uses the population form computed explicitly
    as sqrt(E[x²]−E[x]²) from integer sums, so both engines derive
    it from exact integer arithmetic (no Welford-order drift).

    Output: (day, event_type, n, mean_n, std_n, z, is_anomaly);
    z is null for types with zero variance.
    """
    daily = events.groupBy(
        F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day"),
        F.col(type_col).alias("event_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type")
    cnt = F.count(F.lit(1)).over(w)
    s1 = F.sum("n").over(w)
    s2 = F.sum(F.col("n") * F.col("n")).over(w)
    mean = s1.cast("double") / cnt
    var = s2.cast("double") / cnt - mean * mean
    # std is exposed and derives from the same FMA-contractible
    # subtraction as z — round it too (9 dp; engines differ in the
    # last ulp when a*b-c contracts to fma()).
    std = F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 9)
    z = F.when(std > 0, F.round((F.col("n") - mean) / std, 9))
    return (
        daily.withColumn("mean_n", mean)
        .withColumn("std_n", std)
        .withColumn("z", z)
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(z) > F.lit(z_threshold), F.lit(False)),
        )
    )


def correlation_matrix(
    df: DataFrame, cols: Sequence[str], round_products: int = 4
) -> DataFrame:
    """Pearson correlation for every column pair, exactly, in ONE
    aggregation pass: per pair, corr = (n·Σxy − Σx·Σy) /
    √(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²), with every product snapped to a
    10^``round_products`` FIXED-POINT integer and accumulated as
    DECIMAL — the sums are order-independent integers, so the one
    double expression at the end is bit-identical across engines and
    partitionings (same discipline as the revenue sums).

    Fixed-point via ``floor(x·10^k + 0.5)`` (round-half-up for
    positives, half-toward-+inf for negatives — identical on both
    engines, which is all parity needs), NOT ``round(x, k)``: floor
    is pure IEEE float math and
    ``floor(double)`` is already LongType, so the per-row path is
    codegen arithmetic + a compact long→decimal cast — no BigDecimal
    allocation per row (the old round+double→decimal chain was the
    bench's top cost, VERDICT r4 item 4). The oracle computes the
    identical float expression, so engine parity is unchanged.

    One scan, one partial-agg — the shape ANALYZE-style profiling
    needs at 100 TB. Assumes complete columns (the per-column count
    is used as the pair n); for null-bearing columns filter to
    complete cases first. Output: (col_a, col_b, corr) for
    a < b.
    """
    names = list(cols)
    mult = F.lit(float(10 ** round_products))
    inv = F.lit(float(10 ** round_products))

    def fixed(expr):
        return F.sum(
            F.floor(expr * mult + F.lit(0.5)).cast("decimal(38,0)")
        )

    aggs = []
    for c in names:
        aggs.append(F.count(F.col(c)).alias(f"n_{c}"))
        aggs.append(fixed(F.col(c)).alias(f"s_{c}"))
        aggs.append(fixed(F.col(c) * F.col(c)).alias(f"ss_{c}"))
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            aggs.append(fixed(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    stats = df.agg(*aggs)
    rows = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            n = F.col(f"n_{a}").cast("double")
            sa = F.col(f"s_{a}").cast("double") / inv
            sb = F.col(f"s_{b}").cast("double") / inv
            ssa = F.col(f"ss_{a}").cast("double") / inv
            ssb = F.col(f"ss_{b}").cast("double") / inv
            sp = F.col(f"sp_{a}_{b}").cast("double") / inv
            num = n * sp - sa * sb
            den = F.sqrt(n * ssa - sa * sa) * F.sqrt(n * ssb - sb * sb)
            # 9-dp rounding: num/den is FMA-contractible (see
            # standardize_columns); correlations are in [-1, 1].
            rows.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.when(den > 0, F.round(num / den, 9)).alias("corr"),
                )
            )
    return stats.select(F.explode(F.array(*rows)).alias("r")).select(
        "r.col_a", "r.col_b", "r.corr"
    )


def event_transition_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """First-order Markov transition counts/probabilities between
    consecutive events per user — the behavioral fingerprint behind
    next-action prediction and bot detection (bots have degenerate
    transition rows).

    One lag window partitioned by user (the same single shuffle any
    per-user sequence op costs), then a partial-agg count. Ordering
    ties on identical timestamps break by event id if present — here
    (ts, type) ordering is made total with the type as tiebreaker so
    both engines pair identically. Probabilities are exact count
    ratios.

    Output: (from_type, to_type, n, p) where p normalizes over the
    from_type row.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, type_col)
    pairs = (
        events.withColumn("_prev", F.lag(type_col).over(w))
        .filter(F.col("_prev").isNotNull())
        .groupBy(
            F.col("_prev").alias("from_type"),
            F.col(type_col).alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_tot = Window.partitionBy("from_type")
    return pairs.withColumn(
        "p", F.col("n").cast("double") / F.sum("n").over(row_tot)
    )


def conversion_latency(
    events: DataFrame,
    from_event: str,
    to_event: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Time-to-convert distribution: per user, seconds from the FIRST
    ``from_event`` to the first LATER-OR-EQUAL ``to_event``; summary
    row of conversion rate and exact latency percentiles. The funnel
    companion to ``cohort_retention``.

    Shape: one conditional-min aggregate per user (map-side
    combinable — never a self-join on the events table), then one
    tiny percentile pass over the per-user frame.
    """
    per_user = events.groupBy(F.col(user_col).alias("user")).agg(
        F.min(
            F.when(F.col(type_col) == from_event, F.col(ts_col))
        ).alias("t_from")
    )
    # first qualifying to_event at/after t_from, via a second
    # conditional aggregate joined on the user (events shuffle once
    # on user for both aggregates under AQE exchange reuse)
    to_ts = events.filter(F.col(type_col) == to_event).select(
        F.col(user_col).alias("_tu"), F.col(ts_col).alias("t_to")
    )
    # The time predicate belongs IN the left-join condition: as a
    # post-join filter it would DELETE a started user whose only
    # to_events precede t_from instead of null-extending them —
    # understating n_started (review-confirmed divergence vs the SQL
    # twin, which has the predicate in the ON clause).
    joined = (
        per_user.filter(F.col("t_from").isNotNull())
        .join(
            to_ts,
            (F.col("user") == F.col("_tu"))
            & (F.col("t_to") >= F.col("t_from")),
            "left",
        )
        .groupBy("user")
        .agg(
            F.first("t_from").alias("t_from"),
            F.min("t_to").alias("t_conv"),
        )
    )
    # NTZ-safe elapsed seconds: timestamp subtraction yields a
    # day-time interval for TIMESTAMP and TIMESTAMP_NTZ alike, and
    # casting the interval to long truncates to whole seconds
    # (numeric casts on NTZ itself are rejected — ROADMAP "r2 bench").
    lat = joined.withColumn(
        "latency_s",
        F.when(
            F.col("t_conv").isNotNull(),
            (F.col("t_conv") - F.col("t_from")).cast("long"),
        ),
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_started"),
        F.sum(F.col("latency_s").isNotNull().cast("long")).alias(
            "n_converted"
        ),
        (
            F.sum(F.col("latency_s").isNotNull().cast("long")).cast("double")
            / F.count(F.lit(1))
        ).alias("conversion_rate"),
        # 6-dp rounding: percentile interpolation arithmetic differs
        # at the last ulp between engines.
        F.round(F.percentile("latency_s", F.lit(0.5)), 6).alias("p50_s"),
        F.round(F.percentile("latency_s", F.lit(0.9)), 6).alias("p90_s"),
    )


def standardize_columns(
    df: DataFrame,
    cols: Sequence[str],
    by: Sequence[str] | None = None,
    round_in: int = 4,
) -> DataFrame:
    """Z-score standardization of numeric columns, optionally per
    group — the feature-prep staple before any distance-based ML
    (kNN, KMeans, embedding fusion). Appends ``{col}_z`` columns.

    Moments come from the same integer-exact machinery as
    ``daily_anomaly_scores``/``correlation_matrix``: inputs rounded to
    ``round_in`` dp and accumulated as DECIMAL, population variance
    from sqrt(E[x²]−E[x]²), so the stats — and therefore the z-scores
    — are identical across engines and partitionings. Zero-variance
    columns yield null z (never a divide-by-zero or NaN).

    One aggregation over the data (window form when ``by`` is given —
    the grouped stats ride the same shuffle as the window), then a
    map-only projection.
    """
    def _x(c):
        return F.round(F.col(c), round_in).cast("decimal(28,8)")

    def _xx(c):
        return F.round(F.col(c) * F.col(c), round_in).cast("decimal(28,8)")

    # 9-dp rounding on z throughout: the variance expression is
    # FMA-contractible and engines differ in the last ulp; z-scores
    # are O(1) so 9 dp is far inside the meaningful precision.
    if by:
        w = Window.partitionBy(*[F.col(c) for c in by])
        out = df
        for c in cols:
            n = F.count(F.col(c)).over(w)
            s1 = F.sum(_x(c)).over(w).cast("double")
            s2 = F.sum(_xx(c)).over(w).cast("double")
            mean = s1 / n
            var = F.greatest(s2 / n - mean * mean, F.lit(0.0))
            std = F.sqrt(var)
            out = out.withColumn(
                f"{c}_z",
                F.when(std > 0, F.round((F.col(c) - mean) / std, 9)),
            )
        return out
    # Global path: an empty-partition window would collapse the whole
    # dataset into ONE task. Compute the moments with a regular
    # aggregate and carry them as a one-row broadcast (the
    # important_part_value scalar pattern) — the projection stays
    # map-only and parallel.
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"_n_{c}"),
            F.sum(_x(c)).cast("double").alias(f"_s1_{c}"),
            F.sum(_xx(c)).cast("double").alias(f"_s2_{c}"),
        ]
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        n = F.col(f"_n_{c}")
        mean = F.col(f"_s1_{c}") / n
        var = F.greatest(F.col(f"_s2_{c}") / n - mean * mean, F.lit(0.0))
        std = F.sqrt(var)
        out = out.withColumn(
            f"{c}_z",
            F.when(std > 0, F.round((F.col(c) - mean) / std, 9)),
        )
    return out.drop(
        *[f"_{p}_{c}" for c in cols for p in ("n", "s1", "s2")]
    )


def weighted_median(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    by: Sequence[str] = (),
) -> DataFrame:
    """Exact weighted median per group: the smallest value whose
    cumulative weight reaches half the group total (lower weighted
    median). The right center for size-weighted questions — "the
    median TOKEN sits in a document of what length?" is the
    n_chars-weighted median of length, not the plain one.

    All-integer decision rule: a row qualifies iff 2·cumweight ≥
    total, so there is no floating-point threshold to drift across
    engines. One sort-window per group (the same single shuffle any
    per-group quantile costs) + one aggregate.

    Output: group cols + (weighted_median, total_weight).
    """
    keys = list(by)
    w = (
        Window.partitionBy(*[F.col(c) for c in keys])
        .orderBy(F.col(value_col), F.col(weight_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy(*[F.col(c) for c in keys])
    cum = F.sum(F.col(weight_col).cast("long")).over(w)
    total = F.sum(F.col(weight_col).cast("long")).over(tot)
    qualified = (
        df.withColumn("_cum", cum)
        .withColumn("_tot", total)
        .filter(F.lit(2) * F.col("_cum") >= F.col("_tot"))
    )
    return qualified.groupBy(*keys).agg(
        F.min(F.col(value_col)).alias("weighted_median"),
        F.first("_tot").alias("total_weight"),
    )
