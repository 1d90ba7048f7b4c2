"""Operator-level tests for analytics / windows / classifiers."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pos_api_pipeline_spark.operators import analytics as A
from pos_api_pipeline_spark.operators import windows as W
from pos_api_pipeline_spark.operators.classifiers import (
    beverage_category,
    order_category,
    period_type,
    standardize_beverage_name,
    standardize_mayo,
)
from pos_api_pipeline_spark.operators.cleaning import WEEKDAY_ORDER, clean_for_reporting


@pytest.fixture(scope="module")
def pos(spark):
    rows = [
        # receipt, datetime, order_type, item, cost, price, total
        ("r1", dt.datetime(2025, 7, 21, 12, 0), "Mesa 2", "Burger", 10.0, 50.0, 50.0),
        ("r1", dt.datetime(2025, 7, 21, 12, 0), "Mesa 2", "Refresco", 5.0, 20.0, 20.0),
        ("r2", dt.datetime(2025, 7, 22, 13, 0), "A domicilio", "Burger", 10.0, 50.0, 50.0),
        ("r3", dt.datetime(2025, 7, 25, 20, 0), "Para llevar", "Malteada", 8.0, 30.0, 30.0),
        ("r4", dt.datetime(2025, 7, 26, 21, 0), "Mesa 2", "Burger", 10.0, 50.0, 50.0),
    ]
    return spark.createDataFrame(
        rows,
        "receipt_number string, datetime timestamp, order_type string,"
        "item_name string, cost double, price double, total_money double",
    )


def test_top_k(pos):
    top = A.top_k(pos, "item_name", k=2).collect()
    assert [(r.item_name, r["count"]) for r in top] == [("Burger", 3), ("Malteada", 1)]


def test_count_distinct_by(pos):
    out = {
        r.order_type: r.unique_count
        for r in A.count_distinct_by(pos, ["order_type"], "receipt_number").collect()
    }
    assert out == {"Mesa 2": 2, "A domicilio": 1, "Para llevar": 1}


def test_group_share_sums_to_100(pos):
    shares = A.group_share(pos, ["order_type"], ["item_name"]).collect()
    mesa = [r for r in shares if r.order_type == "Mesa 2"]
    assert sum(r.percentage for r in mesa) == pytest.approx(100.0)


def test_pivot_matrix(pos):
    wide = A.pivot_matrix(
        pos, "order_type", "item_name",
        pivot_values=["Burger", "Refresco", "Malteada"],
    )
    row = {r.order_type: r for r in wide.collect()}
    assert row["Mesa 2"]["Burger"] == 2
    assert row["Mesa 2"]["Malteada"] == 0  # fillna(0)


def test_preserve_empty_groups(spark, pos):
    agg = A.count_distinct_by(
        pos.withColumn("dow", F.date_format("datetime", "EEEE")),
        ["dow"], "receipt_number", alias="n",
    )
    dim = spark.createDataFrame([(d,) for d in WEEKDAY_ORDER], "dow string")
    kept = A.preserve_empty_groups(agg, dim, on=["dow"], fill_zero_cols=["n"])
    # Spark cannot build the preserved side of a left outer join: a
    # broadcast hint there is dropped with a HintErrorLogger warning.
    analyzed = kept._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "broadcast" not in analyzed.lower()
    got = {r.dow: r.n for r in kept.collect()}
    assert len(got) == 7 and got["Sunday"] == 0 and got["Monday"] == 1


def test_window_dedup_latest_wins(spark):
    df = spark.createDataFrame(
        [
            ("r1", "Burger", dt.datetime(2025, 7, 21, 10, 0), 1.0),
            ("r1", "Burger", dt.datetime(2025, 7, 21, 11, 0), 2.0),
            ("r2", "Burger", dt.datetime(2025, 7, 21, 9, 0), 3.0),
        ],
        "receipt_number string, item_name string, shifted_time timestamp, v double",
    )
    out = W.window_dedup(df).collect()
    assert {(r.receipt_number, r.v) for r in out} == {("r1", 2.0), ("r2", 3.0)}


def test_pct_change(spark):
    df = spark.createDataFrame(
        [("2025-01", 100.0), ("2025-02", 150.0), ("2025-03", 75.0)],
        "month string, revenue double",
    )
    out = {r.month: r.pct_change for r in W.pct_change_over(df, "month", "revenue").collect()}
    assert out["2025-01"] is None
    assert out["2025-02"] == pytest.approx(50.0)
    assert out["2025-03"] == pytest.approx(-50.0)


def test_classifiers(spark):
    df = spark.createDataFrame(
        [("Mesa 2", "Malteada Chocolate", "Mayonesa(Sin mayonesa)",
          "Hamburguesa Smash 1", dt.datetime(2025, 7, 25, 12, 0))],  # Friday
        "order_type string, item string, mayo string, sub string, ts timestamp",
    )
    row = df.select(
        order_category("order_type").alias("oc"),
        beverage_category("item").alias("bc"),
        standardize_mayo("mayo").alias("mayo"),
        standardize_beverage_name(F.lit("Agua mineral")).alias("bev"),
        period_type("ts").alias("pt"),
    ).collect()[0]
    assert row.oc == "Restaurante"
    assert row.bc == "Malteadas"
    assert row.mayo == "Natural"
    assert row.bev == "Agua Mineral"
    assert row.pt == "Weekend"  # Friday counts as weekend (business rule)


def test_clean_for_reporting(spark):
    df = spark.createDataFrame(
        [
            ("r1", "2025-07-21 12:00:00", "Burger", "150.0", None, 150.0),
            (None, "2025-07-21 12:00:00", "X", "1", "1", 1.0),  # dropped: null receipt
            ("r3", None, "Y", "1", "1", 1.0),  # dropped: null datetime
            ("r4", "2025-07-22 13:00:00", None, "bad", "2", 2.0),  # coercion + fill
        ],
        "receipt_number string, datetime string, item_name string,"
        "price string, cost string, total_money double",
    )
    out = clean_for_reporting(df)
    rows = {r.receipt_number: r for r in out.collect()}
    assert set(rows) == {"r1", "r4"}
    assert rows["r1"].price == 150.0 and rows["r1"].cost == 0.0  # null -> 0
    assert rows["r4"].price == 0.0  # 'bad' -> null -> 0
    assert rows["r4"].item_name == "Unknown"
    assert rows["r1"].day_of_week == "Monday" and rows["r1"].hour_of_day == 12


def test_histogram_hand_computed(spark):
    import pytest
    from pyspark.sql import functions as F

    from pos_api_pipeline_spark.operators.analytics import histogram

    df = spark.createDataFrame(
        [(v,) for v in [-5.0, 0.0, 0.9, 1.0, 5.0, 9.9, 10.0, 25.0, None]],
        "v double",
    )
    out = {r.bin: r for r in histogram(df, "v", 0.0, 10.0, 10).collect()}
    assert len(out) == 10  # empty bins preserved
    # -5 clamps into bin 0; 10.0 and 25.0 clamp into bin 9; null dropped.
    assert out[0].n == 3  # -5.0, 0.0, 0.9
    assert out[1].n == 1  # 1.0
    assert out[5].n == 1  # 5.0
    assert out[9].n == 3  # 9.9, 10.0, 25.0
    assert sum(r.n for r in out.values()) == 8
    assert out[3].lo_edge == 3.0 and out[3].hi_edge == 4.0
    with pytest.raises(ValueError):
        histogram(df, "v", 5.0, 5.0, 10)


def test_profile_table_single_job(spark):
    from pos_api_pipeline_spark.operators.analytics import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")],
        "id int, tag string",
    )
    out = {r.column: r for r in profile_table(df, ["id", "tag"]).collect()}
    assert out["id"].n_rows == 4 and out["id"].n_nulls == 1
    assert out["id"].n_distinct == 3
    assert (out["id"].min_value, out["id"].max_value) == ("1", "3")
    assert out["tag"].n_nulls == 1 and out["tag"].n_distinct == 2
    assert (out["tag"].min_value, out["tag"].max_value) == ("a", "b")
    # Single-pass shape: one aggregate over one scan.
    plan = (
        profile_table(df, ["id", "tag"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan") <= 1


def test_cohort_retention_hand_computed(spark):
    import datetime as dt

    from pos_api_pipeline_spark.operators.analytics import cohort_retention

    # Users 1,2 first seen week of Mon 2024-01-01; user 1 returns two
    # weeks later; user 3 starts in week 2.
    rows = [
        (1, dt.datetime(2024, 1, 2, 10)),
        (2, dt.datetime(2024, 1, 4, 9)),
        (1, dt.datetime(2024, 1, 16, 8)),
        (3, dt.datetime(2024, 1, 9, 7)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r.cohort_week, r.week_offset): (r.n_active, r.cohort_size, r.retention)
        for r in cohort_retention(df).collect()
    }
    assert got[("2024-01-01", 0)] == (2, 2, 1.0)
    assert got[("2024-01-01", 2)] == (1, 2, 0.5)
    assert got[("2024-01-08", 0)] == (1, 1, 1.0)
    assert ("2024-01-01", 1) not in got  # nobody active in week 1


def test_rfm_segments_monotone_bins(spark):
    import datetime as dt

    from pos_api_pipeline_spark.operators.analytics import rfm_segments

    rows = []
    for c in range(8):
        # customer c: c+1 orders, sized so frequency/monetary/recency
        # all increase with c (latest order day also advances with c).
        for j in range(c + 1):
            rows.append((c, dt.datetime(2024, 1, 1 + c) , float(100 * (c + 1))))
    df = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate timestamp, o_totalprice double"
    )
    res = rfm_segments(df)
    out = {r.customer: r for r in res.collect()}
    assert len(out) == 8
    # Best customer on every axis gets the top segment, worst the bottom.
    assert out[7].rfm_segment == "444"
    assert out[0].rfm_segment == "111"
    # frequency/monetary bins are non-decreasing in c
    fs = [out[c].f for c in range(8)]
    ms = [out[c].m for c in range(8)]
    assert fs == sorted(fs) and ms == sorted(ms)


def test_daily_anomaly_scores_flags_the_spike(spark):
    import datetime as dt

    from pos_api_pipeline_spark.operators.analytics import daily_anomaly_scores

    rows = []
    # 20 steady days of 10 clicks, then one day with 100.
    for d in range(20):
        for j in range(10):
            rows.append((dt.datetime(2024, 1, 1 + d, 12, j), "click"))
    for j in range(100):
        rows.append((dt.datetime(2024, 1, 21, 12, j % 60, j // 60), "click"))
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = {r.day: r for r in daily_anomaly_scores(df).collect()}
    assert out["2024-01-21"].is_anomaly and out["2024-01-21"].z > 3
    assert not out["2024-01-05"].is_anomaly and out["2024-01-05"].z < 0
    # constant series → zero variance → null z, never flagged
    const = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1 + d), "view") for d in range(5)],
        "ts timestamp, event_type string",
    )
    for r in daily_anomaly_scores(const).collect():
        assert r.z is None and r.is_anomaly is False


def test_correlation_matrix_known_values(spark):
    from pos_api_pipeline_spark.operators.analytics import correlation_matrix

    # y = 2x exactly → corr 1; z alternates against x → negative corr.
    rows = [(float(i), float(2 * i), float(-i + (i % 2))) for i in range(50)]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    got = {
        (r.col_a, r.col_b): r.corr
        for r in correlation_matrix(df, ["x", "y", "z"]).collect()
    }
    assert abs(got[("x", "y")] - 1.0) < 1e-9
    assert got[("x", "z")] < -0.99
    # constant column → zero denominator → null, not NaN/crash
    df2 = spark.createDataFrame(
        [(float(i), 5.0) for i in range(10)], "a double, b double"
    )
    r = correlation_matrix(df2, ["a", "b"]).collect()[0]
    assert r.corr is None


def test_event_transition_matrix_hand_computed(spark):
    import datetime as dt

    from pos_api_pipeline_spark.operators.analytics import (
        event_transition_matrix,
    )

    rows = [
        (1, dt.datetime(2024, 1, 1, 1), "a"),
        (1, dt.datetime(2024, 1, 1, 2), "b"),
        (1, dt.datetime(2024, 1, 1, 3), "a"),
        (2, dt.datetime(2024, 1, 1, 1), "a"),
        (2, dt.datetime(2024, 1, 1, 2), "b"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        (r.from_type, r.to_type): (r.n, r.p)
        for r in event_transition_matrix(df).collect()
    }
    assert got[("a", "b")] == (2, 1.0)   # a always goes to b
    assert got[("b", "a")] == (1, 1.0)
    assert ("a", "a") not in got


def test_conversion_latency_hand_computed(spark):
    import datetime as dt

    from pos_api_pipeline_spark.operators.analytics import conversion_latency

    rows = [
        # user 1 converts after 100 s; an earlier purchase (before
        # signup) must NOT count.
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), "purchase"),
        (1, dt.datetime(2024, 1, 1, 1, 0, 0), "signup"),
        (1, dt.datetime(2024, 1, 1, 1, 1, 40), "purchase"),
        # user 2 signs up, never converts
        (2, dt.datetime(2024, 1, 1, 2, 0, 0), "signup"),
        # user 3 never signs up: not in the funnel at all
        (3, dt.datetime(2024, 1, 1, 3, 0, 0), "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    r = conversion_latency(df, "signup", "purchase").collect()[0]
    assert (r.n_started, r.n_converted) == (2, 1)
    assert r.conversion_rate == 0.5
    assert r.p50_s == 100.0


def test_standardize_columns_grouped_and_degenerate(spark):
    from pos_api_pipeline_spark.operators.analytics import standardize_columns

    rows = [("a", 1.0), ("a", 3.0), ("b", 5.0), ("b", 5.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = standardize_columns(df, ["v"], by=["g"]).collect()
    byg = {}
    for r in out:
        byg.setdefault(r.g, []).append(r.v_z)
    # group a: mean 2, std 1 → z = ±1
    assert sorted(byg["a"]) == [-1.0, 1.0]
    # group b: zero variance → null z
    assert byg["b"] == [None, None]
    # ungrouped: global moments
    g = standardize_columns(df, ["v"]).collect()
    import statistics

    vals = [r.v for r in g]
    mu = sum(vals) / 4
    sd = (sum((v - mu) ** 2 for v in vals) / 4) ** 0.5
    for r in g:
        assert abs(r.v_z - (r.v - mu) / sd) < 1e-9


def test_conversion_latency_counts_preconversion_only_users(spark):
    """A user whose only to_events PRECEDE their signup must still
    count as started-not-converted (review finding: a post-join
    filter deleted them)."""
    import datetime as dt

    from pos_api_pipeline_spark.operators.analytics import conversion_latency

    rows = [
        (1, dt.datetime(2024, 1, 1, 0), "purchase"),
        (1, dt.datetime(2024, 1, 2, 0), "signup"),   # no purchase after
        (2, dt.datetime(2024, 1, 1, 0), "signup"),
        (2, dt.datetime(2024, 1, 1, 1), "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    r = conversion_latency(df, "signup", "purchase").collect()[0]
    assert (r.n_started, r.n_converted) == (2, 1)
    assert r.conversion_rate == 0.5


def test_standardize_global_path_avoids_single_partition_window(spark):
    from pos_api_pipeline_spark.operators.analytics import standardize_columns

    df = spark.createDataFrame(
        [(float(i),) for i in range(100)], "v double"
    )
    out = standardize_columns(df, ["v"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # broadcast-stats path, stays parallel
    vals = [r.v_z for r in out.collect()]
    assert abs(sum(vals)) < 1e-6  # z-scores sum to ~0


def test_weighted_median_hand_computed(spark):
    from pos_api_pipeline_spark.operators.analytics import weighted_median

    # values 1..4 with weights 1,1,1,7 → half of 10 is 5; cumulative
    # reaches 5 only at value 4 → weighted median 4 (plain median 2.5).
    df = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 7)], "v long, w long"
    )
    r = weighted_median(df, "v", "w").collect()[0]
    assert (r.weighted_median, r.total_weight) == (4, 10)
    # equal weights → lower median of the values
    df2 = spark.createDataFrame([(i, 1) for i in range(1, 5)], "v long, w long")
    assert weighted_median(df2, "v", "w").collect()[0].weighted_median == 2
    # grouped
    df3 = spark.createDataFrame(
        [("a", 1, 9), ("a", 5, 1), ("b", 7, 1)], "g string, v long, w long"
    )
    got = {
        r.g: r.weighted_median
        for r in weighted_median(df3, "v", "w", by=["g"]).collect()
    }
    assert got == {"a": 1, "b": 7}


def test_rfm_segments_scalable_monotone_and_windowless(spark):
    import datetime as dt

    from pos_api_pipeline_spark.operators.analytics import (
        rfm_segments_scalable,
    )

    rows = []
    for c in range(8):
        for j in range(c + 1):
            rows.append((c, dt.datetime(2024, 1, 1 + c), float(100 * (c + 1))))
    df = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate timestamp, o_totalprice double"
    )
    res = rfm_segments_scalable(df)
    out = {r.customer: r for r in res.collect()}
    assert len(out) == 8
    assert out[7].rfm_segment == "444"
    assert out[0].rfm_segment == "111"
    fs = [out[c].f for c in range(8)]
    ms = [out[c].m for c in range(8)]
    assert fs == sorted(fs) and ms == sorted(ms)
    # the scale guarantee: no Window operator anywhere in the plan
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
