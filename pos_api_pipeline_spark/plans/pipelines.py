"""End-to-end pipeline compositions (SURVEY.md §3 lifecycles).

The three entry points of the reference, rebuilt Spark-first:

- ``daily_incremental_run`` (reference: main.py:24-75): watermark →
  fetch → transform → merge-upsert → watermark advance. The transform
  chain is one lazy Catalyst plan. A non-empty tick runs four actions
  over the batch: the ``isEmpty`` check, the lake merge write, the
  watermark ``max()`` and the final ``count()`` of curated rows (plus
  the items SCD2 merge when an items fetcher is given); an empty batch
  stops after the first. The batch is a ``LocalRelation``, so none of
  them starts a Python worker.
- ``monthly_report_data`` (reference:
  reporting/monthly_report.py:634-692): two-month partition-pruned
  scan → window dedup → clean → combo explode → analytics fan-out
  over a cached frame.
- ``cumulative_report_data`` (reference:
  reporting/cumulative_report.py:712-759): full-history scan → same
  cleaning → KPIs, monthly trend, day×hour heatmap, weekday/weekend,
  combo analyses, basket rules.

The reference reuses one materialized pandas frame across ~7
analytics implicitly; in Spark that reuse must be explicit —
``.cache()`` at the fan-out point, unpersist at the end
(SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pos_api_pipeline_spark import lake
from pos_api_pipeline_spark.operators import analytics as A
from pos_api_pipeline_spark.operators.basket import frequent_itemsets_and_rules
from pos_api_pipeline_spark.operators.classifiers import (
    order_category,
    period_type,
)
from pos_api_pipeline_spark.operators.cleaning import clean_for_reporting
from pos_api_pipeline_spark.operators.combos import (
    analyze_combo_choices_with_mayo,
    explode_combo_items,
)
from pos_api_pipeline_spark.operators.transform import run_transform
from pos_api_pipeline_spark.operators.windows import window_dedup
from pos_api_pipeline_spark.sources import state


def daily_incremental_run(
    spark: SparkSession,
    fetch_receipts_page,
    lake_path: str,
    state_file: str,
    fetch_items_page=None,
    items_dim_path: str | None = None,
) -> dict:
    """§3.1 — the daily_run lifecycle. Returns a small status dict
    (rows ingested, new watermark).

    When an items fetcher is provided, the product catalog is
    version-tracked as an SCD2 dimension (the reference fetches items
    every run but only dumps them raw, etl/extract.py:180-183 — here
    price changes become queryable history)."""
    from pos_api_pipeline_spark.sources.rest_api import (
        fetch_incremental,
        items_to_df,
        paginate,
    )

    wm = state.read_last_timestamp(state_file)
    new_receipts = fetch_incremental(spark, fetch_receipts_page, wm)
    # Empty batch short-circuit (reference: main.py:43-45).
    if new_receipts.isEmpty():
        return {"rows": 0, "watermark": wm}
    curated = run_transform(new_receipts)
    lake.merge_and_overwrite(spark, curated, lake_path)
    if fetch_items_page is not None and items_dim_path is not None:
        items = items_to_df(spark, list(paginate(fetch_items_page)))
        items = items.withColumn("updated", F.current_timestamp())
        lake.scd2_merge(
            spark, items_dim_path, items,
            key="id", ts_col="updated", tracked_cols=["item_name", "price"],
        )
    new_wm = state.update_last_timestamp(state_file, new_receipts)
    return {"rows": curated.count(), "watermark": new_wm or wm}


def monthly_report_data(
    spark: SparkSession,
    lake_path: str,
    year: int,
    month: int,
) -> dict[str, DataFrame]:
    """§3.2 — the monthly comparison report's data layer: every
    analytic as a DataFrame keyed by name (rendering is a separate,
    driver-side concern).

    The reference compares the report month with the PREVIOUS month
    (and crashes in January computing it, monthly_report.py:40 — we
    roll the year instead, implementing the intent)."""
    prev_year, prev_month = (year, month - 1) if month > 1 else (year - 1, 12)
    months = [(year, month), (prev_year, prev_month)]
    df = lake.read_lake(spark, lake_path)
    # Partition-pruned predicate, same shape as the reference's WHERE
    # (year='Y' AND month='M') OR (year='Y2' AND month='M2')
    # (monthly_report.py:61-63) — Catalyst prunes to two directories.
    # Cast year: partition-type inference may read it back as int.
    cond = None
    for y, m in months:
        c = (F.col("year").cast("string") == str(y)) & (
            F.lpad(F.col("month").cast("string"), 2, "0") == f"{m:02d}"
        )
        cond = c if cond is None else (cond | c)
    pruned = df.filter(cond)
    deduped = window_dedup(pruned)  # W1: latest version of each line wins
    # The reference's split (monthly_report.py:656-676): every
    # comparison analytic runs on cleaned_df; ONLY top-products runs
    # on the exploded frame, sliced to the report month by
    # shifted_time's '%Y-%m' tag. Cache cleaned — it fans out 4 ways.
    cleaned = clean_for_reporting(deduped).withColumn(
        "month_tag", F.date_format("datetime", "yyyy-MM")
    ).cache()
    exploded = explode_combo_items(cleaned)

    tag = f"{year}-{month:02d}"
    this_month = exploded.filter(
        F.date_format("shifted_time", "yyyy-MM") == tag
    )
    out = {
        "top_products": A.top_k(this_month, "item_name", k=5),
        "weekday_orders": A.count_distinct_by(
            cleaned.withColumn("order_category", order_category("order_type")),
            ["month_tag", "day_of_week", "order_category"],
            "receipt_number",
        ),
        "daily_traffic": A.grouped_multi_agg(
            cleaned.withColumn("day", F.dayofmonth("datetime")),
            ["month_tag", "day"],
            sum_col="price",
            id_col="receipt_number",
        ),
        "kpis": cleaned.groupBy("month_tag").agg(
            F.sum("total_money").alias("revenue"),
            F.countDistinct("receipt_number").alias("n_receipts"),
        ),
    }
    return out


def cumulative_report_data(
    spark: SparkSession, lake_path: str
) -> dict[str, DataFrame]:
    """§3.3 — the all-history report's data layer."""
    df = lake.read_lake(spark, lake_path)
    # Reference split (cumulative_report.py:729-745): all KPIs/plots
    # run on cleaned_df (combo rows intact — their total_money counts
    # once); ONLY basket mining runs on the exploded frame.
    cleaned = clean_for_reporting(window_dedup(df)).cache()
    exploded = explode_combo_items(cleaned)

    heatmap = A.pivot_matrix(
        cleaned.withColumn("hour", F.hour("datetime")),
        index="day_of_week",
        columns="hour",
        pivot_values=list(range(24)),
    )
    _, rules = frequent_itemsets_and_rules(exploded)
    out = {
        "kpis": cleaned.agg(
            F.sum("total_money").alias("total_revenue"),
            F.countDistinct("receipt_number").alias("n_receipts"),
            F.min("datetime").alias("first_sale"),
            F.max("datetime").alias("last_sale"),
        ),
        "monthly_trend": A.grouped_sum(
            cleaned.withColumn("month_tag", F.date_format("datetime", "yyyy-MM")),
            ["month_tag"],
            "total_money",
            alias="revenue",
        ),
        "day_hour_heatmap": heatmap,
        "weekday_weekend": A.grouped_multi_agg(
            cleaned.withColumn("period_type", period_type("datetime")),
            ["period_type"],
            sum_col="total_money",
            id_col="receipt_number",
        ),
        "combo_mayo": analyze_combo_choices_with_mayo(cleaned),
        "basket_rules": rules,
    }
    return out
