"""End-to-end pipeline compositions (SURVEY.md §3 lifecycles).

The three entry points of the reference, rebuilt Spark-first:

- ``daily_incremental_run`` (reference: main.py:24-75): watermark →
  fetch → transform → merge-upsert → watermark advance. The batch is
  a ``LocalRelation``, so the ``isEmpty`` check folds into it and runs
  no job; an empty batch stops there. A non-empty tick computes the
  curated page once, as one task, and pulls it to the driver as an
  Arrow table (a page is at most ``fetch_incremental``'s limit of
  receipts); the new watermark ``max(updated_at)`` rides on that job
  as an observed metric. The page is re-landed as a ``LocalRelation``
  for the lake merge, which on the append path (no stored key
  collides) runs two more jobs: the key probe and the one-task
  append. A tick is 3 jobs; a redelivered page rewrites its months
  in 4 (plus the items SCD2 merge when an items fetcher is given).
- ``monthly_report_data`` (reference:
  reporting/monthly_report.py:634-692): two-month partition-pruned
  scan → window dedup → clean → combo explode → analytics fan-out
  over a cached frame.
- ``cumulative_report_data`` (reference:
  reporting/cumulative_report.py:712-759): full-history scan → same
  cleaning → KPIs, monthly trend, day×hour heatmap, weekday/weekend,
  combo analyses, basket rules.

Both reports read one composition, ``_cleaned_lake``. The reference
reuses one materialized pandas frame across ~7 analytics implicitly;
in Spark that reuse must be explicit — ``.cache()`` at the fan-out
point, unpersist at the end (SURVEY.md §4). Each report function
returns its cached frame with its sections, and the caller unpersists
it once the sections are rendered (``plans/dag.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
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
    # Empty batch short-circuit (reference: main.py:43-45). It runs no
    # job because it folds into the LocalRelation; under the coalesce
    # below it would run one.
    if new_receipts.isEmpty():
        return {"rows": 0, "watermark": wm}
    # A LocalRelation scan splits into min(rows, defaultParallelism)
    # tasks; a page is one task's worth. The page is computed once
    # here and re-landed, so the merge's key collect folds into the
    # relation and its write scans no receipt and runs no explode.
    # The watermark is observed on this job instead of computed by
    # another action; an unnamed observation gets a unique metric name.
    watermark = Observation()
    batch = new_receipts.coalesce(1).observe(watermark, F.max("updated_at").alias("wm"))
    page = run_transform(batch).toArrow()
    lake.merge_and_overwrite(spark, spark.createDataFrame(page), lake_path)
    if fetch_items_page is not None and items_dim_path is not None:
        items = items_to_df(spark, list(paginate(fetch_items_page)))
        items = items.withColumn("updated", F.current_timestamp())
        lake.scd2_merge(
            spark, items_dim_path, items,
            key="id", ts_col="updated", tracked_cols=["item_name", "price"],
        )
    # Read only after the merge returned: a failed write leaves the
    # watermark where it was (at-least-once redelivery).
    new_wm = state.update_last_timestamp(state_file, watermark.get["wm"])
    return {"rows": page.num_rows, "watermark": new_wm or wm}


def _cleaned_lake(
    spark: SparkSession, lake_path: str, where: Column | None = None
) -> DataFrame:
    """The frame every report reads: lake scan (optionally filtered)
    → W1 window dedup (latest version of each line wins) → reporting
    clean."""
    df = lake.read_lake(spark, lake_path)
    if where is not None:
        df = df.filter(where)
    return clean_for_reporting(window_dedup(df))


def monthly_report_data(
    spark: SparkSession,
    lake_path: str,
    year: int,
    month: int,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """§3.2 — the monthly comparison report's data layer: every
    analytic as a DataFrame keyed by name (rendering is a separate,
    driver-side concern). Returns ``(cleaned, sections)``: ``cleaned``
    is the cached frame the sections fan out from, which the caller
    unpersists after rendering.

    The reference compares the report month with the PREVIOUS month
    (and crashes in January computing it, monthly_report.py:40 — we
    roll the year instead, implementing the intent)."""
    prev_year, prev_month = (year, month - 1) if month > 1 else (year - 1, 12)
    months = [(year, month), (prev_year, prev_month)]
    # The reference's split (monthly_report.py:656-676): every
    # comparison analytic runs on cleaned_df; ONLY top-products runs
    # on the exploded frame, sliced to the report month by
    # shifted_time's '%Y-%m' tag. Cache cleaned — it fans out 4 ways.
    # Partition-pruned to the two months (monthly_report.py:61-63).
    cleaned = _cleaned_lake(spark, lake_path, lake.in_months(months)).withColumn(
        "month_tag", F.date_format("datetime", "yyyy-MM")
    ).cache()
    exploded = explode_combo_items(cleaned)

    tag = f"{year}-{month:02d}"
    this_month = exploded.filter(
        F.date_format("shifted_time", "yyyy-MM") == tag
    )
    sections = {
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
    return cleaned, sections


def cumulative_report_data(
    spark: SparkSession, lake_path: str
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """§3.3 — the all-history report's data layer. Returns
    ``(cleaned, sections)`` like ``monthly_report_data``; the report
    figures read the same ``cleaned`` frame."""
    # Reference split (cumulative_report.py:729-745): all KPIs/plots
    # run on cleaned_df (combo rows intact — their total_money counts
    # once); ONLY basket mining runs on the exploded frame.
    cleaned = _cleaned_lake(spark, lake_path).cache()
    exploded = explode_combo_items(cleaned)

    heatmap = A.pivot_matrix(
        cleaned.withColumn("hour", F.hour("datetime")),
        index="day_of_week",
        columns="hour",
        pivot_values=list(range(24)),
    )
    _, rules = frequent_itemsets_and_rules(exploded)
    sections = {
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
    return cleaned, sections
