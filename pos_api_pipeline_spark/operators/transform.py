"""Curation transforms: flatten nested receipts, normalize order
types, enrich with local-time buckets.

Spark-first re-expression of the reference ETL transform layer
(reference: etl/transform.py). Everything here is native Catalyst
expressions — explode + higher-order array functions replace the
row-wise Python loops, so the whole chain stays inside whole-stage
codegen and scales linearly with partitions (no driver materialization
at any point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pos_api_pipeline_spark.schemas import CURATED_COLUMNS

# ---------------------------------------------------------------------------
# P1/P2 — nested-array flatten (reference: etl/transform.py:30-99)
# ---------------------------------------------------------------------------


def flatten_receipts(receipts: DataFrame) -> DataFrame:
    """Flatten nested receipt docs to one row per line item.

    Reference semantics (etl/transform.py:30-60): each element of
    ``line_items`` becomes a row carrying receipt-level metadata;
    ``payments[].type`` is ``;``-joined; each line's
    ``line_modifiers`` are ``;``-joined as ``name(option)``;
    ``receipt_date`` is split into ``date`` / ``time`` strings (the
    'Z' suffix stripped, etl/transform.py:37-38).

    Spark plan: a single generate (explode) + projection — no shuffle,
    no UDF. At 100 TB the explode fan-out stays partition-local.
    """
    li = F.explode_outer("line_items").alias("li")
    datetime_col = F.to_timestamp(
        F.regexp_replace("receipt_date", "Z$", "")
    )
    exploded = receipts.select(
        F.col("receipt_number"),
        datetime_col.alias("datetime"),
        # split-on-'T' semantics preserved exactly (etl/transform.py:37-38)
        F.split(F.col("receipt_date"), "T").getItem(0).alias("date"),
        F.regexp_replace(
            F.split(F.col("receipt_date"), "T").getItem(1), "Z$", ""
        ).alias("time"),
        F.col("order").alias("order_type"),
        F.array_join(
            F.transform("payments", lambda p: p["type"]), ";"
        ).alias("payment_type"),
        li,
    )
    return exploded.select(
        "receipt_number",
        "datetime",
        "date",
        "time",
        "order_type",
        F.col("li.item_name").alias("item_name"),
        F.col("li.cost").cast("double").alias("cost"),
        F.col("li.price").cast("double").alias("price"),
        F.col("li.total_money").cast("double").alias("total_money"),
        F.array_join(
            F.transform(
                "li.line_modifiers",
                lambda m: F.concat(m["name"], F.lit("("), m["option"], F.lit(")")),
            ),
            ";",
        ).alias("modifiers"),
        "payment_type",
    )


# ---------------------------------------------------------------------------
# C1 — order-type normalization (reference: etl/transform.py:101-123;
# the unwired np.select variant C2 is not ported)
# ---------------------------------------------------------------------------


def homogenize_order_types(
    df: DataFrame, col: str = "order_type"
) -> DataFrame:
    """Normalize free-text order types.

    Normative rule chain = the reference's ``homogenize_order_types``
    (etl/transform.py:101-123), the variant actually wired into
    ``run_transform`` (etl/transform.py:218). The reference applies
    four sequential overwrite masks, each computed on the
    already-mutated column: '01'->'Para Llevar', '-'->'Mesa 2',
    'domicilio'->'A domicilio', 'Llevar'->'Para llevar'. Solving the
    sequence to a single CASE: a value hit by the '01' mask becomes
    'Para Llevar', which the final 'Llevar' mask rewrites to
    'Para llevar'; intermediate values never re-match earlier masks,
    so effective priority is 01 > '-' > domicilio > Llevar. Nulls
    pass through untouched (``na=False`` semantics — a null CASE
    condition falls through to ``otherwise``).
    """
    c = F.col(col)
    normalized = (
        F.when(c.contains("01"), F.lit("Para llevar"))
        .when(c.contains("-"), F.lit("Mesa 2"))
        .when(c.contains("domicilio"), F.lit("A domicilio"))
        .when(c.contains("Llevar"), F.lit("Para llevar"))
        .otherwise(c)
    )
    return df.withColumn(col, normalized)


# ---------------------------------------------------------------------------
# T2/T4/T5 — local-time enrichment (reference: etl/transform.py:159-195)
# ---------------------------------------------------------------------------


def with_time_slots(df: DataFrame, ts_col: str = "datetime") -> DataFrame:
    """Add ``shifted_time``, ``minutes_past_midnight``, ``time_slot``.

    - ``shifted_time`` = ``datetime`` − 6 h exactly: the reference uses
      a fixed offset, NOT America/Mexico_City tz rules
      (etl/transform.py:177) — preserved verbatim, no DST.
    - ``minutes_past_midnight`` = hour*60 + minute of shifted_time
      (etl/transform.py:182).
    - ``time_slot`` = pd.cut(range(0,1441,60), right=False) hourly
      label ``"HH:00-HH+1:00"`` (etl/transform.py:184-195); bins are
      exact hours so the label is pure arithmetic on the hour.
    """
    shifted = F.col(ts_col) - F.expr("INTERVAL 6 HOURS")
    hour = F.hour("shifted_time")
    return (
        df.withColumn("shifted_time", shifted)
        .withColumn(
            "minutes_past_midnight",
            (F.hour("shifted_time") * 60 + F.minute("shifted_time")).cast("long"),
        )
        .withColumn(
            "time_slot",
            F.format_string("%02d:00-%02d:00", hour, hour + F.lit(1)),
        )
    )


# ---------------------------------------------------------------------------
# run_transform composition (reference: etl/transform.py:199-222)
# ---------------------------------------------------------------------------


def run_transform(receipts: DataFrame) -> DataFrame:
    """Full curation chain: flatten → homogenize → time slots → conform.

    Mirrors the reference composition (etl/transform.py:217-219);
    ``change_time_to_utc_minus_6`` (T3) is absent from the chain, as in
    the reference, and is not ported. Output conforms to CURATED_SCHEMA
    column order.
    """
    flat = flatten_receipts(receipts)
    flat = homogenize_order_types(flat)
    flat = with_time_slots(flat)
    return flat.select(*CURATED_COLUMNS)
