"""Schema contracts — single source of truth.

Mirrors the reference's enforced PyArrow schema for the curated table
(reference: schemas.py:5-20) and the implicit raw receipt shape
consumed by the flattener (reference: etl/transform.py:30-57,
FIXTURES.md §1). Declared once here; every source/sink validates
against these.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Raw model: nested receipt documents (reference: etl/transform.py:30-57)
# ---------------------------------------------------------------------------

LINE_MODIFIER_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("option", T.StringType()),
    ]
)

LINE_ITEM_SCHEMA = T.StructType(
    [
        T.StructField("item_name", T.StringType()),
        T.StructField("cost", T.DoubleType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("total_money", T.DoubleType()),
        T.StructField("line_modifiers", T.ArrayType(LINE_MODIFIER_SCHEMA)),
    ]
)

PAYMENT_SCHEMA = T.StructType([T.StructField("type", T.StringType())])

RECEIPT_SCHEMA = T.StructType(
    [
        T.StructField("receipt_number", T.StringType()),
        T.StructField("receipt_date", T.StringType()),  # ISO-8601 UTC, 'Z' suffix
        T.StructField("created_at", T.StringType()),  # watermark field
        T.StructField("updated_at", T.StringType()),  # watermark field
        T.StructField("order", T.StringType()),  # free-text order type
        T.StructField("payments", T.ArrayType(PAYMENT_SCHEMA)),
        T.StructField("line_items", T.ArrayType(LINE_ITEM_SCHEMA)),
    ]
)

# Product catalog (reference: etl/extract.py:53-57 — fetched, never joined;
# modelled here as a proper dimension for the latent join surface).
ITEM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("item_name", T.StringType()),
        T.StructField("price", T.DoubleType()),
    ]
)

# ---------------------------------------------------------------------------
# Curated model: one flat fact table, grain = receipt line item
# (reference: schemas.py:5-20)
# ---------------------------------------------------------------------------

CURATED_SCHEMA = T.StructType(
    [
        T.StructField("receipt_number", T.StringType()),
        T.StructField("datetime", T.TimestampType()),
        T.StructField("date", T.StringType()),
        T.StructField("time", T.StringType()),
        T.StructField("order_type", T.StringType()),
        T.StructField("item_name", T.StringType()),
        T.StructField("cost", T.DoubleType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("total_money", T.DoubleType()),
        T.StructField("modifiers", T.StringType()),
        T.StructField("payment_type", T.StringType()),
        T.StructField("shifted_time", T.TimestampType()),
        T.StructField("minutes_past_midnight", T.LongType()),
        T.StructField("time_slot", T.StringType()),
    ]
)

CURATED_COLUMNS = [f.name for f in CURATED_SCHEMA.fields]

# The lake as ``lake.with_partition_columns`` lays it out: string
# year=YYYY/month=MM partitions (month zero-padded) after the columns.
LAKE_SCHEMA = T.StructType(
    CURATED_SCHEMA.fields + [T.StructField(c, T.StringType()) for c in ("year", "month")]
)


def conform(df, schema: T.StructType = CURATED_SCHEMA):
    """Project + cast a DataFrame to a schema contract.

    Spark equivalent of the reference's defensive coercion + column
    reorder before writes (reference: etl/load.py:64-91, 212-214):
    missing columns become typed nulls, extra columns are dropped,
    order is schema order. Pure projection — no shuffle.
    """
    from pyspark.sql import functions as F

    cols = []
    for field in schema.fields:
        if field.name in df.columns:
            # try_cast: defensive coercion, malformed -> null (never
            # fails the job, matching the reference's errors='coerce').
            cols.append(
                F.col(field.name).try_cast(field.dataType).alias(field.name)
            )
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)
