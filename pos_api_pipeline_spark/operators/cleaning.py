"""Reporting-side cleaning: casts, null policy, derived time columns.

Spark twin of the reference's ``clean_data_for_reporting``
(reference: reporting/data_preparation.py:76-112). All native
expressions; the cast-with-coerce semantics of ``pd.to_numeric(...,
errors='coerce')`` map exactly to Spark's ``cast('double')`` (invalid
-> null).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# English weekday names regardless of cluster locale (reference
# pandas day_name() always yields English — SURVEY.md §7.4.9).
WEEKDAY_ORDER = [
    "Monday",
    "Tuesday",
    "Wednesday",
    "Thursday",
    "Friday",
    "Saturday",
    "Sunday",
]


def day_name(ts_col):
    """T6 — English day name. `date_format(..., 'EEEE')` follows the
    JVM default locale; building from dayofweek is locale-proof."""
    idx = F.dayofweek(ts_col)  # 1=Sunday
    mapping = F.array(
        *[
            F.lit(n)
            for n in [
                "Sunday",
                "Monday",
                "Tuesday",
                "Wednesday",
                "Thursday",
                "Friday",
                "Saturday",
            ]
        ]
    )
    return F.element_at(mapping, idx)


def clean_for_reporting(df: DataFrame) -> DataFrame:
    """C8 + C9 + P8 + T1 + T6 + T8 composition
    (reference: reporting/data_preparation.py:76-112):

    - numeric coercion on cost/price/total_money (errors->null),
    - drop rows with null ``datetime`` or ``receipt_number``,
    - fill price/cost nulls with 0, item_name nulls with 'Unknown',
    - derive ``day_of_week`` (English name) and ``hour_of_day``.

    Pure narrow transformation — no shuffle; Catalyst folds the casts
    into the scan projection.
    """
    # try_cast = pd.to_numeric(errors='coerce'): malformed -> null.
    # (Plain cast raises under Spark 4's ANSI mode.)
    out = (
        df.withColumn("cost", F.col("cost").try_cast("double"))
        .withColumn("price", F.col("price").try_cast("double"))
        .withColumn("total_money", F.col("total_money").try_cast("double"))
        .withColumn("datetime", F.col("datetime").try_cast("timestamp"))
        .na.drop(subset=["datetime", "receipt_number"])
        .na.fill({"price": 0.0, "cost": 0.0, "item_name": "Unknown"})
        .withColumn("day_of_week", day_name(F.col("datetime")))
        .withColumn("hour_of_day", F.hour("datetime"))
    )
    return out
