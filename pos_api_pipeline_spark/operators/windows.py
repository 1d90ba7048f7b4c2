"""Window operators (SURVEY.md §2.6 W1–W2, plus C14's lag window).
W3 (global sort) and W5 (UNION ALL) are the plain Spark calls
``orderBy(F.desc(...))`` and ``unionByName(...)`` at their call sites.

The W1 window dedup is THE canonical cleanup step the reference runs
before every report (latest version of each receipt line wins). At
scale it shuffles once on the dedup key; AQE handles skewed keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def window_dedup(
    df: DataFrame,
    keys: Sequence[str] = ("receipt_number", "item_name"),
    order_col: str = "shifted_time",
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """W1/W2 — ROW_NUMBER dedup, latest wins
    (reference: reporting/monthly_report.py:51-72 SQL CTE;
    etl/load.py:202-203 pandas twin).

    Key = (receipt_number, item_name) **by design** — two legitimately
    identical lines on one receipt collapse to one (SURVEY.md §7.4.4).
    Extra ``tiebreakers`` pin a total order for oracle-stable output
    on synthetic data where the order key ties.
    """
    w = Window.partitionBy(*keys).orderBy(
        F.desc(order_col), *[F.asc(t) for t in tiebreakers]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def pct_change_over(
    df: DataFrame, order_key: str, val: str, alias: str = "pct_change"
) -> DataFrame:
    """C14 — percent change vs previous period via lag window
    (reference: monthly_report.py:548-554 does this scalar-side;
    the lag form generalizes it to every period at once). prev=0 or
    null -> null (the reference emits '(new)' at render time)."""
    w = Window.orderBy(order_key)
    prev = F.lag(val).over(w)
    return df.withColumn(
        alias,
        F.when(
            prev.isNotNull() & (prev != 0), (F.col(val) - prev) / prev * 100.0
        ),
    )
