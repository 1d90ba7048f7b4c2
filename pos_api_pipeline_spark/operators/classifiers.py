"""Conditional classifiers — native CASE WHEN chains.

Re-expresses every row-wise ``.apply`` classifier in the reference
reporting layer (C3–C7, T13 in SURVEY.md §2.3/§2.4) as Catalyst
expressions: zero Python UDFs, fully codegen'd, constant-folded where
possible. Each returns a Column so callers compose them into
projections without materialization.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def order_category(col: Column | str) -> Column:
    """C3 — order-category classifier
    (reference: reporting/data_preparation.py:53-60): case-insensitive
    'mesa'->Restaurante, 'domicilio'->A domicilio, 'llevar'->Para
    llevar, else 'Otro'. Null order_type also maps to 'Otro'
    (the reference lambda checks membership on a lowered string)."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    return (
        F.when(c.contains("mesa"), F.lit("Restaurante"))
        .when(c.contains("domicilio"), F.lit("A domicilio"))
        .when(c.contains("llevar"), F.lit("Para llevar"))
        .otherwise(F.lit("Otro"))
    )


def beverage_category(col: Column | str) -> Column:
    """C4 — beverage classifier
    (reference: reporting/data_preparation.py:285-293):
    'malteada'->Malteadas, 'agua'->Aguas, else Refrescos
    (case-insensitive)."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    return (
        F.when(c.contains("malteada"), F.lit("Malteadas"))
        .when(c.contains("agua"), F.lit("Aguas"))
        .otherwise(F.lit("Refrescos"))
    )


def standardize_beverage_name(col: Column | str) -> Column:
    """C5 — beverage name standardization
    (reference: reporting/data_preparation.py:314-322):
    'mineral'->Agua Mineral; 'natural' or 'embotellada'->Agua
    Embotellada; else passthrough."""
    raw = F.col(col) if isinstance(col, str) else col
    c = F.lower(raw)
    return (
        F.when(c.contains("mineral"), F.lit("Agua Mineral"))
        .when(
            c.contains("natural") | c.contains("embotellada"),
            F.lit("Agua Embotellada"),
        )
        .otherwise(raw)
    )


def standardize_mayo(col: Column | str) -> Column:
    """C6 — mayo standardization
    (reference: reporting/data_preparation.py:217-222):
    'sin mayonesa' (case-insensitive) -> 'Natural', else passthrough."""
    raw = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.lower(raw).contains("sin mayonesa"), F.lit("Natural")
    ).otherwise(raw)


def period_type(ts_col: Column | str) -> Column:
    """T13 — weekday/weekend classifier
    (reference: reporting/cumulative_report.py:74-76). The reference
    rule is pandas ``dayofweek >= 4`` — i.e. **weekend = Friday +
    Saturday + Sunday**, a deliberate business rule. pandas Mon=0 vs
    Spark Sun=1: Spark ``dayofweek`` in (1,6,7) = Sun,Fri,Sat."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return F.when(
        F.dayofweek(c).isin(1, 6, 7), F.lit("Weekend")
    ).otherwise(F.lit("Weekday"))
