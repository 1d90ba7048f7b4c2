"""REST API source adapters (SURVEY.md §2.1 S1–S3).

The reference fetches a POS REST API driver-side with cursor
pagination and client-side watermark filtering (reference:
etl/extract.py:44-167, 299-344). The Spark-first design keeps the
HTTP layer thin and injectable (``fetch_page``), lands rows into a
DataFrame under the declared nested schema, and pushes the watermark
comparison into the plan.

A fetched page lands as one Arrow table, which Spark turns into a JVM
``LocalRelation`` (``session.local_frame``). A page is a few hundred
receipts, far below ``spark.sql.execution.arrow.localRelationThreshold``.
Catalyst folds the watermark filter into the relation, so the tick's
empty check runs no job, and its one action over the batch, the lake
merge, runs as JVM tasks without a Python worker. Handing the page to
``createDataFrame`` as a Python list instead gives a PythonRDD split into
``defaultParallelism`` slices that every action re-runs in Python
workers. Every row still passes the schema's type verifier first, so
schema drift fails loudly at the boundary.

At real scale the idiomatic upgrade is landing raw JSON to object
storage and ``spark.read.schema(...).json`` (see json_source), or a
registered Python DataSource; the adapter here covers the
driver-side-fetch tier with identical semantics, without network
dependence in tests.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pos_api_pipeline_spark.schemas import ITEM_SCHEMA, RECEIPT_SCHEMA
from pos_api_pipeline_spark.session import local_frame

# fetch_page(cursor) -> (rows, next_cursor | None)
FetchPage = Callable[[str | None], tuple[list[dict], str | None]]


def paginate(
    fetch_page: FetchPage,
    max_pages: int | None = None,
) -> Iterable[dict]:
    """Cursor pagination loop (reference: etl/extract.py:60-104 walks
    pages newest-first with a 0.5 s politeness sleep between pages;
    no caller here talks to a rate-limited server, so none sleeps)."""
    cursor: str | None = None
    pages = 0
    while True:
        rows, cursor = fetch_page(cursor)
        yield from rows
        pages += 1
        if cursor is None or (max_pages is not None and pages >= max_pages):
            return


def receipts_to_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Materialize fetched receipt documents under the declared nested
    schema (no inference — schema drift fails loudly at the boundary)."""
    return local_frame(spark, rows, RECEIPT_SCHEMA)


def items_to_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    return local_frame(spark, rows, ITEM_SCHEMA)


def fetch_all_historical(
    spark: SparkSession,
    fetch_receipts_page: FetchPage,
    fetch_items_page: FetchPage,
) -> tuple[DataFrame, DataFrame]:
    """S1 — full-history scan: paginate receipts + one-shot items
    (reference: etl/extract.py:44-104)."""
    receipts = list(paginate(fetch_receipts_page))
    items = list(paginate(fetch_items_page))
    return receipts_to_df(spark, receipts), items_to_df(spark, items)


def fetch_incremental(
    spark: SparkSession,
    fetch_receipts_page: FetchPage,
    last_timestamp: str,
    limit: int = 175,
) -> DataFrame:
    """S3 — incremental scan: bounded fetch, then watermark predicate
    ``created_at > last_timestamp`` (ISO-string compare, exactly the
    reference's client-side filter at etl/extract.py:332-334) —
    expressed as a DataFrame filter so it composes/pushes down.

    The reference treats an HTTP 402 as an empty batch; adapters
    should return ``([], None)`` for that case.
    """
    rows = list(paginate(fetch_receipts_page, max_pages=1))[:limit]
    df = receipts_to_df(spark, rows)
    return df.filter(F.col("created_at") > F.lit(last_timestamp))
