"""Olist-schema CSV sources (reference S1-S3, `src/etl_functions.py:14-47`).

Explicit StructType schemas instead of pandas dtype inference — at 100 TB
schema inference is a full extra scan; explicit schemas also pin the
int64/float64 split the reference relies on. Date/timestamp columns arrive
as *strings* (raw data carries up to nanosecond precision, which exceeds
Spark's µs timestamps) and are coerced in the transform stage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _schema(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(n, t() if callable(t) else t, True) for n, t in fields])


SCHEMAS: dict[str, StructType] = {
    "customers": _schema(
        ("customer_id", StringType),
        ("customer_unique_id", StringType),
        ("customer_zip_code_prefix", LongType),
        ("customer_city", StringType),
        ("customer_state", StringType),
    ),
    "orders": _schema(
        ("order_id", StringType),
        ("customer_id", StringType),
        ("order_status", StringType),
        ("order_purchase_timestamp", StringType),
        ("order_approved_at", StringType),
        ("order_delivered_carrier_date", StringType),
        ("order_delivered_customer_date", StringType),
        ("order_estimated_delivery_date", StringType),
    ),
    "order_items": _schema(
        ("order_id", StringType),
        ("order_item_id", LongType),
        ("product_id", StringType),
        ("seller_id", StringType),
        ("shipping_limit_date", StringType),
        ("price", DoubleType),
        ("freight_value", DoubleType),
    ),
    "products": _schema(
        ("product_id", StringType),
        ("product_category_name", StringType),
        ("product_name_length", LongType),
        ("product_description_length", LongType),
        ("product_photos_qty", LongType),
        ("product_weight_g", LongType),
        ("product_length_cm", LongType),
        ("product_height_cm", LongType),
        ("product_width_cm", LongType),
    ),
    "sellers": _schema(
        ("seller_id", StringType),
        ("seller_zip_code_prefix", LongType),
        ("seller_city", StringType),
        ("seller_state", StringType),
    ),
    "reviews": _schema(
        ("review_id", StringType),
        ("order_id", StringType),
        ("review_score", LongType),
        ("review_comment_title", StringType),
        ("review_comment_message", StringType),
        ("review_creation_date", StringType),
        ("review_answer_timestamp", StringType),
    ),
    "category_translation": _schema(
        ("product_category_name", StringType),
        ("product_category_name_english", StringType),
    ),
}

FILENAMES: dict[str, str] = {
    "customers": "olist_customers_dataset.csv",
    "orders": "olist_orders_dataset.csv",
    "order_items": "olist_order_items_dataset.csv",
    "products": "olist_products_dataset.csv",
    "sellers": "olist_sellers_dataset.csv",
    "reviews": "olist_order_reviews_dataset.csv",
    "category_translation": "product_category_name_translation.csv",
}

REQUIRED = ("customers", "orders", "order_items", "products", "sellers", "reviews")


def read_csv(spark: SparkSession, path: str, table: str) -> DataFrame:
    """S1: header CSV scan with a pinned schema (quoted fields supported)."""
    return spark.read.csv(path, header=True, schema=SCHEMAS[table])


CORRUPT_COL = "_corrupt_record"


def read_csv_quarantine(
    spark: SparkSession, path: str, schema, header: bool = True
) -> DataFrame:
    """Robust CSV scan with corrupt-row quarantine — the CSV twin of
    sources/jsonl.py's ``keep_corrupt`` read, for feeds the pipeline
    does NOT control (partner drops, exports with encoding accidents).

    PERMISSIVE mode parses what it can: rows whose cells fail the pinned
    schema land with NULL cells and the raw line preserved in
    ``_corrupt_record``; clean rows carry NULL there. Split on that
    column via ``split_quarantine`` — load the clean subset, write the
    quarantine aside for triage — so one bad row in a 100 TB feed costs
    one quarantined line, not a failed job. Schema is caller-supplied
    (DDL string or StructType): CSV inference, like JSON inference,
    would be a full extra pass over the data.

    CAUTION — filtering this frame directly on ``_corrupt_record``
    requires materializing the parse first: Spark raises
    UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN (or an
    AnalysisException, version-dependent) for queries over a raw CSV
    relation whose only referenced column is the corrupt-record column.
    Use ``split_quarantine`` (which caches) rather than filtering the
    raw relation yourself.
    """
    from .jsonl import corrupt_schema

    return (
        spark.read.schema(corrupt_schema(schema))
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a ``read_csv_quarantine`` frame into (clean, quarantine).

    Materializes the parse first — Spark refuses predicates over a raw
    CSV relation that reference only the corrupt-record column (see
    ``read_csv_quarantine``) — but does NOT leave a cache pinned for the
    session: the two sides are localCheckpoint'd (one parse, executor
    blocks released by the ContextCleaner when the frames are dropped)
    and the transient cache is unpersisted before returning, so repeated
    quarantine reads cannot accumulate session-lifetime storage. This is
    the escape hatch for audit-sized feeds; at corpus scale, write the
    parsed frame to parquet once and split the parquet instead.
    ``clean`` drops the corrupt column; ``quarantine`` keeps the raw
    line for triage.
    """
    cached = df.persist()
    try:
        c = F.col(CORRUPT_COL)
        clean = cached.filter(c.isNull()).drop(CORRUPT_COL).localCheckpoint()
        bad = cached.filter(c.isNotNull()).localCheckpoint()
    finally:
        cached.unpersist()
    return clean, bad


def missing_inputs(base_path: str) -> list[str]:
    """Paths of the required raw files absent from ``base_path``."""
    paths = [os.path.join(base_path, FILENAMES[name]) for name in REQUIRED]
    return [p for p in paths if not os.path.exists(p)]


def extract_data(spark: SparkSession, base_path: str) -> dict[str, DataFrame] | None:
    """S1-S3: load the raw tables; `category_translation` is optional
    (existence probe, ef:39-40); any missing *required* file → None
    (error-tolerant extract, ef:45-47)."""
    if missing_inputs(base_path):
        return None
    out: dict[str, DataFrame] = {
        name: read_csv(spark, os.path.join(base_path, FILENAMES[name]), name)
        for name in REQUIRED
    }
    trans_path = os.path.join(base_path, FILENAMES["category_translation"])
    if os.path.exists(trans_path):
        out["category_translation"] = read_csv(spark, trans_path, "category_translation")
    return out
