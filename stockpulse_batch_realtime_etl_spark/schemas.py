"""Explicit StructTypes for the engine's data model.

Mirrors the reference DDL (infra/postgres/init.sql:1-48; the ticks table's
types are the ingest split's, sources/dlq.py) and the two on-wire tick shapes (producer.py:66-74 narrow; producer_yfinance.py:100-109 wide).
Per SURVEY.md §1.4 we compute in DoubleType (the reference's API layer coerces
NUMERIC → float at serialization, so end-to-end precision is double) and only
round at the reference's visible rounding points (``round(x, 4)``).
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --- on-wire tick shapes (SURVEY.md §1.2) -----------------------------------

#: Union decode schema: superset of both producer shapes, the narrow
#: ``{symbol, price, volume, event_time}`` (producer.py:66-74) and the wide
#: ``{symbol, open, high, low, close, volume, event_time, source}`` with no
#: price (producer_yfinance.py:100-109).  ``from_json`` in PERMISSIVE mode
#: leaves absent fields null, so one schema decodes both producers;
#: sources/dlq.py normalizes ``price := coalesce(price, close)``.
TICK_UNION_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("price", DoubleType()),
        StructField("open", DoubleType()),
        StructField("high", DoubleType()),
        StructField("low", DoubleType()),
        StructField("close", DoubleType()),
        StructField("volume", LongType()),
        StructField("event_time", StringType()),
        StructField("source", StringType()),
    ]
)

# --- stored tables (init.sql) ----------------------------------------------

#: ``stock_bars_1m`` (init.sql:13-25), unique (symbol, bucket_start).
STOCK_BARS_SCHEMA = StructType(
    [
        StructField("symbol", StringType(), nullable=False),
        StructField("bucket_start", TimestampType(), nullable=False),
        StructField("open", DoubleType()),
        StructField("high", DoubleType()),
        StructField("low", DoubleType()),
        StructField("close", DoubleType()),
        StructField("volume_sum", LongType()),
        StructField("tick_count", LongType()),
    ]
)

#: ``failed_events`` DLQ (init.sql:30-39) — columns map 1:1 onto Kafka source
#: metadata (topic/partition/offset) + raw value + error.
FAILED_EVENTS_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("topic", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("offset_id", LongType()),
        StructField("raw_value", StringType()),
        StructField("error_message", StringType()),
        StructField("failed_at", TimestampType()),
    ]
)

#: ``etl_runs`` audit/watermark (init.sql:41-48).  Structured Streaming keeps
#: the real watermark in the checkpoint; this table is an audit-log sink kept
#: for parity (written by streaming/job.py via foreachBatch batch-id logging).
ETL_RUNS_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("records_processed", LongType()),
        StructField("status", StringType()),
        StructField("started_at", TimestampType()),
        StructField("completed_at", TimestampType()),
    ]
)


def typed_columns(schema: StructType, exprs: dict[str, str] | None = None) -> list[str]:
    """SQL select list for ``schema``: each field is ``exprs[name]`` (default:
    the column of that name) cast to the field's type, under its name."""
    return [
        f"CAST({(exprs or {}).get(f.name, f.name)} AS {f.dataType.simpleString()})"
        f" AS {f.name}"
        for f in schema
    ]


# --- extension tables (multimodal plumbing) ---------------------------------

#: Multimodal asset row: the payload is an opaque binary column plus typed
#: metadata, the idiomatic Spark pattern for image/audio/video at scale
#: (decode happens in Arrow-batched mapInPandas, never on the driver).
MEDIA_ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), nullable=False),
        StructField("media_type", StringType(), nullable=False),  # image|audio|video
        StructField("content", BinaryType()),
        StructField("meta", MapType(StringType(), StringType())),
    ]
)

#: All driver-provided table names (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
