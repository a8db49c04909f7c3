"""Dead-letter split: decode raw JSON records, route malformed rows to a DLQ.

Reference semantics (consumer.py:133-139): ``json.loads`` each Kafka message;
``JSONDecodeError`` or missing required key → one row in ``failed_events``
(init.sql:30-39) carrying the Kafka coordinates + raw value + error; the
pipeline never crashes on bad input.

Spark restatement (SURVEY.md §3.1): one ``from_json`` pass in PERMISSIVE mode
over the raw value column, then a single validity predicate splits the stream:

* valid   → normalized ticks (sources/ticks.normalize_ticks)
* invalid → failed_events rows with topic/partition/offset metadata

Works identically on a batch DataFrame and a streaming one (the predicate and
projections are pure Catalyst expressions — fully codegen'd, no Python UDFs),
which is what lets the batch oracle certify the streaming path's decode logic.

Validity rule (SURVEY.md §1.3): parseable JSON object AND symbol present AND
event_time parseable AND a price (``price`` or wide-shape ``close``) present.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark.sql.types import StringType, StructField, StructType

from stockpulse_batch_realtime_etl_spark.schemas import TICK_UNION_SCHEMA
from stockpulse_batch_realtime_etl_spark.sources.ticks import normalize_ticks


class SplitStreams(NamedTuple):
    ticks: DataFrame
    failed: DataFrame


#: Decode schema = tick union + corrupt-record capture.  In PERMISSIVE mode
#: from_json never yields a null struct — malformed input produces an
#: all-null row — so distinguishing "malformed JSON" from "valid JSON
#: missing keys" requires columnNameOfCorruptRecord.
_DECODE_SCHEMA = StructType(
    list(TICK_UNION_SCHEMA.fields) + [StructField("_corrupt", StringType())]
)


def _decode(raw: DataFrame, value_col: str) -> DataFrame:
    return raw.withColumn(
        "_tick",
        F.from_json(
            F.col(value_col).cast("string"),
            _DECODE_SCHEMA,
            {"columnNameOfCorruptRecord": "_corrupt"},
        ),
    )


def _valid_pred() -> Column:
    t = F.col("_tick")
    return (
        t["_corrupt"].isNull()
        & t["symbol"].isNotNull()
        & F.coalesce(t["price"], t["close"]).isNotNull()
        & F.try_to_timestamp(t["event_time"]).isNotNull()
    )


def _error_message() -> Column:
    """Classify the failure like the reference's exception text distinguishes
    JSONDecodeError from KeyError (consumer.py:137-139)."""
    t = F.col("_tick")
    return (
        F.when(t["_corrupt"].isNotNull(), F.lit("JSONDecodeError: malformed record"))
        .when(t["symbol"].isNull(), F.lit("KeyError: 'symbol'"))
        .when(
            F.coalesce(t["price"], t["close"]).isNull(), F.lit("KeyError: 'price'")
        )
        .otherwise(F.lit("ValueError: unparseable event_time"))
    )


def split_raw_stream(
    raw: DataFrame,
    value_col: str = "value",
    topic_col: str | None = "topic",
    partition_col: str | None = "partition",
    offset_col: str | None = "offset",
    source: str = "consumer",
) -> SplitStreams:
    """Split raw records into (normalized ticks, failed_events rows).

    ``raw`` is any DataFrame (batch or streaming) with a JSON string/binary
    column named ``value_col``; Kafka metadata columns are optional and pass
    through to the DLQ rows (null when absent, matching the DLQ DDL's
    nullable columns).
    """
    decoded = _decode(raw, value_col)
    is_valid = _valid_pred()
    # Filtering ``decoded`` directly lets the optimizer inline from_json into
    # the filter and parse every valid record twice.  A one-element explode
    # is a generator it cannot push the filter through: one parse per record
    # (windowed bars over the decoded stream −30% on a 4-core host).
    valid = decoded.withColumn("_tick", F.explode(F.array("_tick"))).filter(is_valid)
    invalid = decoded.filter(~is_valid)

    def meta(col: str | None, typ: str) -> Column:
        return (F.col(col) if col in (raw.columns if col else []) else F.lit(None)).cast(typ)

    ticks = normalize_ticks(valid.select("_tick.*"))
    failed = invalid.select(
        F.lit(source).alias("source"),
        meta(topic_col, "string").alias("topic"),
        meta(partition_col, "int").alias("partition_id"),
        meta(offset_col, "long").alias("offset_id"),
        F.col(value_col).cast("string").alias("raw_value"),
        _error_message().alias("error_message"),
        F.current_timestamp().alias("failed_at"),
    )
    return SplitStreams(ticks=ticks, failed=failed)
