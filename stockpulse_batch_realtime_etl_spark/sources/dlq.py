"""The one ingest path: every tick source's raw JSON records → (ticks, DLQ).

Reference semantics (consumer.py:133-139): ``json.loads`` each Kafka message;
``JSONDecodeError`` or missing required key → one row in ``failed_events``
(init.sql:30-39) carrying the Kafka coordinates + raw value + error; the
pipeline never crashes on bad input.

Spark restatement (SURVEY.md §3.1): one ``from_json`` pass in PERMISSIVE mode,
then ONE ordered rule (:func:`_error_message`: malformed → no symbol → no
price → unparseable ``event_time``).  A record is a tick exactly when the
rule gives it no error; ``price := coalesce(price, close)``, so the wide
yfinance shape, which the reference dead-letters (consumer.py:82), is a
tick too (SURVEY.md §1.2).  Pure Catalyst expressions, no Python UDFs, so
batch and streaming inputs split identically and the batch oracle
certifies the streaming path's decode.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from stockpulse_batch_realtime_etl_spark.schemas import (
    FAILED_EVENTS_SCHEMA,
    TICK_UNION_SCHEMA,
)


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

#: DLQ column ← Kafka metadata column; the text source has only ``value``,
#: so an absent column becomes null (the DLQ DDL's columns are nullable).
_KAFKA_META = {"topic": "topic", "partition_id": "partition", "offset_id": "offset"}


def _price(t: Column) -> Column:
    return F.coalesce(t["price"], t["close"])


def _event_time(t: Column) -> Column:
    """ISO-8601 → timestamp (F10, producer.py:73); null when unparseable."""
    return F.try_to_timestamp(t["event_time"])


def _error_message(t: Column, event_time: Column) -> Column:
    """THE raw-tick contract: the first check ``t`` fails, worded like the
    reference's exception text (consumer.py:137-139), or null for a tick."""
    return (
        F.when(t["_corrupt"].isNotNull(), F.lit("JSONDecodeError: malformed record"))
        .when(t["symbol"].isNull(), F.lit("KeyError: 'symbol'"))
        .when(_price(t).isNull(), F.lit("KeyError: 'price'"))
        .when(event_time.isNull(), F.lit("ValueError: unparseable event_time"))
    )


def split_raw_stream(raw: DataFrame) -> SplitStreams:
    """Split raw records into (ticks, failed_events rows).

    ``raw`` is any DataFrame (batch or streaming) with a JSON string/binary
    column ``value``; Kafka's ``topic``/``partition``/``offset`` columns pass
    through to the DLQ rows when present.
    """
    decoded = raw.withColumn(
        "_tick",
        F.from_json(
            F.col("value").cast("string"),
            _DECODE_SCHEMA,
            {"columnNameOfCorruptRecord": "_corrupt"},
        ),
    )
    tick = F.col("_tick")
    # Filtering ``decoded`` directly lets the optimizer inline from_json into
    # the filter and parse every valid record twice.  A one-element explode
    # is a generator it cannot push the filter through: one JSON parse and
    # one event_time parse per record, read by both the filter and the
    # projection (windowed bars over the decoded stream −30% on a 4-core
    # host).  The DLQ side stays without it: there it made a 120k-record
    # DLQ write ~25% slower.
    parsed = decoded.select(
        F.explode(F.array(F.struct(
            tick.alias("t"), _event_time(tick).alias("event_time")
        ))).alias("_p")
    )
    t, event_time = F.col("_p.t"), F.col("_p.event_time")
    ticks = parsed.filter(_error_message(t, event_time).isNull()).select(
        F.upper(t["symbol"]).alias("symbol"),
        _price(t).alias("price"),
        *[t[c].alias(c) for c in ("open", "high", "low", "close", "volume")],
        event_time.alias("event_time"),
        t["source"].alias("source"),
        F.current_timestamp().alias("created_at"),
    )

    error = _error_message(tick, _event_time(tick))
    row = {
        "source": F.lit("consumer"),
        **{
            name: F.col(c) if c in raw.columns else F.lit(None)
            for name, c in _KAFKA_META.items()
        },
        "raw_value": F.col("value"),
        "error_message": error,
        "failed_at": F.current_timestamp(),
    }
    failed = decoded.filter(error.isNotNull()).select(
        *[row[f.name].cast(f.dataType).alias(f.name) for f in FAILED_EVENTS_SCHEMA]
    )
    return SplitStreams(ticks=ticks, failed=failed)
