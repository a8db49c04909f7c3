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

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

from stockpulse_batch_realtime_etl_spark.schemas import (
    FAILED_EVENTS_SCHEMA,
    TICK_UNION_SCHEMA,
    typed_columns,
)


class SplitStreams(NamedTuple):
    ticks: DataFrame
    failed: DataFrame


#: Decode schema (DDL) = tick union + corrupt-record capture.  In PERMISSIVE
#: mode from_json never yields a null struct — malformed input produces an
#: all-null row — so distinguishing "malformed JSON" from "valid JSON
#: missing keys" requires columnNameOfCorruptRecord.
_DECODE_SCHEMA = StructType(
    list(TICK_UNION_SCHEMA.fields) + [StructField("_corrupt", StringType())]
).simpleString()

#: DLQ column ← Kafka metadata column; the text source has only ``value``,
#: so an absent column becomes null (the DLQ DDL's columns are nullable).
_KAFKA_META = {"topic": "topic", "partition_id": "partition", "offset_id": "offset"}


def _price(t: str) -> str:
    return f"coalesce({t}.price, {t}.close)"


def _event_time(t: str) -> str:
    """ISO-8601 → timestamp (F10, producer.py:73); null when unparseable."""
    return f"try_to_timestamp({t}.event_time)"


def _error_message(t: str, event_time: str) -> str:
    """THE raw-tick contract: the first check the decoded struct ``t`` fails,
    worded like the reference's exception text (consumer.py:137-139), or
    null for a tick.  SQL text, like every expression of the split: each
    plan is built from a few strings instead of a py4j round trip per
    Column call."""
    return (
        f"CASE WHEN {t}._corrupt IS NOT NULL THEN 'JSONDecodeError: malformed record'"
        f" WHEN {t}.symbol IS NULL THEN 'KeyError: \\'symbol\\''"
        f" WHEN {_price(t)} IS NULL THEN 'KeyError: \\'price\\''"
        f" WHEN {event_time} IS NULL THEN 'ValueError: unparseable event_time' END"
    )


def split_raw_stream(raw: DataFrame) -> SplitStreams:
    """Split raw records into (ticks, failed_events rows).

    ``raw`` is any DataFrame (batch or streaming) with a JSON string/binary
    column ``value``; Kafka's ``topic``/``partition``/``offset`` columns pass
    through to the DLQ rows when present.
    """
    decoded = raw.selectExpr(
        "*",
        f"from_json(CAST(value AS STRING), '{_DECODE_SCHEMA}', "
        "map('columnNameOfCorruptRecord', '_corrupt')) AS _tick",
    )
    # Filtering ``decoded`` directly lets the optimizer inline from_json into
    # the filter and parse every valid record twice.  A one-element explode
    # is a generator it cannot push the filter through: one JSON parse and
    # one event_time parse per record, read by both the filter and the
    # projection (windowed bars over the decoded stream −30% on a 4-core
    # host).  The DLQ side stays without it: there it made a 120k-record
    # DLQ write ~25% slower.
    parsed = decoded.selectExpr(
        f"explode(array(struct(_tick AS t, {_event_time('_tick')} AS event_time))) AS _p"
    )
    ticks = parsed.filter(
        f"({_error_message('_p.t', '_p.event_time')}) IS NULL"
    ).selectExpr(
        "upper(_p.t.symbol) AS symbol",
        f"{_price('_p.t')} AS price",
        *[f"_p.t.{c} AS {c}" for c in ("open", "high", "low", "close", "volume")],
        "_p.event_time AS event_time",
        "_p.t.source AS source",
        "current_timestamp() AS created_at",
    )

    error = _error_message("_tick", _event_time("_tick"))
    row = {
        "source": "'consumer'",
        **{
            name: f"`{c}`" if c in raw.columns else "NULL"
            for name, c in _KAFKA_META.items()
        },
        "raw_value": "value",
        "error_message": error,
        "failed_at": "current_timestamp()",
    }
    failed = decoded.filter(f"({error}) IS NOT NULL").selectExpr(
        *typed_columns(FAILED_EVENTS_SCHEMA, row)
    )
    return SplitStreams(ticks=ticks, failed=failed)
