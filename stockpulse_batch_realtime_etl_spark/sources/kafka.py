"""Kafka wire transformations (ops S2, S5): the reference's tick topic
``stock.ticks.v1`` (keyed by symbol → per-symbol ordering, README.md:22,94;
producer.py:87) as pure DataFrame functions.

No broker exists in the test environment, so the package builds no Kafka
reader or writer; both transformations are tested on batch data.  A Kafka
source (``spark-sql-kafka-0-10`` on the classpath, ``subscribe`` to the
topic, ``startingOffsets=earliest`` as consumer.py:113) feeds
:func:`kafka_value_to_raw`, whose output is what the one ingest path,
sources/dlq.split_raw_stream, reads; the stream's checkpoint subsumes the
consumer group's offsets (consumer.py:111-117).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Wire timestamp format: microsecond precision (the default SSS truncates
#: to millis and would make the encode/decode round trip lossy).
WIRE_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def encode_ticks_for_kafka(ticks: DataFrame) -> DataFrame:
    """S2: tick rows → Kafka (key, value) pairs.  key = symbol (per-symbol
    partition ordering, producer.py:87), value = JSON of the full row
    (producer.py:84-90, op F11) with lossless µs timestamps."""
    # TIMESTAMP_NTZ (what Spark 4.1 reads parquet TIMESTAMP(NANOS) as) has
    # no zone offset, so formatting it through the XXX pattern yields NULL
    # for every value — cast to a real timestamp first.  Instant-preserving
    # under the UTC session this library asserts (sources/tables.py), and
    # the wire then carries an explicit offset as producer.py:84-90 does.
    payload = [
        F.col(c).cast("timestamp").alias(c) if t == "timestamp_ntz" else F.col(c)
        for c, t in ticks.dtypes
    ]
    return ticks.select(
        F.col("symbol").cast("string").alias("key"),
        F.to_json(
            F.struct(*payload), {"timestampFormat": WIRE_TS_FORMAT}
        ).alias("value"),
    )


def kafka_value_to_raw(kafka_df: DataFrame) -> DataFrame:
    """Kafka records → the raw (value, topic, partition, offset) shape the
    DLQ split consumes (sources/dlq.py) — Kafka metadata columns map 1:1
    onto failed_events (init.sql:30-39)."""
    return kafka_df.select(
        F.col("value").cast("string").alias("value"),
        F.col("topic"),
        F.col("partition").alias("partition"),
        F.col("offset").alias("offset"),
    )
