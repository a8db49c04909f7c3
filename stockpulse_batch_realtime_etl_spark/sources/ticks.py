"""Tick corpus and oracle builders over the driver's ``events`` table.

Raw records become ticks in ONE place, sources/dlq.split_raw_stream, which
accepts both producer shapes (SURVEY.md §1.2).  This module builds what
feeds and checks it: :func:`raw_json_corpus`, Kafka-shaped raw JSON for the
split, and :func:`ticks_from_events`, already-typed ticks for the batch
queries, each with the DuckDB fragment its oracle replays.

For oracle-checked batch queries, the tick role is played by the driver's
``events`` table per FIXTURES.md §5:

=================  =======================================================
reference column   events column
=================  =======================================================
symbol             ``upper(event_type)``  (low-cardinality string key,
                   uppercased like the reference's F7 normalization)
price              ``value``
volume             ``CASE WHEN event_id % 20 = 0 THEN NULL
                   ELSE event_id % 15000 + 500 END``  (deterministic;
                   ~5%% nulls exercise ``SUM(COALESCE(volume,0))``,
                   aggregator.py:34)
event_time         ``ts``
=================  =======================================================
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stockpulse_batch_realtime_etl_spark.sources.tables import fan_out, load_table

#: SQL fragment used verbatim in DuckDB oracles (keep in sync with
#: ``ticks_from_events``).
TICKS_FROM_EVENTS_SQL = """
SELECT
  upper(event_type) AS symbol,
  value      AS price,
  CASE WHEN event_id % 20 = 0 THEN NULL
       ELSE event_id % 15000 + 500 END AS volume,
  ts         AS event_time
FROM events
"""


def ticks_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's ``events`` table onto the ``stock_ticks`` model."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.upper(F.col("event_type")).alias("symbol"),
        F.col("value").alias("price"),
        F.when(F.col("event_id") % 20 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("event_id") % 15000 + 500)
        .alias("volume"),
        F.col("ts").alias("event_time"),
    )


#: Deterministic raw-JSON corpus derived from events — exercises the wire
#: format (op S6/F11) and the DLQ split (op S8) with a mix of valid ticks,
#: truncated JSON (event_id % 7 == 0), and JSON missing all price fields
#: (event_id % 11 == 0).  The matching DuckDB fragment is RAW_JSON_SQL.
RAW_JSON_SQL = """
SELECT
  CASE
    WHEN event_id % 7 = 0 THEN '{"symbol": "' || upper(event_type)
    WHEN event_id % 11 = 0 THEN '{"symbol": "' || upper(event_type) || '"}'
    ELSE '{"symbol": "' || upper(event_type)
         || '", "price": ' || value
         || ', "volume": ' || (event_id % 15000 + 500)
         || ', "event_time": "' || CAST(ts AS VARCHAR) || '"}'
  END AS value,
  'stock.ticks.v1' AS topic,
  CAST(event_id % 3 AS INT) AS partition,
  event_id AS offset
FROM events
"""


def raw_json_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-shaped raw records (value/topic/partition/offset) built from
    ``events`` — the batch stand-in for the reference's tick topic.

    ``fan_out`` before the JSON-build: everything downstream of this corpus
    (string concat here, ``from_json`` + the validity split in dlq.py) is
    per-row compute pipelined onto the scan, and the driver's single-row-group
    parquet would otherwise run it all in one task."""
    ev = fan_out(load_table(spark, sf_dir, "events"))
    sym = F.upper(F.col("event_type"))
    valid = F.concat(
        F.lit('{"symbol": "'), sym,
        F.lit('", "price": '), F.col("value").cast("string"),
        F.lit(', "volume": '), (F.col("event_id") % 15000 + 500).cast("string"),
        F.lit(', "event_time": "'), F.col("ts").cast("string"), F.lit('"}'),
    )
    raw = (
        F.when(F.col("event_id") % 7 == 0, F.concat(F.lit('{"symbol": "'), sym))
        .when(F.col("event_id") % 11 == 0, F.concat(F.lit('{"symbol": "'), sym, F.lit('"}')))
        .otherwise(valid)
    )
    return ev.select(
        raw.alias("value"),
        F.lit("stock.ticks.v1").alias("topic"),
        (F.col("event_id") % 3).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
    )
