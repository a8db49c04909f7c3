"""Partitioned columnar storage layout — the Spark analog of the
reference's physical design.

The reference's two composite B-tree indexes, ``(symbol, event_time DESC)``
on stock_ticks and ``(symbol, bucket_start DESC)`` on stock_bars_1m
(infra/postgres/init.sql:10-11, 27-28), exist to make "latest N for one
symbol" an index-only backward scan.  The columnar equivalent:

* **ticks: partition by (symbol, date)** — a symbol-equality predicate
  prunes to that symbol's directories (PartitionFilters in the scan), a
  time predicate prunes dates;
* **bars: partition by date**, one file per day — the streaming upsert
  rewrites whole days, and a symbol level would split each into a file
  per symbol.  This module is the only code that knows the bars format:
  ONE writer, :func:`_write_bars`, for the batch build and the upsert, and
  ONE reader, :func:`read_bars`, with the declared ``BARS_TABLE_SCHEMA``
  (the reference's ``stock_bars_1m`` DDL, init.sql:13-25), so no read
  infers it;
* **sort within files** by time (bars: symbol, then time) — parquet
  min/max row-group statistics skip the rest (the DESC-scan analog);
* top-k over the pruned scan is ``TakeOrderedAndProject`` — no full sort.

``tests/test_storage.py`` asserts the pruning actually happens (the plan's
PartitionFilters, not just intent), that both bars writers agree and that
the reader returns the schema a parquet read infers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StructField, StructType

from stockpulse_batch_realtime_etl_spark.schemas import STOCK_BARS_SCHEMA, typed_columns


def write_ticks_partitioned(ticks: DataFrame, path: str) -> None:
    """Write the ticks table in its production layout:
    ``path/symbol=X/event_date=D/part-*.parquet``, files sorted by
    event_time so row-group stats are time-clustered."""
    (
        ticks.withColumn("event_date", F.to_date("event_time"))
        .repartition("symbol", "event_date")
        .sortWithinPartitions("event_time")
        .write.mode("overwrite")
        .partitionBy("symbol", "event_date")
        .parquet(path)
    )


#: The bars table's key: the reference's unique (symbol, bucket_start).
BARS_KEY = ("symbol", "bucket_start")

#: The bars table as stored: ``STOCK_BARS_SCHEMA`` plus the day partition.
BARS_TABLE_SCHEMA = StructType(
    [*STOCK_BARS_SCHEMA.fields, StructField("bucket_date", DateType())]
)


def _write_bars(bars: DataFrame, path: str, dynamic: bool) -> int:
    """THE bars table format: ``path/bucket_date=D/``, one file per day,
    sorted by ``BARS_KEY``, columns cast to ``STOCK_BARS_SCHEMA`` so every
    caller writes the same types.  ``dynamic`` replaces only the days in
    ``bars``, else the whole table.  Returns the rows written, observed
    above the shuffle (below it, AQE drops an empty shuffle's metrics)."""
    written = Observation()
    (
        bars.selectExpr(
            *typed_columns(STOCK_BARS_SCHEMA), "to_date(bucket_start) AS bucket_date"
        )
        .repartition("bucket_date")
        .sortWithinPartitions("bucket_date", *BARS_KEY)
        .observe(written, F.expr("count(1) AS n"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic" if dynamic else "static")
        .partitionBy("bucket_date")
        .parquet(path)
    )
    return written.get["n"]


def write_bars_partitioned(bars: DataFrame, path: str) -> None:
    """Replace the whole bars table at ``path`` with ``bars``, in the
    format the streaming upsert writes (:func:`_write_bars`)."""
    _write_bars(bars, path, dynamic=False)


def read_bars(spark: SparkSession, path: str) -> DataFrame:
    """Read the bars table at ``path`` with its declared schema: the
    columns and types a parquet read infers, without the footer-reading
    job that infers them.  A table with no data files yet reads empty."""
    return spark.read.schema(BARS_TABLE_SCHEMA).parquet(path)


def upsert_bars(batch: DataFrame, path: str) -> int:
    """Upsert ``batch`` into the bars table keyed on ``BARS_KEY`` (the
    reference's ON CONFLICT DO UPDATE, aggregator.py:41-51), rewriting only
    the days it touches; returns its row count.  A first write is one write.
    Later ones persist the batch for its three reads: one collect gives the
    row count and the days, which the table read takes as a static
    partition filter (a join on ``bucket_date`` gets no dynamic pruning)."""
    spark = batch.sparkSession
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    # a missing table cannot be read: its first write is the batch alone
    if not fs.exists(hpath):
        return _write_bars(batch, path, dynamic=True)
    batch.persist()
    try:
        per_day = batch.groupBy(F.to_date("bucket_start").alias("d")).count().collect()
        if per_day:
            days = read_bars(spark, path).filter(
                F.col("bucket_date").isin([r["d"] for r in per_day])
            )
            keep = days.join(batch.select(*BARS_KEY), list(BARS_KEY), "left_anti")
            _write_bars(keep.drop("bucket_date").unionByName(batch), path, True)
        return sum(r["count"] for r in per_day)
    finally:
        batch.unpersist()


def read_ticks(spark: SparkSession, path: str) -> DataFrame:
    """Read the partitioned ticks table; symbol/event_date predicates become
    partition pruning, event_time predicates become row-group skipping."""
    return spark.read.parquet(path)
