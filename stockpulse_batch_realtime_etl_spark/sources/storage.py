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
  per symbol.  Batch build and upsert share ONE writer, :func:`_write_bars`;
* **sort within files** by time (bars: symbol, then time) — parquet
  min/max row-group statistics skip the rest (the DESC-scan analog);
* top-k over the pruned scan is ``TakeOrderedAndProject`` — no full sort.

``tests/test_storage.py`` asserts the pruning actually happens (the plan's
PartitionFilters, not just intent) and that both bars writers agree.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

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
    # a missing table costs one Hadoop ``exists``; a read that raises costs
    # hundreds of py4j round trips.  try-scope is EXACTLY the table read: a
    # wider scope would take any later analysis error as a first write
    try:
        table = spark.read.parquet(path) if fs.exists(hpath) else None
    except AnalysisException:  # a directory with no data files yet
        table = None
    if table is None:
        return _write_bars(batch, path, dynamic=True)
    batch.persist()
    try:
        per_day = batch.groupBy(F.to_date("bucket_start").alias("d")).count().collect()
        if per_day:
            days = table.filter(F.col("bucket_date").isin([r["d"] for r in per_day]))
            keep = days.join(batch.select(*BARS_KEY), list(BARS_KEY), "left_anti")
            _write_bars(keep.drop("bucket_date").unionByName(batch), path, True)
        return sum(r["count"] for r in per_day)
    finally:
        batch.unpersist()


def read_ticks(spark: SparkSession, path: str) -> DataFrame:
    """Read the partitioned ticks table; symbol/event_date predicates become
    partition pruning, event_time predicates become row-group skipping."""
    return spark.read.parquet(path)


def write_bucketed(df: DataFrame, table_name: str, path: str) -> None:
    """Write ``df`` as a bucketed external table: hash-bucketed into 8
    buckets AND sorted by ``symbol`` within each bucket file.

    Bucketing is the co-located-join layout: two tables bucketed by the
    same key into the same bucket count join WITHOUT any Exchange — each
    task reads bucket i of both sides.  At 100 TB this removes the shuffle
    of BOTH join inputs for every recurring join on the key (ticks⋈bars,
    ticks⋈dim); the shuffle is paid once at write time instead of once per
    query.  ``tests/test_storage.py`` asserts the exchange-free plan.
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(8, "symbol")
        .sortBy("symbol")
        .saveAsTable(table_name)
    )


def compact_partitioned(
    spark: SparkSession, src: str, dst: str, partition_col: str
) -> None:
    """Small-file compaction: rewrite the partitioned table at ``src`` into
    the fresh path ``dst`` with one right-sized file set per partition (one
    shuffle on the partition key, at most 5M records per file), for tables
    that appending writers (a file sink, per-trigger appends) fill with
    small files.  The bars writer already writes one file per day.  The
    caller swaps ``dst`` in; the table being read is never overwritten.
    """
    df = spark.read.parquet(src)
    (
        df.repartition(F.col(partition_col))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 5_000_000)
        .partitionBy(partition_col)
        .parquet(dst)
    )
