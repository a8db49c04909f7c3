"""Partitioned storage layout: the pruning must be visible in the plan,
not just intended (sources/storage.py; the reference's index analog)."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from stockpulse_batch_realtime_etl_spark.plans import assertions as P
from stockpulse_batch_realtime_etl_spark.sources import storage
from stockpulse_batch_realtime_etl_spark.sources.ticks import ticks_from_events


@pytest.fixture(scope="module")
def ticks_path(spark):
    path = tempfile.mkdtemp(prefix="ticks_part_")
    ticks = ticks_from_events(spark, "/root/testdata/sf0.001")
    storage.write_ticks_partitioned(ticks, path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def test_symbol_predicate_prunes_partitions(spark, ticks_path):
    df = storage.read_ticks(spark, ticks_path).filter(F.col("symbol") == "PURCHASE")
    plan = P.formatted_plan(df)
    assert "PartitionFilters" in plan
    # the symbol equality must appear as a PARTITION filter (directory
    # pruning), not a data filter evaluated per row
    import re

    (pf,) = re.findall(r"PartitionFilters: \[(.*?)\]", plan)
    assert "symbol" in pf, plan


def test_pruned_read_returns_same_rows_as_filter(spark, ticks_path):
    base = ticks_from_events(spark, "/root/testdata/sf0.001")
    expected = base.filter(F.col("symbol") == "PURCHASE").count()
    pruned = (
        storage.read_ticks(spark, ticks_path)
        .filter(F.col("symbol") == "PURCHASE")
        .count()
    )
    assert pruned == expected > 0


def test_latest_ticks_over_partitioned_layout(spark, ticks_path):
    from stockpulse_batch_realtime_etl_spark.operators import serving

    df = storage.read_ticks(spark, ticks_path)
    out = serving.latest_ticks(
        df.select("symbol", "price", "volume", "event_time"), "purchase", 5
    )
    P.assert_take_ordered(out)
    rows = out.collect()
    assert len(rows) == 5
    times = [r.event_time for r in rows]
    assert times == sorted(times, reverse=True)


def test_bucketed_join_has_no_exchange(spark, tmp_path_factory):
    """Two tables bucketed by symbol into the same bucket count must join
    with ZERO shuffles (the bucket layout IS the join partitioning), and
    produce the same rows as the shuffled join."""
    from stockpulse_batch_realtime_etl_spark.operators.ohlcv import ohlcv_bars
    from stockpulse_batch_realtime_etl_spark.plans.assertions import simple_plan
    from stockpulse_batch_realtime_etl_spark.sources.storage import write_bucketed
    from stockpulse_batch_realtime_etl_spark.sources.ticks import ticks_from_events

    base = tmp_path_factory.mktemp("bucketed")
    ticks = ticks_from_events(spark, "/root/testdata/sf0.001")
    sym_stats = ticks.groupBy("symbol").count()
    bars = ohlcv_bars(ticks)
    write_bucketed(sym_stats, "t_sym_stats", str(base / "sym_stats"))
    write_bucketed(bars, "t_bars_b", str(base / "bars"))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_bars_b").join(
            spark.table("t_sym_stats"), "symbol"
        )
        plan = simple_plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        expected = bars.join(sym_stats, "symbol")
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, expected.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_sym_stats")
        spark.sql("DROP TABLE IF EXISTS t_bars_b")


def test_compaction_reduces_files_preserves_rows(spark, tmp_path_factory):
    import glob

    from stockpulse_batch_realtime_etl_spark.sources.storage import (
        compact_partitioned,
    )
    from stockpulse_batch_realtime_etl_spark.sources.ticks import ticks_from_events

    base = tmp_path_factory.mktemp("compact")
    src, dst = str(base / "src"), str(base / "dst")
    ticks = ticks_from_events(spark, "/root/testdata/sf0.001").withColumn(
        "event_date", F.to_date("event_time")
    )
    # simulate a streaming sink's file spray: 20 files per partition
    ticks.repartition(20).write.partitionBy("event_date").parquet(src)
    n_src_files = len(glob.glob(f"{src}/event_date=*/part-*"))
    compact_partitioned(spark, src, dst, "event_date")
    n_dst_files = len(glob.glob(f"{dst}/event_date=*/part-*"))
    n_parts = len(glob.glob(f"{dst}/event_date=*"))
    assert n_dst_files == n_parts < n_src_files  # one file per partition here
    assert (
        spark.read.parquet(dst).count() == spark.read.parquet(src).count() > 0
    )


def _table_format(spark, path):
    """(parquet files per directory under ``path``, table schema)."""
    import os

    files = {
        d: [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
        for d in sorted(os.listdir(path))
        if os.path.isdir(os.path.join(path, d))
    }
    return files, spark.read.parquet(path).schema.simpleString()


def test_batch_build_and_streaming_upsert_write_one_bars_format(spark, tmp_path):
    """The batch build and the streaming upsert write the same table:
    only ``bucket_date=*`` directories, one parquet file per day, and the
    same column names and types (``STOCK_BARS_SCHEMA`` plus the day)."""
    from pyspark.sql.types import DateType, StructField, StructType

    from stockpulse_batch_realtime_etl_spark.schemas import STOCK_BARS_SCHEMA
    from stockpulse_batch_realtime_etl_spark.streaming import job

    # tick_count int, as a hand-built frame says it; ``count`` gives bigint
    bars = spark.createDataFrame(
        [
            ("AAPL", "2024-01-15 12:05:00", 1.0, 2.0, 0.5, 1.5, 10, 2),
            ("MSFT", "2024-01-15 12:05:00", 4.0, 4.5, 3.5, 4.2, 20, 3),
            ("AAPL", "2024-01-16 09:30:00", 1.1, 2.1, 0.6, 1.6, 30, 4),
        ],
        "symbol string, bucket_start string, open double, high double, "
        "low double, close double, volume_sum long, tick_count int",
    ).withColumn("bucket_start", F.to_timestamp("bucket_start"))
    built, upserted = str(tmp_path / "built"), str(tmp_path / "upserted")
    storage.write_bars_partitioned(bars, built)
    job.upsert_bars_batch(bars, upserted)
    files_b, schema_b = _table_format(spark, built)
    files_u, schema_u = _table_format(spark, upserted)
    days = ["bucket_date=2024-01-15", "bucket_date=2024-01-16"]
    assert list(files_b) == list(files_u) == days
    assert [len(v) for v in files_b.values()] == [1, 1]
    assert [len(v) for v in files_u.values()] == [1, 1]
    expected = StructType(
        [*STOCK_BARS_SCHEMA.fields, StructField("bucket_date", DateType())]
    ).simpleString()
    assert schema_b == schema_u == expected
    assert "tick_count:bigint" in expected
    built_df, upserted_df = spark.read.parquet(built), spark.read.parquet(upserted)
    assert built_df.count() == 3
    assert built_df.exceptAll(upserted_df).count() == 0
    assert upserted_df.exceptAll(built_df).count() == 0
