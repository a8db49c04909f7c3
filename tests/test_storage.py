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


def test_read_bars_declares_the_inferred_schema(spark, tmp_path):
    """``read_bars`` returns exactly the schema a parquet read infers, for
    a table the batch build writes and one the upsert writes, and reads a
    table with no data files yet as empty."""
    from stockpulse_batch_realtime_etl_spark.streaming import job

    bars = spark.createDataFrame(
        [("AAPL", "2024-01-15 12:05:00", 1.0, 2.0, 0.5, 1.5, 10, 2)],
        "symbol string, bucket_start string, open double, high double, "
        "low double, close double, volume_sum long, tick_count int",
    ).withColumn("bucket_start", F.to_timestamp("bucket_start"))
    built, upserted = str(tmp_path / "built"), str(tmp_path / "upserted")
    storage.write_bars_partitioned(bars, built)
    job.upsert_bars_batch(bars, upserted)
    for path in (built, upserted):
        read = storage.read_bars(spark, path)
        assert read.schema == spark.read.parquet(path).schema
        assert read.exceptAll(spark.read.parquet(path)).count() == 0
    empty = tmp_path / "empty" / "bucket_date=2024-01-20"
    empty.mkdir(parents=True)
    (empty / "_marker").write_text("no data")
    assert storage.read_bars(spark, str(tmp_path / "empty")).count() == 0
