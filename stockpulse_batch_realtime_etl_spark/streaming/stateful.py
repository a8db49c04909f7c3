"""Per-symbol RUNNING OHLCV ("session-to-date bar") over a tick stream.

The windowed aggregation in streaming/job.py closes a bar per minute; the
running bar never closes — one aggregate per symbol since stream start.
That is Spark's built-in window-less streaming aggregate: grouped by symbol
alone and run in update mode, its state is one row of aggregation buffers
per symbol (bounded memory, no per-event state growth), partially combined
map-side before the shuffle, and each micro-batch emits one row per active
symbol.  The aggregates are ``operators.ohlcv``'s tick → bar map, so open and
close are chosen by event_time, not arrival order (ST8), and the result is
exact under any batch split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from stockpulse_batch_realtime_etl_spark.operators.ohlcv import bar_agg_exprs


def running_bars(ticks: DataFrame) -> DataFrame:
    """ticks stream → one running-OHLCV row per symbol per micro-batch
    (update mode)."""
    return ticks.groupBy("symbol").agg(*bar_agg_exprs())
