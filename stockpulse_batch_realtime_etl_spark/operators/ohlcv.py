"""OHLCV 1-minute bar aggregation — the engine's flagship operator.

Reference: AGGREGATE_SQL (aggregator.py:26-39) —

    GROUP BY symbol, date_trunc('minute', event_time) producing
    open  = (array_agg(price ORDER BY event_time ASC))[1]     -- op A2
    high  = MAX(price)                                        -- A3
    low   = MIN(price)                                        -- A3
    close = (array_agg(price ORDER BY event_time DESC))[1]    -- A2
    volume_sum = SUM(COALESCE(volume, 0))                     -- A4
    tick_count = COUNT(*)                                     -- A5

Spark restatement: ``min_by``/``max_by`` replace the ordered-array-agg trick —
they are single-pass, order-insensitive aggregates that survive partial/final
split (map-side combine), so the whole bar aggregation is ONE hash-aggregate
with no sort and no window function.  At 100 TB this matters: the shuffle
carries only partially-combined per-(symbol, minute) state, not raw ticks.

Tie behavior on equal event_time is nondeterministic in BOTH systems (the
reference's array_agg ordering is equally unstable on ties — SURVEY.md §7);
fixtures keep timestamps unique within a group.

This module is the only code that knows how a bar is computed.  Two SQL
maps hold the whole algebra:

* ``_BAR_AGGS`` — tick → bar: the aggregate above over raw ticks.  It serves
  the batch bars, the streaming bars (streaming/job.py groups by
  ``window(event_time, "1 minute")`` instead of ``date_trunc`` — identical
  semantics for tumbling 1-min windows, SURVEY.md op F1), the running bar
  (streaming/stateful.py) and the sliding/session windows.
* ``_BAR_MERGE`` — bar → bar: OHLCV is mergeable, so finer bars combine
  into a coarser one by open/close of the earliest/latest bar, extrema of
  extrema and sums of sums.  It serves the sliding-window pane merge, the
  rollup cascade and the serving summaries (operators/serving.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: Bar column ← its aggregate over ticks, shared by the batch and streaming
#: bar paths.  SQL text: ``F.expr`` takes 3 py4j round trips,
#: ``F.max(F.col(...)).alias`` 27 (each Column call records its call site).
_BAR_AGGS = {
    "open": "min_by(price, event_time)",
    "high": "max(price)",
    "low": "min(price)",
    "close": "max_by(price, event_time)",
    "volume_sum": "sum(coalesce(volume, 0))",
    "tick_count": "count(1)",
}
BAR_COLUMNS = tuple(_BAR_AGGS)

#: Bar column ← its merge over finer bars keyed by the time column ``{t}``.
_BAR_MERGE = {
    "open": "min_by(open, {t})",
    "high": "max(high)",
    "low": "min(low)",
    "close": "max_by(close, {t})",
    "volume_sum": "sum(volume_sum)",
    "tick_count": "sum(tick_count)",
}


def bar_agg_exprs() -> list[Column]:
    return [F.expr(f"{e} AS {name}") for name, e in _BAR_AGGS.items()]


def bar_merge_exprs(time_col: str, *names: str) -> list[Column]:
    """Merge aggregates of finer bars keyed by ``time_col``: all bar columns,
    or only ``names`` in the order given."""
    return [
        F.expr(f"{_BAR_MERGE[name].format(t=time_col)} AS {name}")
        for name in names or BAR_COLUMNS
    ]


def ohlcv_bars(
    ticks: DataFrame,
    bucket: str = "1 minute",
) -> DataFrame:
    """Batch OHLCV bars: one row per (symbol, minute bucket).

    ``bucket`` accepts any Spark interval understood by ``date_trunc`` units
    via the mapping below; the reference only ever uses 1 minute (op ST5) but
    the rollup generalizes (hypertable-style coarser bars in
    operators/serving.py build on this).
    """
    unit = {"1 minute": "minute", "1 hour": "hour", "1 day": "day"}[bucket]
    return ticks.groupBy(
        "symbol", F.expr(f"date_trunc('{unit}', event_time) AS bucket_start")
    ).agg(*bar_agg_exprs())


def ohlcv_bars_in_range(
    ticks: DataFrame, from_time: Column | str, to_time: Column | str
) -> DataFrame:
    """The aggregator's exact batch shape: half-open range filter (op P4,
    aggregator.py:37) then bar aggregation.  The filter is a plain Catalyst
    predicate → parquet row-group pruning at scale."""
    c = F.col("event_time")
    return ohlcv_bars(ticks.filter((c >= F.lit(from_time)) & (c < F.lit(to_time))))


def sliding_bars(
    ticks: DataFrame, length_minutes: int = 5, slide_minutes: int = 1
) -> DataFrame:
    """Sliding-window OHLCV: a ``length``-minute bar every ``slide`` minutes
    (the smoothed chart view; the reference has tumbling only, SURVEY.md ST5).

    Pane-merge plan (default when slide divides length): a naive
    ``F.window(ts, length, slide)`` duplicates every TICK into
    length/slide windows before the shuffle — the shuffle volume
    multiplies by the overlap factor.  Instead aggregate tumbling
    slide-sized PANES first (one ordinary hash aggregate: map-side
    combined, shuffle carries per-(symbol, pane) state only), then
    explode each pane into the length/slide sliding windows it feeds and
    merge with the bar-combine identities (open/close = min_by/max_by on
    pane start; extrema/sums associative).  The explode multiplies PANE
    rows — bounded by symbols × time span / slide — not ticks.  This is
    exactly the pane optimization of streaming slide implementations,
    done relationally.
    """
    if length_minutes % slide_minutes != 0:
        w = f"window(event_time, '{length_minutes} minutes', '{slide_minutes} minutes')"
        return (
            ticks.groupBy("symbol", F.expr(f"{w} AS w"))
            .agg(*bar_agg_exprs())
            .selectExpr(
                "symbol", "w.start AS window_start", "w.end AS window_end", *BAR_COLUMNS
            )
        )
    k = length_minutes // slide_minutes
    pane = f"window(event_time, '{slide_minutes} minutes') AS p"
    panes = (
        ticks.groupBy("symbol", F.expr(pane))
        .agg(*bar_agg_exprs())
        .selectExpr("symbol", "p.start AS pane_start", *BAR_COLUMNS)
    )
    exploded = panes.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j")
    ).withColumn(
        "window_start",
        F.col("pane_start")
        - F.col("j") * F.expr(f"INTERVAL {slide_minutes} MINUTES"),
    )
    return (
        exploded.groupBy("symbol", "window_start")
        .agg(*bar_merge_exprs("pane_start"))
        .selectExpr(
            "symbol",
            "window_start",
            f"window_start + INTERVAL {length_minutes} MINUTES AS window_end",
            *BAR_COLUMNS,
        )
    )


def session_bars(ticks: DataFrame, gap: int | str = 5) -> DataFrame:
    """Session-window OHLCV: per-symbol activity bursts separated by ≥ gap
    of silence (the third window class; absent from the reference).
    ``gap`` is whole minutes or a Spark interval string (``"90 seconds"``).

    ``F.session_window`` is a keyed sort + running merge under the hood —
    one shuffle on symbol.  The oracle replays it with the classic
    gaps-and-islands SQL (lag + cumulative sum of gap-breaks), proving the
    semantics match the relational definition exactly.
    """
    gap = gap if isinstance(gap, str) else f"{gap} minutes"
    return (
        ticks.groupBy("symbol", F.expr(f"session_window(event_time, '{gap}') AS w"))
        .agg(*bar_agg_exprs())
        .selectExpr("symbol", "w.start AS session_start", *BAR_COLUMNS)
    )


def rollup_bars(bars: DataFrame, unit: str = "hour") -> DataFrame:
    """Coarser bars computed FROM finer bars — the materialized-rollup
    cascade (1m → 1h → 1d) a hypertable/OLAP store maintains.

    OHLCV is mergeable: a coarse bar is an exact function of its fine bars
    (open = open of the earliest fine bar, close = close of the latest,
    extrema/sums combine), so the hourly rollup reads ~60× fewer rows than
    re-aggregating raw ticks — at 100 TB, THE difference between scanning a
    bar table and re-scanning the tick firehose.  Same single hash-aggregate
    plan shape as the flagship, keyed by the coarser bucket.
    """
    return bars.groupBy(
        "symbol", F.expr(f"date_trunc('{unit}', bucket_start) AS bucket_start")
    ).agg(*bar_merge_exprs("bucket_start"))


def gapfill_bars(
    bars: DataFrame, bucket_seconds: int | None = 86_400
) -> DataFrame:
    """Gap-filled continuous bar series: emit EVERY bucket in each symbol's
    [min, max] span, carrying the last known close forward through silent
    minutes (LOCF) — the hypertable ``time_bucket_gapfill`` + ``locf``
    operation a charting/backtest consumer needs, absent from both the
    reference and vanilla SQL stores.

    Plan: per-symbol span (one tiny aggregate) → ``sequence`` + ``explode``
    builds the dense grid JVM-side (no driver loop, no Python) → left join
    real bars (grid and bars share the (symbol, bucket) key — with bars
    bucketed/partitioned by symbol this is co-located) → LOCF carry.
    Grid size is the span in minutes per symbol — generation is O(output),
    unavoidable and embarrassingly parallel.

    LOCF at scale (default): an unbounded-preceding ``last(ignorenulls)``
    partitioned by symbol alone is one task per symbol over the whole grid.
    Instead: within-day LOCF over (symbol, day), plus a per-DAY summary
    table (last real close per day, rows = days not minutes) windowed per
    symbol for the cross-day carry — ``coalesce(local, carry)`` is exact
    because a null local fill means the day had no real bar before that
    minute, so the fill is the last close of a prior day.
    ``bucket_seconds=None`` keeps the single-window path (test baseline).
    """
    span = bars.groupBy("symbol").agg(
        F.min("bucket_start").alias("mn"), F.max("bucket_start").alias("mx")
    )
    grid = span.select(
        "symbol",
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 minute"))
        ).alias("bucket_start"),
    )
    joined = grid.join(
        bars.select(
            "symbol",
            "bucket_start",
            "close",
            "volume_sum",
            F.lit(False).alias("_real"),
        ),
        ["symbol", "bucket_start"],
        "left",
    )
    if bucket_seconds is None:
        w = (
            Window.partitionBy("symbol")
            .orderBy("bucket_start")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return joined.select(
            "symbol",
            "bucket_start",
            F.last("close", ignorenulls=True).over(w).alias("close_filled"),
            F.coalesce("volume_sum", F.lit(0)).alias("volume_sum"),
            F.col("_real").isNull().alias("is_gap"),
        )

    from stockpulse_batch_realtime_etl_spark.operators import frames

    g = joined.withColumn(
        frames.BUCKET_COL, frames.bucket_of("bucket_start", bucket_seconds)
    )
    w_local = (
        Window.partitionBy("symbol", frames.BUCKET_COL)
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # per-day summary: close of the LAST real minute that day, then LOCF
    # over days per symbol — the sequential window touches day COUNTS,
    # not minutes.  max_by(close, <null-masked bucket_start>) rather than
    # max(when(... struct)): max_by skips null ordering keys (silent
    # minutes) exactly like the null-masked struct-max did, but its
    # buffer is two flat primitives, so this aggregate over the DENSE
    # GRID (the widest stream in the query) stays a HashAggregate — a
    # struct buffer is not UnsafeRow-mutable and demoted it to
    # SortAggregate, a per-partition sort of the grid (round 12).
    day_last = (
        g.groupBy("symbol", frames.BUCKET_COL)
        .agg(
            F.max_by(
                "close",
                F.when(F.col("close").isNotNull(), F.col("bucket_start")),
            ).alias("day_close")
        )
    )
    w_days = (
        Window.partitionBy("symbol")
        .orderBy(frames.BUCKET_COL)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carries = day_last.select(
        "symbol",
        frames.BUCKET_COL,
        F.last("day_close", ignorenulls=True).over(w_days).alias("carry_close"),
    )
    return (
        g.join(F.broadcast(carries), ["symbol", frames.BUCKET_COL])
        .select(
            "symbol",
            "bucket_start",
            F.coalesce(
                F.last("close", ignorenulls=True).over(w_local),
                F.col("carry_close"),
            ).alias("close_filled"),
            F.coalesce("volume_sum", F.lit(0)).alias("volume_sum"),
            F.col("_real").isNull().alias("is_gap"),
        )
    )
