"""Batch yfinance connector (reference S3/S4) with a recorded fixture.

The reference's producer (services/producer/producer_yfinance.py:63-157)
polls ``yf.download`` for a wide per-symbol OHLCV frame and emits ticks of
shape ``{symbol, open, high, low, close, volume, event_time, source}`` —
no ``price`` field.  The connector renders its rows as that wire JSON and
takes the ticks of sources/dlq.split_raw_stream, the one ingest path, so
``price := close`` and a row without a close or a parseable
``event_time`` gives no tick, exactly as it would on the tick topic.

Live network access is out of correctness scope, so the connector is
driven by a RECORDED fixture replicating the yf.download row shape
(cached mode ``source='yfinance'``, poll mode ``'yfinance_poll'``,
producer_yfinance.py:100-109 / 139-147).

Scale note: a market-data poll is dimension-sized (symbols × minutes),
so a driver-side literal frame is the right shape; the big side is always
the stored tick/bar tables this feed appends to.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from stockpulse_batch_realtime_etl_spark.sources.dlq import split_raw_stream
from stockpulse_batch_realtime_etl_spark.sources.tables import literal_df

#: Recorded yf.download-shaped rows: one per (symbol, minute), wide OHLCV,
#: ISO-8601 UTC event_time, no ``price`` key — exactly the wire shape the
#: reference's consumer dead-letters and ours normalizes.
YFINANCE_FIXTURE: list[dict[str, Any]] = [
    {"symbol": "AAPL", "open": 189.10, "high": 189.55, "low": 188.90,
     "close": 189.32, "volume": 1_204_500,
     "event_time": "2024-01-15T14:30:00+00:00", "source": "yfinance"},
    {"symbol": "AAPL", "open": 189.32, "high": 189.80, "low": 189.21,
     "close": 189.77, "volume": 980_200,
     "event_time": "2024-01-15T14:31:00+00:00", "source": "yfinance"},
    {"symbol": "MSFT", "open": 390.00, "high": 390.45, "low": 389.60,
     "close": 390.12, "volume": 640_100,
     "event_time": "2024-01-15T14:30:00+00:00", "source": "yfinance"},
    {"symbol": "msft", "open": 390.12, "high": 391.02, "low": 390.05,
     "close": 390.88, "volume": 712_800,
     "event_time": "2024-01-15T14:31:00+00:00", "source": "yfinance_poll"},
    {"symbol": "GOOG", "open": 142.50, "high": 142.71, "low": 142.33,
     "close": 142.60, "volume": 410_900,
     "event_time": "2024-01-15T14:30:00+00:00", "source": "yfinance_poll"},
]


def yfinance_ticks(
    spark: SparkSession, rows: list[dict[str, Any]] | None = None
) -> DataFrame:
    """Wide yfinance rows → tick DataFrame (price := close).

    ``rows=None`` uses the recorded fixture.  Output is the split's tick
    model: uppercased symbol, parsed timestamp, OHLC retained.
    """
    rows = YFINANCE_FIXTURE if rows is None else rows
    raw = literal_df(spark, [(json.dumps(r),) for r in rows], "value string")
    return split_raw_stream(raw).ticks
