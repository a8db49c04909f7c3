"""DLQ split semantics: both tick shapes normalize; malformed dead-letters.

Mirrors consumer.py:133-139 behavior + the SURVEY.md §1.2 design decision
(wide yfinance ticks are normalized via price := coalesce(price, close),
NOT dead-lettered like the reference does by accident)."""

from __future__ import annotations

import pytest

from stockpulse_batch_realtime_etl_spark.sources.dlq import split_raw_stream

NARROW = '{"symbol": "AAPL", "price": 190.25, "volume": 500, "event_time": "2024-01-15T12:05:00+00:00"}'
WIDE = (
    '{"symbol": "msft", "open": 415.0, "high": 416.5, "low": 414.0, '
    '"close": 415.8, "volume": 52400000, "event_time": "2024-01-15 12:06:30", '
    '"source": "yfinance"}'
)
MALFORMED = '{"symbol": "GOOG", "price":'
NO_SYMBOL = '{"price": 1.0, "event_time": "2024-01-15T12:00:00Z"}'
NO_PRICE = '{"symbol": "TSLA", "event_time": "2024-01-15T12:00:00Z"}'
BAD_TIME = '{"symbol": "NVDA", "price": 875.0, "event_time": "not-a-time"}'


@pytest.fixture(scope="module")
def split(spark):
    raw = spark.createDataFrame(
        [
            (NARROW, "stock.ticks.v1", 0, 0),
            (WIDE, "stock.ticks.v1", 1, 1),
            (MALFORMED, "stock.ticks.v1", 2, 2),
            (NO_SYMBOL, "stock.ticks.v1", 0, 3),
            (NO_PRICE, "stock.ticks.v1", 1, 4),
            (BAD_TIME, "stock.ticks.v1", 2, 5),
        ],
        "value string, topic string, partition int, offset long",
    )
    return split_raw_stream(raw)


def test_valid_rows_become_ticks(split):
    ticks = {r.symbol: r for r in split.ticks.collect()}
    assert set(ticks) == {"AAPL", "MSFT"}
    assert ticks["AAPL"].price == 190.25
    assert ticks["AAPL"].volume == 500


def test_wide_shape_normalizes_price_from_close(split):
    msft = next(r for r in split.ticks.collect() if r.symbol == "MSFT")
    assert msft.price == 415.8          # coalesce(price, close)
    assert msft.open == 415.0 and msft.high == 416.5  # OHLC retained
    assert msft.source == "yfinance"


def test_symbol_uppercased(split):
    # 'msft' → 'MSFT' (op F7, ticks.py:19)
    assert any(r.symbol == "MSFT" for r in split.ticks.collect())


def test_failures_classified(split):
    failed = {r.offset_id: r for r in split.failed.collect()}
    assert set(failed) == {2, 3, 4, 5}
    assert failed[2].error_message == "JSONDecodeError: malformed record"
    assert failed[3].error_message == "KeyError: 'symbol'"
    assert failed[4].error_message == "KeyError: 'price'"
    assert failed[5].error_message == "ValueError: unparseable event_time"


def test_dlq_preserves_kafka_coordinates_and_raw(split):
    f = next(r for r in split.failed.collect() if r.offset_id == 2)
    assert f.topic == "stock.ticks.v1" and f.partition_id == 2
    assert f.raw_value == MALFORMED
    assert f.source == "consumer"


def test_never_crashes_totals(split):
    # every input row lands exactly once on one side (consumer never crashes)
    assert split.ticks.count() + split.failed.count() == 6


def test_valid_records_are_parsed_once(split):
    # the validity filter must not re-run from_json below the tick projection
    plan = split.ticks._jdf.queryExecution().executedPlan().toString()
    assert plan.count("from_json(") == 1, plan
