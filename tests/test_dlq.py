"""DLQ split semantics: both tick shapes normalize; malformed dead-letters.

Mirrors consumer.py:133-139 behavior + the SURVEY.md §1.2 design decision
(wide yfinance ticks are normalized via price := coalesce(price, close),
NOT dead-lettered like the reference does by accident)."""

from __future__ import annotations

import json

import pytest

from stockpulse_batch_realtime_etl_spark.schemas import FAILED_EVENTS_SCHEMA
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


def test_event_time_is_parsed_once(split):
    # the filter and the projection read the one parse inside the barrier
    plan = split.ticks._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("event_time as timestamp)") == 1, plan


def test_dlq_rows_are_typed_by_failed_events_schema(spark, split):
    want = [(f.name, f.dataType) for f in FAILED_EVENTS_SCHEMA]
    assert [(f.name, f.dataType) for f in split.failed.schema] == want
    # a text source has only ``value``: the Kafka columns are typed nulls
    text = split_raw_stream(spark.createDataFrame([(MALFORMED,)], "value string"))
    assert [(f.name, f.dataType) for f in text.failed.schema] == want
    row = text.failed.collect()[0]
    assert (row.topic, row.partition_id, row.offset_id) == (None, None, None)


#: each record kind and the error the rule gives it (None: a tick)
_EXPECTED = {
    "ok": None,
    "malformed": "JSONDecodeError: malformed record",
    "no_symbol": "KeyError: 'symbol'",
    "null_symbol": "KeyError: 'symbol'",
    "no_price": "KeyError: 'price'",
    "bad_time": "ValueError: unparseable event_time",
    "no_time": "ValueError: unparseable event_time",
}


def _record(shape: str, kind: str, offset: int) -> str:
    """A wire record whose price (narrow) or close (wide) names its offset."""
    rec = {"symbol": f"s{offset}", "volume": 1, "event_time": "2024-01-15T12:00:00Z"}
    if shape == "narrow":
        rec["price"] = offset + 0.5
    else:
        rec.update(open=1.0, close=offset + 0.5, source="yfinance")
    if kind == "no_symbol":
        del rec["symbol"]
    elif kind == "null_symbol":
        rec["symbol"] = None
    elif kind == "no_price":
        rec.pop("price", None)
        rec.pop("close", None)
    elif kind == "bad_time":
        rec["event_time"] = "not-a-time"
    elif kind == "no_time":
        del rec["event_time"]
    text = json.dumps(rec)
    return text[:15] if kind == "malformed" else text


def test_record_is_a_tick_exactly_when_it_gets_no_error(spark):
    cases = [(shape, kind) for shape in ("narrow", "wide") for kind in _EXPECTED]
    values = [_record(shape, kind, o) for o, (shape, kind) in enumerate(cases)]
    values += ["", "[1, 2]", '"text"', "null", "{}"]
    raw = spark.createDataFrame(
        [(v, "stock.ticks.v1", 0, o) for o, v in enumerate(values)],
        "value string, topic string, partition int, offset long",
    )
    split = split_raw_stream(raw)
    ticks = [int(r.price) for r in split.ticks.collect()]
    errors = {r.offset_id: r.error_message for r in split.failed.collect()}
    assert None not in errors.values()
    # every record lands on exactly one side
    assert sorted(ticks + list(errors)) == list(range(len(values)))
    for o, (shape, kind) in enumerate(cases):
        assert errors.get(o) == _EXPECTED[kind], (shape, kind)
