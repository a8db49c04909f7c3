"""OHLCV bar semantics — the invariants the reference's test suite encodes
(tests/test_aggregator.py, SURVEY.md §5), as real executable assertions."""

from __future__ import annotations

from conftest import ts

from stockpulse_batch_realtime_etl_spark.operators.ohlcv import (
    ohlcv_bars,
    ohlcv_bars_in_range,
)


def bars_map(df):
    return {(r.symbol, r.bucket_start): r for r in df.collect()}


def test_bucket_rounds_to_minute_boundary(make_ticks):
    # :00 and :59 of the same minute land in one bucket (test_aggregator.py:22-30)
    df = make_ticks(
        [
            ("AAPL", 190.0, 100, ts(5, 0)),
            ("AAPL", 191.0, 200, ts(5, 59)),
            ("AAPL", 192.0, 300, ts(6, 0)),
        ]
    )
    bars = bars_map(ohlcv_bars(df))
    assert set(bars) == {("AAPL", ts(5)), ("AAPL", ts(6))}
    assert bars[("AAPL", ts(5))].tick_count == 2


def test_ohlcv_semantics(make_ticks):
    # open=first by time, close=last, high=max, low=min, volume summed
    df = make_ticks(
        [
            ("AAPL", 190.0, 100, ts(5, 1)),
            ("AAPL", 195.0, None, ts(5, 20)),   # null volume → counts as 0
            ("AAPL", 185.0, 300, ts(5, 40)),
            ("AAPL", 191.0, 50, ts(5, 59)),
        ]
    )
    b = bars_map(ohlcv_bars(df))[("AAPL", ts(5))]
    assert b.open == 190.0
    assert b.close == 191.0
    assert b.high == 195.0
    assert b.low == 185.0
    assert b.volume_sum == 450
    assert b.tick_count == 4


def test_single_tick_bar_is_flat(make_ticks):
    # O=H=L=C for a singleton bar (test_aggregator.py:137-146)
    df = make_ticks([("TSLA", 245.5, 900, ts(7, 30))])
    b = bars_map(ohlcv_bars(df))[("TSLA", ts(7))]
    assert b.open == b.high == b.low == b.close == 245.5
    assert b.tick_count == 1


def test_high_low_bound_all_prices(make_ticks):
    # high ≥ open, close; low ≤ open, close (test_consumer.py:183-189)
    df = make_ticks(
        [("MSFT", p, 10, ts(9, s)) for s, p in enumerate([415.0, 414.2, 416.9, 415.5])]
    )
    b = bars_map(ohlcv_bars(df))[("MSFT", ts(9))]
    assert b.high >= max(b.open, b.close) and b.low <= min(b.open, b.close)


def test_symbols_do_not_mix(make_ticks):
    df = make_ticks(
        [("AAPL", 190.0, 1, ts(5, 1)), ("MSFT", 415.0, 2, ts(5, 2))]
    )
    bars = bars_map(ohlcv_bars(df))
    assert bars[("AAPL", ts(5))].tick_count == 1
    assert bars[("MSFT", ts(5))].tick_count == 1


def test_half_open_range_filter(make_ticks):
    # op P4: event_time >= lo AND < hi (aggregator.py:37)
    df = make_ticks(
        [
            ("AAPL", 1.0, 1, ts(4, 59)),
            ("AAPL", 2.0, 1, ts(5, 0)),
            ("AAPL", 3.0, 1, ts(6, 0)),  # == hi → excluded
        ]
    )
    bars = bars_map(ohlcv_bars_in_range(df, ts(5), ts(6)))
    assert set(bars) == {("AAPL", ts(5))}


def test_hourly_rollup_bucket(make_ticks):
    df = make_ticks(
        [("AAPL", 1.0, 1, ts(5)), ("AAPL", 2.0, 1, ts(42))]
    )
    bars = ohlcv_bars(df, bucket="1 hour").collect()
    assert len(bars) == 1 and bars[0].tick_count == 2


def test_sliding_bars_tick_joins_five_windows(make_ticks):
    from stockpulse_batch_realtime_etl_spark.operators.ohlcv import sliding_bars

    t = make_ticks([("AAPL", 10.0, 1, ts(10, 30))])
    rows = sliding_bars(t, 5, 1).collect()
    # one tick at 12:10:30 → member of windows starting 12:06 .. 12:10
    starts = sorted(str(r.window_start) for r in rows)
    assert len(rows) == 5
    assert starts[0].endswith("12:06:00") and starts[-1].endswith("12:10:00")
    assert all(r.open == r.close == 10.0 and r.tick_count == 1 for r in rows)


def test_session_bars_split_exactly_at_gap(make_ticks):
    from stockpulse_batch_realtime_etl_spark.operators.ohlcv import session_bars

    t = make_ticks(
        [
            ("AAPL", 1.0, 1, ts(0)),
            ("AAPL", 2.0, 1, ts(5)),       # exactly 5 min gap → still MERGES
            ("AAPL", 3.0, 1, ts(10, 1)),   # 5min1s > gap → NEW session
            ("MSFT", 9.0, 1, ts(0)),
        ]
    )
    rows = sorted(
        session_bars(t, 5).collect(), key=lambda r: (r.symbol, r.session_start)
    )
    aapl = [r for r in rows if r.symbol == "AAPL"]
    assert len(aapl) == 2
    assert aapl[0].tick_count == 2 and aapl[0].open == 1.0 and aapl[0].close == 2.0
    assert aapl[1].tick_count == 1 and aapl[1].open == 3.0
    msft = [r for r in rows if r.symbol == "MSFT"]
    assert len(msft) == 1


def test_session_bars_accept_an_interval_string_gap(make_ticks):
    from stockpulse_batch_realtime_etl_spark.operators.ohlcv import session_bars

    t = make_ticks(
        [
            ("AAPL", 1.0, 1, ts(0)),
            ("AAPL", 2.0, 1, ts(1, 30)),   # exactly 90 s → still MERGES
            ("AAPL", 3.0, 1, ts(3, 1)),    # 91 s > gap → NEW session
        ]
    )
    rows = session_bars(t, "90 seconds").orderBy("session_start").collect()
    assert [r.tick_count for r in rows] == [2, 1]
    assert sorted(session_bars(t, "5 minutes").collect()) == sorted(
        session_bars(t, 5).collect()
    )


def test_rollup_cascade_equals_direct_aggregation(make_ticks):
    """Mergeability invariant: 1m bars rolled to 1h == 1h bars from ticks."""
    from stockpulse_batch_realtime_etl_spark.operators.ohlcv import rollup_bars

    t = make_ticks(
        [
            ("AAPL", 10.0, 100, ts(5, 10, hour=12)),
            ("AAPL", 30.0, None, ts(5, 50, hour=12)),
            ("AAPL", 5.0, 200, ts(47, 0, hour=12)),
            ("AAPL", 20.0, 300, ts(2, 0, hour=13)),
            ("MSFT", 50.0, 50, ts(30, 0, hour=12)),
        ]
    )
    cascade = rollup_bars(ohlcv_bars(t), "hour")
    direct = ohlcv_bars(t, bucket="1 hour")
    key = lambda r: (r.symbol, r.bucket_start)
    c = {key(r): r for r in cascade.collect()}
    d = {key(r): r for r in direct.collect()}
    assert set(c) == set(d)
    for k in c:
        for f in ("open", "high", "low", "close", "volume_sum", "tick_count"):
            assert getattr(c[k], f) == getattr(d[k], f), (k, f)


def test_gapfill_carries_close_and_flags_gaps(make_ticks):
    from stockpulse_batch_realtime_etl_spark.operators.ohlcv import gapfill_bars

    t = make_ticks(
        [
            ("AAPL", 10.0, 100, ts(0)),
            ("AAPL", 20.0, 200, ts(3)),   # minutes 1-2 are silent
        ]
    )
    rows = sorted(gapfill_bars(ohlcv_bars(t)).collect(), key=lambda r: r.bucket_start)
    assert [str(r.bucket_start)[-8:-3] for r in rows] == ["12:00", "12:01", "12:02", "12:03"]
    assert [r.is_gap for r in rows] == [False, True, True, False]
    assert [r.close_filled for r in rows] == [10.0, 10.0, 10.0, 20.0]
    assert [r.volume_sum for r in rows] == [100, 0, 0, 200]
