"""S1 simulated producer and S2/S5 Kafka builders."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from stockpulse_batch_realtime_etl_spark.sources import kafka, rate


def test_simulated_tick_batch_shape_and_determinism(spark):
    a = rate.simulated_tick_batch(spark, 100).collect()
    b = rate.simulated_tick_batch(spark, 100).collect()
    assert a == b  # fully deterministic (seeded md5, not random())
    assert len(a) == 100
    syms = {r.symbol for r in a}
    assert syms == set(rate.BASE_PRICES)  # all 6 symbols appear
    for r in a:
        base = rate.BASE_PRICES[r.symbol]
        assert abs(r.price - base) <= 0.5 + 1e-9  # drift bound ±0.5
        assert 500 <= r.volume < 15000  # producer.py:70 volume range
        assert r.event_time is not None


def test_simulated_tick_stream_is_streaming_with_tick_schema(spark):
    s = rate.simulated_tick_stream(spark, 2)
    assert s.isStreaming
    assert [f.name for f in s.schema.fields] == [
        "symbol",
        "price",
        "volume",
        "event_time",
    ]


def test_encode_ticks_for_kafka_round_trips(spark):
    ticks = rate.simulated_tick_batch(spark, 10)
    enc = kafka.encode_ticks_for_kafka(ticks).collect()
    assert all(r.key == json.loads(r.value)["symbol"] for r in enc)
    # keyed by symbol → per-symbol partition ordering (producer.py:87)
    payload = json.loads(enc[0].value)
    assert set(payload) == {"symbol", "price", "volume", "event_time"}


def test_kafka_value_to_raw_maps_dlq_metadata(spark):
    fake = spark.createDataFrame(
        [(b"x", "stock.ticks.v1", 0, 7)],
        "value binary, topic string, partition int, offset long",
    )
    row = kafka.kafka_value_to_raw(fake).collect()[0]
    assert (row.value, row.topic, row.partition, row.offset) == (
        "x",
        "stock.ticks.v1",
        0,
        7,
    )


def test_rate_ticks_feed_ohlcv(spark):
    from stockpulse_batch_realtime_etl_spark.operators.ohlcv import ohlcv_bars

    bars = ohlcv_bars(rate.simulated_tick_batch(spark, 240)).collect()
    # 240 ticks at 2s cadence = 480s = 8 minutes × up to 6 symbols
    assert len(bars) > 0
    for b in bars:
        assert b.low <= b.open <= b.high
        assert b.low <= b.close <= b.high


def test_yfinance_fixture_normalizes_wide_shape(spark):
    """Reference S3/S4 (producer_yfinance.py:100-109): wide OHLCV rows with
    no price field land as ticks with price := close, uppercased symbol."""
    from stockpulse_batch_realtime_etl_spark.sources.yfinance_batch import (
        YFINANCE_FIXTURE,
        yfinance_ticks,
    )

    out = {
        (r.symbol, str(r.event_time), r.source): r
        for r in yfinance_ticks(spark).collect()
    }
    assert len(out) == len(YFINANCE_FIXTURE)
    for rec in YFINANCE_FIXTURE:
        row = out[(rec["symbol"].upper(),
                   rec["event_time"].replace("T", " ").replace("+00:00", ""),
                   rec["source"])]
        assert row.price == rec["close"]  # price := close
        assert row.open == rec["open"] and row.volume == rec["volume"]
        assert row.event_time is not None and row.created_at is not None


def test_yfinance_rows_without_close_or_event_time_give_no_tick(spark):
    """The connector keeps the ingest rule: the tick model's price and
    event_time are NOT NULL, so such rows are not ticks."""
    from stockpulse_batch_realtime_etl_spark.sources.yfinance_batch import (
        YFINANCE_FIXTURE,
        yfinance_ticks,
    )

    good = YFINANCE_FIXTURE[0]
    rows = [
        good,
        {**good, "symbol": "NOCLOSE", "close": None},
        {**good, "symbol": "BADTIME", "event_time": "not-a-time"},
    ]
    out = yfinance_ticks(spark, rows).collect()
    assert [r.symbol for r in out] == ["AAPL"]
    assert out[0].price == good["close"] and out[0].event_time is not None


def test_literal_df_is_one_partition(spark):
    """An action over a literal frame schedules one task, not one per core."""
    from stockpulse_batch_realtime_etl_spark.sources.tables import literal_df

    df = literal_df(spark, [(1, "a"), (2, "b")], "id long, s string")
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 2


def test_literal_df_builds_within_py4j_budget(spark, monkeypatch):
    """A literal frame travels as one JSON string: building 30 rows × 4
    columns takes a few dozen py4j round trips, not one Column per cell
    (~4,900), and the values come back exactly, NaN, quotes and nulls too."""
    import gc
    import math
    import threading

    from py4j.clientserver import ClientServerConnection

    from stockpulse_batch_realtime_etl_spark.sources.tables import literal_df

    rows = [
        (i, f'sym "{i}"\n', None if i % 7 == 0 else i * 0.1, i % 2 == 0)
        for i in range(29)
    ] + [(29, None, float("nan"), None)]
    calls = []
    send = ClientServerConnection.send_command
    # count only this thread's commands: a background thread sends the
    # releases of dead proxies that earlier tests left, whenever it runs
    owner = threading.get_ident()

    def counted(self, command):
        if threading.get_ident() == owner:
            calls.append(command)
        return send(self, command)

    # collect earlier tests' dead Java proxies now: each one freed inside
    # the counted window would send its own release command
    gc.collect()
    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    df = literal_df(spark, rows, "id long, s string, x double, b boolean")
    monkeypatch.undo()
    assert 0 < len(calls) <= 50, len(calls)

    out = [tuple(r) for r in df.orderBy("id").collect()]
    assert out[:-1] == rows[:-1]
    assert out[-1][:2] == (29, None) and math.isnan(out[-1][2]) and out[-1][3] is None
