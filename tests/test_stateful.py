"""Running-bar operator: state must carry across micro-batches and merge by
event_time, not arrival order."""

from __future__ import annotations

import json
import shutil
import tempfile

import pytest

from conftest import ts

from stockpulse_batch_realtime_etl_spark.sources.dlq import split_raw_stream
from stockpulse_batch_realtime_etl_spark.streaming.stateful import running_bars


@pytest.fixture()
def dirs():
    base = tempfile.mkdtemp(prefix="stateful_")
    yield base
    shutil.rmtree(base, ignore_errors=True)


def _write_batch(path: str, name: str, rows: list[dict]) -> None:
    import os

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def tick(symbol: str, price: float, volume: int, minute: int) -> dict:
    return {
        "symbol": symbol,
        "price": price,
        "volume": volume,
        "event_time": ts(minute).isoformat(sep=" "),
    }


def test_running_bars_state_carries_across_batches(spark, dirs):
    raw_dir = f"{dirs}/raw"
    # batch 1: two AAPL ticks; batch 2 (later file): a higher high and the
    # new latest tick — the running bar must remember batch 1's open/low
    _write_batch(raw_dir, "b1.json", [tick("AAPL", 10.0, 5, 1), tick("AAPL", 8.0, 5, 2)])

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(raw_dir)
    )
    ticks = split_raw_stream(raw).ticks.select(
        "symbol", "price", "volume", "event_time"
    )
    out = running_bars(ticks)

    seen: list[dict] = []

    def sink(df, epoch):
        seen.append({r.symbol: r.asDict() for r in df.collect()})

    q = (
        out.writeStream.outputMode("update")
        .option("checkpointLocation", f"{dirs}/ckpt")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    _write_batch(raw_dir, "b2.json", [tick("AAPL", 20.0, 7, 3), tick("MSFT", 1.0, 1, 3)])
    q = (
        out.writeStream.outputMode("update")
        .option("checkpointLocation", f"{dirs}/ckpt")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # batch 1 result: open=10 (t1), low=8, close=8 (t2)
    first = next(s for s in seen if "AAPL" in s)
    assert first["AAPL"]["open"] == 10.0
    assert first["AAPL"]["low"] == 8.0
    assert first["AAPL"]["close"] == 8.0
    # final AAPL state: open kept from batch 1, high/close from batch 2,
    # volume and count accumulated across batches
    last = [s for s in seen if "AAPL" in s][-1]
    a = last["AAPL"]
    assert a["open"] == 10.0 and a["high"] == 20.0 and a["low"] == 8.0
    assert a["close"] == 20.0 and a["volume_sum"] == 17 and a["tick_count"] == 3
    # MSFT appears with its own isolated state
    m = [s for s in seen if "MSFT" in s][-1]["MSFT"]
    assert m["open"] == m["close"] == 1.0 and m["tick_count"] == 1
