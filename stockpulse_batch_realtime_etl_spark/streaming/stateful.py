"""Custom stateful streaming operator: per-symbol RUNNING OHLCV
("session-to-date bar") via ``applyInPandasWithState``.

The windowed aggregation in streaming/job.py covers everything the
reference computes; this operator demonstrates the escape hatch for
semantics Spark's built-in windowing can NOT express — state that never
closes (a running aggregate since stream start), custom merge logic, and
arbitrary per-group Python — while keeping the production shape:

* state is a single fixed-width tuple per symbol (bounded memory, no
  per-event state growth),
* each micro-batch arrives as Arrow-batched pandas frames (no per-row
  Python), is folded into state with vectorized ops, and emits exactly one
  row per active symbol per batch,
* ordering within a batch is handled by explicit event_time argmin/argmax —
  no reliance on arrival order (ST8).

The same skeleton carries any custom stateful operator (gap sessionization,
pattern detection, online variance): change the state tuple + fold.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: (first_time, open, high, low, last_time, close, volume_sum, tick_count)
STATE_SCHEMA = (
    "first_ts double, open double, high double, low double, "
    "last_ts double, close double, volume_sum long, tick_count long"
)

OUTPUT_SCHEMA = (
    "symbol string, open double, high double, low double, close double, "
    "volume_sum long, tick_count long"
)

#: Fold identity: state for a symbol that has seen no ticks yet.
_EMPTY_STATE = (
    float("inf"), None, float("-inf"), float("inf"), float("-inf"), None, 0, 0,
)


def fold_bar_state(state: tuple | None, pdfs) -> tuple:
    """The ONE running-OHLCV fold shared by both stateful-API exemplars.

    ``state`` is the 8-slot tuple of :data:`STATE_SCHEMA` (or ``None`` for
    a fresh key); ``pdfs`` is an iterator of Arrow-batched pandas frames
    with ``event_time``/``price``/``volume`` columns.  Returns the merged
    state tuple.  Keeping this in one place means the GroupState and the
    transformWithState exemplars cannot silently diverge on a future edit
    (only the GroupState twin runs end-to-end in this container — see the
    SANDBOX SEAM note on :class:`RunningBarProcessor`).
    """
    f_ts, o, h, low, l_ts, c, vol, cnt = (
        state if state is not None else _EMPTY_STATE
    )
    for pdf in pdfs:
        if pdf.empty:
            continue
        ts = pdf["event_time"].astype("int64") / 1e9  # epoch seconds
        prices = pdf["price"].astype("float64")
        first_i, last_i = ts.idxmin(), ts.idxmax()
        if ts[first_i] < f_ts:
            f_ts, o = float(ts[first_i]), float(prices[first_i])
        if ts[last_i] > l_ts:
            l_ts, c = float(ts[last_i]), float(prices[last_i])
        h = max(h, float(prices.max()))
        low = min(low, float(prices.min()))
        vol += int(pdf["volume"].fillna(0).sum())
        cnt += len(pdf)
    return (f_ts, o, h, low, l_ts, c, vol, cnt)


def _bar_row(symbol: str, state: tuple) -> "pd.DataFrame":  # noqa: F821
    import pandas as pd

    _f_ts, o, h, low, _l_ts, c, vol, cnt = state
    return pd.DataFrame(
        [
            {
                "symbol": symbol,
                "open": o,
                "high": h,
                "low": low,
                "close": c,
                "volume_sum": vol,
                "tick_count": cnt,
            }
        ]
    )


def _fold(key: Any, pdfs: Iterator["pd.DataFrame"], state: GroupState):  # noqa: F821
    (symbol,) = key
    merged = fold_bar_state(state.get if state.exists else None, pdfs)
    state.update(merged)
    yield _bar_row(symbol, merged)


def running_bars(ticks: DataFrame) -> DataFrame:
    """ticks stream → one running-OHLCV row per symbol per micro-batch."""
    return ticks.groupBy("symbol").applyInPandasWithState(
        _fold,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


from pyspark.sql.streaming.stateful_processor import StatefulProcessor


class RunningBarProcessor(StatefulProcessor):
    """The SAME running-OHLCV fold as :func:`running_bars`, expressed in the
    Spark 4 arbitrary-state API (``transformWithStateInPandas`` /
    ``StatefulProcessor``): typed, named state variables managed through a
    ``StatefulProcessorHandle`` instead of one opaque ``GroupState`` tuple.

    Why carry both: ``applyInPandasWithState`` is the Spark 3.4+ form this
    module's docstring motivates; ``transformWithState`` is its successor —
    composable state variables (value/list/map), TTL, timers, and initial-
    state bootstrap — and the shape new operators should take.  Both
    exemplars call the one :func:`fold_bar_state` body, so they cannot
    diverge.

    SANDBOX SEAM: the TWS Python runner speaks a protobuf protocol to the
    JVM state server, and ``google.protobuf`` is absent from this container
    (verified: STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE →
    ``ImportError: cannot import name 'descriptor' from 'google.protobuf'``;
    pip installs are out of scope).  So only the ``applyInPandasWithState``
    twin runs end-to-end here (driver-gated as ``streaming_running_bars``);
    THIS processor's fold is exercised by driving ``handleInputRows``
    directly against a stub ValueState in tests/test_stateful.py — exact
    under any batch split, same property the gated twin proves.  Running
    :func:`running_bars_tws` on a real cluster also needs the RocksDB
    state-store provider (transformWithState supports no other), whereas
    this package's sessions set the HDFS-backed one.
    """

    def init(self, handle) -> None:
        self._bar = handle.getValueState("bar", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        (symbol,) = key
        merged = fold_bar_state(
            self._bar.get() if self._bar.exists() else None, rows
        )
        self._bar.update(merged)
        yield _bar_row(symbol, merged)

    def close(self) -> None:
        pass


def running_bars_tws(ticks: DataFrame) -> DataFrame:
    """ticks stream → running OHLCV per symbol per micro-batch, via the
    Spark 4 ``transformWithStateInPandas`` API (``timeMode="None"`` — the
    running bar never expires, exactly like the GroupStateTimeout.NoTimeout
    twin above).  Needs a session whose
    ``spark.sql.streaming.stateStore.providerClass`` is the RocksDB provider
    and protobuf on the Python side; see :class:`RunningBarProcessor`."""
    return ticks.groupBy("symbol").transformWithStateInPandas(
        statefulProcessor=RunningBarProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
