"""Streaming observability — the Spark-native analog of the reference's
Prometheus instrumentation (services/api/app/main.py:47-67, which exposes
request latency counters at /metrics).

In a Spark engine the equivalent operational signal is per-micro-batch
progress: input rate, processing rate, batch duration, and state-store
size.  Spark already emits all of it through ``StreamingQueryListener``;
this module captures those events into a bounded in-memory ring and renders
them as a DataFrame, so "metrics" is just one more queryable table instead
of an HTTP sidecar.  A real deployment would forward the same events to a
PushGateway/StatsD sink from ``onQueryProgress`` — the seam is the single
``_record`` call.

Driver-side state is a deque of small dicts (bounded, 256 batches)
— no executor involvement, no extra jobs; listener callbacks run on the
driver's listener bus thread exactly like Spark's own UI consumers.
"""

from __future__ import annotations

import collections
import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryListener

RING_BATCHES = 256  # progress events the listener keeps

PROGRESS_SCHEMA = (
    "query_name string, batch_id long, num_input_rows long, "
    "input_rows_per_second double, process_rows_per_second double, "
    "batch_duration_ms long, state_rows long"
)


class ProgressMetricsListener(StreamingQueryListener):
    """Capture per-batch progress events into a bounded ring buffer."""

    def __init__(self) -> None:
        self._events: collections.deque[dict[str, Any]] = collections.deque(
            maxlen=RING_BATCHES
        )

    # -- StreamingQueryListener interface ------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self._record(progress_row(json.loads(event.progress.json)))

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    # -- export --------------------------------------------------------
    def _record(self, row: dict[str, Any]) -> None:
        self._events.append(row)

    def snapshot(self) -> list[dict[str, Any]]:
        return list(self._events)

    def to_df(self, spark: SparkSession) -> DataFrame:
        return progress_df(spark, self.snapshot())


def progress_row(p: dict[str, Any]) -> dict[str, Any]:
    """One :data:`PROGRESS_SCHEMA` row from a ``StreamingQueryProgress``
    dict (a listener event's JSON or an entry of ``recentProgress``)."""
    return {
        "query_name": str(p.get("name") or p.get("id")),
        "batch_id": p.get("batchId", -1),
        "num_input_rows": p.get("numInputRows", 0),
        "input_rows_per_second": float(p.get("inputRowsPerSecond") or 0.0),
        "process_rows_per_second": float(p.get("processedRowsPerSecond") or 0.0),
        "batch_duration_ms": p.get("batchDuration", 0),
        "state_rows": sum(
            op.get("numRowsTotal", 0) for op in p.get("stateOperators") or []
        ),
    }


def progress_df(spark: SparkSession, rows: list[dict[str, Any]]) -> DataFrame:
    """Progress rows (:func:`progress_row`) as a ``PROGRESS_SCHEMA`` frame."""
    from stockpulse_batch_realtime_etl_spark.sources.tables import literal_df

    names = [c.split(" ")[0] for c in PROGRESS_SCHEMA.split(", ")]
    # literal_df, not createDataFrame: no Python-RDD parallelize tasks
    return literal_df(
        spark, [tuple(r[n] for n in names) for r in rows], PROGRESS_SCHEMA
    )


def percentile_summary(
    progress: DataFrame, metric: str = "num_input_rows"
) -> DataFrame:
    """p50/p95/p99 (exact, interpolated) over one captured per-batch metric
    — the reference's Prometheus histogram summary (main.py:66-67) as a
    query.  Exact ``percentile`` not approx: listener volumes are bounded
    by the ring buffer (≤256 batches), so there is nothing to sketch.

    Works on any PROGRESS_SCHEMA column: ``num_input_rows`` (deterministic
    for deterministic batching — the oracle-gated path) or
    ``batch_duration_ms`` (wall-clock — operational use only).
    """
    cols = [
        F.round(
            F.percentile(F.col(metric).cast("double"), F.lit(p)), 4
        ).alias(f"p{int(p * 100)}")
        for p in (0.5, 0.95, 0.99)
    ]
    return progress.filter(F.col(metric).isNotNull()).agg(
        F.lit(metric).alias("metric"),
        F.count(F.lit(1)).cast("long").alias("n_batches"),
        F.sum(metric).cast("long").alias("total"),
        *cols,
    )


def attach(spark: SparkSession) -> ProgressMetricsListener:
    """Register a fresh listener on the session's stream manager."""
    listener = ProgressMetricsListener()
    spark.streams.addListener(listener)
    return listener


def detach(spark: SparkSession, listener: ProgressMetricsListener) -> None:
    spark.streams.removeListener(listener)
