"""Spans, streaming-progress capture and the small statistics the benchmark
reports.

Spans are kept in memory (name, start, end, parent, attributes) and written
out once when the run ends.  The untraced run uses :class:`NullTracer`, whose
spans cost one attribute lookup, so end-to-end figures carry no tracing.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

from pyspark.sql.streaming.listener import StreamingQueryListener


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        with self._lock:
            sid = self._next
            self._next += 1
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent, **attrs}
                )

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


class NullTracer:
    enabled = False
    spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        yield None


class ProgressListener(StreamingQueryListener):
    """Collects every ``StreamingQueryProgress`` as parsed JSON."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def of(self, query_id: str) -> list[dict]:
        with self._lock:
            return [p for p in self.progress if p["id"] == query_id]


# -- statistics ---------------------------------------------------------------

def median(xs) -> float:
    xs = sorted(xs)
    n = len(xs)
    if not n:
        raise ValueError("median of no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def tail(xs) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least ten
    samples beyond it; the maximum when that percentile would not be above
    the median (twenty samples or fewer)."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 20:
        return xs[-1], 100.0
    return xs[n - 11], round(100.0 * (n - 10) / n, 2)


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
