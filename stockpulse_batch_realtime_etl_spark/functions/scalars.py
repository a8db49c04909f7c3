"""The reference's shared scalar functions (SURVEY.md §2.7, F1-F13) as a
named Column library.

The scalars operators import exist here, each as one composable,
codegen-able Catalyst expression, so no operator re-spells the arithmetic.
No Python UDFs: the reference needs none (SURVEY.md §2.9) and neither do we,
so the whole scalar layer stays inside whole-stage codegen.

=====  ==========================================  =========================
F2     ROUND(x::numeric, 4)                        round4
F3     COALESCE(volume, 0)                         null_safe_volume
F4+F6  (close-open)/NULLIF(open,0)*100 @ 4dp       change_pct / pct_change
F5     ABS(x)                                      (pyspark built-in F.abs)
F8     regex ^[A-Za-z]{1,10}$                      SYMBOL_RE (serving)
=====  ==========================================  =========================

The rest are written once where they are used: F1/F12, the minute bucket
``date_trunc('minute', ts)``, in operators/ohlcv.py; F7 ``upper(symbol)``
and F10, the ISO-8601 parse, in the one ingest path, sources/dlq.py; F11,
the tick's JSON, in sources/kafka.encode_ticks_for_kafka.  F9, the
NOW()-relative window bound, is a *predicate* builder — it lives in
operators/serving.py ``_window_filter``.  F13, the NUMERIC→float coercion,
is moot: we compute in DoubleType throughout, SURVEY.md §1.4.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: F8 — services/api/app/routers/ticks.py:10 (same regex in bars.py:10).
SYMBOL_RE = "^[A-Za-z]{1,10}$"


def ts_micros(ts: Column | str) -> Column:
    """Epoch microseconds of a timestamp column, tolerant of TIMESTAMP_NTZ.

    ``events.ts`` stored as TIMESTAMP(MICROS) without UTC adjustment reads
    as TIMESTAMP_NTZ, which ``unix_micros`` rejects outright — so cast
    first.  Precondition: the session timezone is UTC (asserted loudly in
    sources/tables.py), which makes the NTZ→timestamp cast
    instant-preserving; on a plain TimestampType column the cast is a
    no-op.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.unix_micros(c.cast("timestamp"))


def round4(x: Column) -> Column:
    """F2 — ticks.py:73, bars.py:141: the reference's visible rounding."""
    return F.round(x, 4)


def null_safe_volume(volume: Column) -> Column:
    """F3 — aggregator.py:34, ticks.py:76: SUM(COALESCE(volume, 0))'s input."""
    return F.coalesce(volume, F.lit(0))


def pct_change(open_col: Column, close_col: Column) -> Column:
    """F6+F4 — bars.py:141: (close-open)/NULLIF(open,0)*100, un-rounded."""
    return (close_col - open_col) / F.nullif(open_col, F.lit(0)) * 100


def change_pct(open_col: Column, close_col: Column) -> Column:
    """bars.py:141 / bars.py:90-96: pct_change rounded at 4dp, aliased the
    way every reference endpoint emits it."""
    return round4(pct_change(open_col, close_col)).alias("change_pct")
