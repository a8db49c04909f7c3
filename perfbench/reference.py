"""DuckDB reference for every output the benchmark checks.

The reference is computed from the generator's arrays, never from the
program's output: bars are OHLCV over the accepted ticks (``price :=
coalesce(price, close)`` is the generator's one price column), DLQ counts are
the generated malformed counts per kind, and each API response is replayed
as SQL with the endpoint's documented semantics (as-of = the table's maximum
time, the endpoint's clamps and orderings).

Each check returns ``(attempted, failed)``.  Rounded columns (``avg_price``,
``change_pct``, both rounded to 4 decimals by the program) compare within
1e-4, because two engines may round a half-way sum differently; every other
column compares exactly.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

import duckdb
import pyarrow as pa

from gen import ERROR_MESSAGES, MINUTE_US, Ticks

_EPOCH = dt.datetime(1970, 1, 1)
ROUNDED = {"tick_summary": {2}, "bar_summary": {10}, "movers": {3}}


def _us(v):
    """Collected Spark timestamps are naive datetimes in the process time
    zone, which the benchmark pins to UTC."""
    if isinstance(v, dt.datetime):
        return (v - _EPOCH) // dt.timedelta(microseconds=1)
    return v


class Reference:
    def __init__(self, ticks: Ticks) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        ok = ticks.accepted()
        tbl = pa.table(
            {
                "symbol": ticks.symbols[ticks.sym[ok]],
                "price": ticks.cents[ok] / 100.0,
                "volume": pa.array(ticks.volume[ok], mask=ticks.vol_null[ok]),
                "event_us": ticks.event_us[ok],
            }
        )
        self.con.register("rt_arrow", tbl)
        self.con.execute("CREATE TABLE rt AS SELECT * FROM rt_arrow")
        self.con.execute(
            f"""
            CREATE TABLE rb AS
            SELECT symbol, event_us // {MINUTE_US} * {MINUTE_US} AS bucket_us,
                   arg_min(price, event_us) AS open, max(price) AS high,
                   min(price) AS low, arg_max(price, event_us) AS close,
                   sum(coalesce(volume, 0)) AS volume_sum,
                   count(*) AS tick_count
            FROM rt GROUP BY 1, 2
            """
        )
        self.dlq_expected = {
            msg: int((ticks.kind == k).sum()) for k, msg in ERROR_MESSAGES.items()
        }

    def n_bars(self) -> int:
        return self.con.execute("SELECT count(*) FROM rb").fetchone()[0]

    # -- sink checks ----------------------------------------------------------

    def check_bars(self, table_path: str) -> tuple[int, int]:
        """Every reference bar present and equal, and no extra bar."""
        files = glob.glob(os.path.join(table_path, "*", "*.parquet"))
        if not files:
            return self.n_bars(), self.n_bars()
        self.con.execute(
            "CREATE OR REPLACE TEMP TABLE out_bars AS SELECT symbol, "
            "epoch_us(bucket_start) AS bucket_us, open, high, low, close, "
            f"volume_sum, tick_count FROM read_parquet({_list(files)})"
        )
        bad = self.con.execute(
            """
            SELECT count(*) FROM rb FULL OUTER JOIN out_bars o
              ON rb.symbol = o.symbol AND rb.bucket_us = o.bucket_us
            WHERE rb.symbol IS NULL OR o.symbol IS NULL
               OR rb.open <> o.open OR rb.high <> o.high OR rb.low <> o.low
               OR rb.close <> o.close OR rb.volume_sum <> o.volume_sum
               OR rb.tick_count <> o.tick_count
            """
        ).fetchone()[0]
        return self.n_bars(), int(bad)

    def dlq_counts(self, dlq_path: str) -> dict[str, int]:
        files = glob.glob(os.path.join(dlq_path, "*.parquet"))
        if not files:
            return {}
        return dict(
            self.con.execute(
                "SELECT error_message, count(*) FROM read_parquet(?) GROUP BY 1",
                [files],
            ).fetchall()
        )

    def check_dlq(self, dlq_path: str) -> tuple[int, int]:
        """Dead-lettered rows per error kind equal the generated counts."""
        got = self.dlq_counts(dlq_path)
        kinds = set(got) | set(self.dlq_expected)
        failed = sum(
            abs(got.get(k, 0) - self.dlq_expected.get(k, 0)) for k in kinds
        )
        return sum(self.dlq_expected.values()), failed

    # -- API responses --------------------------------------------------------

    def expected(self, endpoint: str, params: dict) -> list[tuple]:
        q, args = _SQL[endpoint](**params)
        return [tuple(r) for r in self.con.execute(q, args).fetchall()]

    def response_ok(self, endpoint: str, params: dict, rows: list) -> bool:
        got = [tuple(_us(v) for v in r) for r in rows]
        want = self.expected(endpoint, params)
        loose = ROUNDED.get(endpoint, set())
        if _rows_equal(got, want, loose):
            return True
        # movers orders by a rounded value: accept a reordering of rows
        # whose rounded keys tie within the tolerance
        return endpoint == "movers" and _rows_equal(sorted(got), sorted(want), loose)

    def live_read_ok(self, endpoint: str, params: dict, rows: list) -> bool:
        """Invariants any committed state of the live bars table satisfies,
        checked against the final reference: the table changes under the
        reader, so the exact answer depends on when the read ran."""
        got = [tuple(_us(v) for v in r) for r in rows]
        if endpoint == "latest_bars":
            limit = max(1, min(int(params["limit"]), 1440))
            keys = [r[1] for r in got]
            if len(got) > limit or keys != sorted(set(keys), reverse=True):
                return False
            for sym, b, _o, hi, lo, _c, vol, n in got:
                ref = self.con.execute(
                    "SELECT high, low, volume_sum, tick_count FROM rb "
                    "WHERE symbol = ? AND bucket_us = ?", [sym, b]
                ).fetchone()
                if (sym != params["symbol"] or ref is None or hi > ref[0]
                        or lo < ref[1] or vol > ref[2] or n > ref[3]):
                    return False
            return True
        if endpoint == "bar_summary":
            if not got:
                return True
            (sym, nbars, _o, hi, lo, _c, vol, n, *_rest) = got[0]
            ref = self.con.execute(
                "SELECT count(*), max(high), min(low), sum(volume_sum), "
                "sum(tick_count) FROM rb WHERE symbol = ?", [sym]
            ).fetchone()
            return (len(got) == 1 and sym == params["symbol"] and nbars <= ref[0]
                    and hi <= ref[1] and lo >= ref[2] and vol <= ref[3]
                    and n <= ref[4])
        if endpoint == "movers":
            limit = max(1, min(int(params["limit"]), 20))
            syms = [r[0] for r in got]
            known = {
                s for (s,) in self.con.execute(
                    "SELECT DISTINCT symbol FROM rb").fetchall()
            }
            mags = [abs(r[3]) for r in got if r[3] is not None]
            return (len(got) <= limit and len(set(syms)) == len(syms)
                    and set(syms) <= known
                    and all(a >= b for a, b in zip(mags, mags[1:])))
        raise ValueError(endpoint)


def _list(paths) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= 1e-4 + 1e-9 * abs(b)


def _rows_equal(got, want, loose) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for i, (a, b) in enumerate(zip(g, w)):
            if i in loose:
                if not _close(a, b):
                    return False
            elif a != b:
                return False
    return True


def _minutes(m: int) -> int:
    return max(1, min(int(m), 1440)) * MINUTE_US


def _sql_latest_ticks(symbol, limit):
    return (
        "SELECT symbol, price, volume, event_us FROM rt WHERE symbol = ? "
        "ORDER BY event_us DESC, price DESC, volume DESC NULLS LAST LIMIT ?",
        [symbol, max(1, min(int(limit), 100))],
    )


def _sql_tick_summary(symbol, minutes):
    return (
        "SELECT symbol, count(*), round(avg(price), 4), min(price), max(price), "
        "sum(coalesce(volume, 0)), min(event_us), max(event_us) FROM rt "
        "WHERE event_us >= (SELECT max(event_us) FROM rt) - ? AND symbol = ? "
        "GROUP BY symbol",
        [_minutes(minutes), symbol],
    )


def _sql_latest_bars(symbol, limit):
    return (
        "SELECT symbol, bucket_us, open, high, low, close, volume_sum, "
        "tick_count FROM rb WHERE symbol = ? ORDER BY bucket_us DESC LIMIT ?",
        [symbol, max(1, min(int(limit), 1440))],
    )


_CHANGE = "round((close - open) / nullif(open, 0) * 100, 4)"


def _sql_bar_summary(symbol, minutes):
    return (
        f"""
        SELECT *, {_CHANGE} FROM (
          SELECT symbol, count(*), arg_min(open, bucket_us) AS open,
                 max(high), min(low), arg_max(close, bucket_us) AS close,
                 sum(volume_sum), sum(tick_count), min(bucket_us),
                 max(bucket_us)
          FROM rb WHERE bucket_us >= (SELECT max(bucket_us) FROM rb) - ?
            AND symbol = ? GROUP BY symbol)
        """,
        [_minutes(minutes), symbol],
    )


def _sql_movers(minutes, limit):
    return (
        f"""
        SELECT symbol, open, close, {_CHANGE} AS change_pct FROM (
          SELECT symbol, arg_min(open, bucket_us) AS open,
                 arg_max(close, bucket_us) AS close
          FROM rb WHERE bucket_us >= (SELECT max(bucket_us) FROM rb) - ?
          GROUP BY symbol)
        ORDER BY abs(change_pct) DESC NULLS LAST, symbol ASC LIMIT ?
        """,
        [_minutes(minutes), max(1, min(int(limit), 20))],
    )


def _sql_symbols():
    return "SELECT DISTINCT symbol FROM rt ORDER BY symbol", []


_SQL = {
    "latest_ticks": _sql_latest_ticks,
    "tick_summary": _sql_tick_summary,
    "latest_bars": _sql_latest_bars,
    "bar_summary": _sql_bar_summary,
    "movers": _sql_movers,
    "symbols": _sql_symbols,
}
