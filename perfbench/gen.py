"""Seeded, vectorized tick generator for the benchmark workloads.

Every array is drawn from one ``numpy.random.Generator`` so the same seed
gives the same ticks, the same malformed records and the same lateness.
The generator knows each record's fate (accepted, dead-lettered by kind,
dropped by the watermark), which is what the DuckDB reference replays.

Wire shapes (the two producer shapes the decoder accepts):

* narrow ``{"symbol", "price", "volume", "event_time"}``
* wide ``{"symbol", "open", "high", "low", "close", "volume", "event_time",
  "source"}`` — no ``price``; the pipeline normalizes ``price := close``.

Malformed kinds, one third each of the malformed share:

* ``TRUNCATED``  — a valid line cut after 20 characters (not JSON);
* ``NO_PRICE``   — valid JSON with neither ``price`` nor ``close``;
* ``BAD_TIME``   — valid JSON whose ``event_time`` does not parse.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

VALID, TRUNCATED, NO_PRICE, BAD_TIME = 0, 1, 2, 3
#: DLQ ``error_message`` the decoder assigns to each malformed kind.
ERROR_MESSAGES = {
    TRUNCATED: "JSONDecodeError: malformed record",
    NO_PRICE: "KeyError: 'price'",
    BAD_TIME: "ValueError: unparseable event_time",
}
ON_TIME, OUT_OF_ORDER, BEYOND_WATERMARK = 0, 1, 2

US = 1_000_000
MINUTE_US = 60 * US


@dataclass
class Ticks:
    """Generated records, one array entry per JSON line."""

    symbols: np.ndarray  # the symbol universe, str
    sym: np.ndarray  # index into ``symbols``
    event_us: np.ndarray  # event_time, epoch microseconds
    cents: np.ndarray  # price (or close) in cents
    volume: np.ndarray  # int64; meaningless where ``vol_null``
    vol_null: np.ndarray  # bool
    wide: np.ndarray  # bool: yfinance shape
    kind: np.ndarray  # VALID / TRUNCATED / NO_PRICE / BAD_TIME
    late: np.ndarray  # ON_TIME / OUT_OF_ORDER / BEYOND_WATERMARK

    def __len__(self) -> int:
        return len(self.sym)

    def take(self, idx: np.ndarray) -> "Ticks":
        return Ticks(
            self.symbols,
            *(getattr(self, f)[idx] for f in (
                "sym", "event_us", "cents", "volume", "vol_null", "wide",
                "kind", "late",
            )),
        )

    def accepted(self) -> np.ndarray:
        """Mask of records that must reach the bars table."""
        return (self.kind == VALID) & (self.late != BEYOND_WATERMARK)


def symbol_universe(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct upper-case symbols of 3-5 letters (``SYMBOL_RE``)."""
    out: list[str] = []
    seen: set[str] = set()
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    while len(out) < n:
        s = "".join(rng.choice(letters, int(rng.integers(3, 6))))
        if s not in seen:
            seen.add(s)
            out.append(s)
    return np.array(out)


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def draw(
    rng: np.random.Generator,
    n: int,
    symbols: np.ndarray,
    event_us: np.ndarray,
    malformed: float = 0.03,
    wide: float = 0.10,
) -> Ticks:
    """Draw ``n`` records at the given event times (all on time)."""
    sym = rng.choice(len(symbols), n, p=zipf_weights(len(symbols)))
    base = (np.arange(len(symbols)) * 7919 % 49_000 + 1_000) * 100  # cents
    cents = base[sym] + rng.integers(-2_000, 2_000, n)
    kind = np.where(
        rng.random(n) < malformed, rng.integers(1, 4, n), VALID
    ).astype(np.int8)
    return Ticks(
        symbols=symbols,
        sym=sym.astype(np.int32),
        event_us=event_us.astype(np.int64),
        cents=cents.astype(np.int64),
        volume=rng.integers(1, 50_000, n).astype(np.int64),
        vol_null=rng.random(n) < 0.05,
        wide=rng.random(n) < wide,
        kind=kind,
        late=np.zeros(n, np.int8),
    )


def make_unique_times(t: Ticks) -> None:
    """Nudge event times so (symbol, event_time) is unique: open/close
    (min_by/max_by on event_time) and latest-N orderings are then
    deterministic."""
    while True:
        order = np.lexsort((t.event_us, t.sym))
        s, u = t.sym[order], t.event_us[order]
        dup = (s[1:] == s[:-1]) & (u[1:] == u[:-1])
        if not dup.any():
            return
        t.event_us[order[1:][dup]] += 1


def backfill_corpus(
    rng: np.random.Generator,
    n: int,
    n_symbols: int = 200,
    days: int = 3,
    start_day_us: int = 1_767_225_600 * US,  # 2026-01-01 00:00 UTC
) -> Ticks:
    """A multi-day replay corpus: ticks inside 6.5-hour market sessions
    (13:30-20:00 UTC) on consecutive days, Zipf-skewed over symbols."""
    symbols = symbol_universe(rng, n_symbols)
    session_us = 390 * MINUTE_US
    day = rng.integers(0, days, n)
    offset = rng.integers(0, session_us, n)
    event_us = start_day_us + day * 86_400 * US + 810 * MINUTE_US + offset
    t = draw(rng, n, symbols, np.sort(event_us))
    make_unique_times(t)
    return t


def live_schedule(
    rng: np.random.Generator,
    symbols: np.ndarray,
    t0_us: int,
    rate: int,
    period_s: float,
    n_files: int,
    out_of_order: float = 0.05,
    beyond: float = 0.005,
) -> tuple[Ticks, np.ndarray]:
    """Ticks for ``n_files`` live files published every ``period_s`` from
    ``t0_us``; returns the ticks and each tick's file index.

    A tick's event_time is its creation time, inside the ``period_s``
    before its file's publish time.  ``out_of_order`` of them are stamped
    10-60 s earlier (inside the 2-minute watermark, so they refine bars
    already written); ``beyond`` are stamped at least 10 minutes before
    ``t0_us``, so the watermark drops them whatever the batch boundaries
    are, provided one batch of current ticks has committed before the
    first file.  Dropped ticks get distinct (symbol, minute) keys, so
    Spark's dropped-row count (counted after partial aggregation) equals
    the dropped-tick count.
    """
    period_us = int(period_s * US)
    per_file = int(round(rate * period_s))
    n = per_file * n_files
    f = np.repeat(np.arange(n_files), per_file)
    created = t0_us + f * period_us + rng.integers(-period_us + 1, 1, n)
    t = draw(rng, n, symbols, created)
    u = rng.random(n)
    ooo = u < out_of_order
    t.late[ooo] = OUT_OF_ORDER
    t.event_us[ooo] -= rng.integers(10 * US, 60 * US, int(ooo.sum()))
    far = np.flatnonzero((u >= out_of_order) & (u < out_of_order + beyond))
    t.late[far] = BEYOND_WATERMARK
    # the j-th such tick of a symbol lands in the (11 + j)-th minute before
    # the run starts: keys stay distinct however many a symbol gets
    order = far[np.argsort(t.sym[far], kind="stable")]
    syms = t.sym[order]
    rank = np.arange(len(order)) - np.searchsorted(syms, syms)
    t.event_us[order] = ((t0_us // MINUTE_US - 11 - rank) * MINUTE_US
                         + rng.integers(0, MINUTE_US, len(order)))
    make_unique_times(t)
    return t, f


# -- rendering ----------------------------------------------------------------

def _s(a) -> pa.Array:
    return pa.array(a).cast(pa.string())


def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _money(cents: np.ndarray) -> pa.Array:
    return _cat(_s(cents // 100), ".", pc.utf8_lpad(_s(cents % 100), 2, "0"))


def render(t: Ticks) -> pa.Array:
    """JSON lines for every record, in generation order."""
    sym = pa.DictionaryArray.from_arrays(
        pa.array(t.sym), pa.array(t.symbols)
    ).cast(pa.string())
    ts = pc.strftime(
        pa.array(t.event_us).cast(pa.timestamp("us")),
        format="%Y-%m-%dT%H:%M:%SZ",
    )
    ts = pc.if_else(pa.array(t.kind == BAD_TIME), "2026-13-45T99:99:99Z", ts)
    vol = pc.if_else(pa.array(t.vol_null), "null", _s(t.volume))
    price = _money(t.cents)
    head = _cat('{"symbol": "', sym, '", ')
    tail = _cat('"volume": ', vol, ', "event_time": "', ts, '"')
    narrow = _cat(head, '"price": ', price, ", ", tail, "}")
    wide = _cat(
        head,
        '"open": ', _money(t.cents + 7), ", ",
        '"high": ', _money(t.cents + 25), ", ",
        '"low": ', _money(t.cents - 25), ", ",
        '"close": ', price, ", ",
        tail, ', "source": "yfinance"}',
    )
    lines = pc.if_else(pa.array(t.wide), wide, narrow)
    lines = pc.if_else(pa.array(t.kind == NO_PRICE), _cat(head, tail, "}"), lines)
    return pc.if_else(
        pa.array(t.kind == TRUNCATED), pc.utf8_slice_codeunits(lines, 0, 20), lines
    )


def write_lines(path: str, lines: pa.Array) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(lines.to_pylist()))
        fh.write("\n")


def write_corpus(directory: str, lines: pa.Array, n_files: int) -> list[str]:
    """Split ``lines`` over ``n_files`` JSON-lines files in ``directory``."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    bounds = np.linspace(0, len(lines), n_files + 1).astype(int)
    for i in range(n_files):
        p = os.path.join(directory, f"part-{i:05d}.json")
        write_lines(p, lines[bounds[i]:bounds[i + 1]])
        paths.append(p)
    return paths
