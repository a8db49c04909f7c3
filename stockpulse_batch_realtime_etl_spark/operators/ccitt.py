"""CCITT fax codecs for bilevel TIFF — from-scratch, dependency-free.

Implements the two TIFF fax compressions the scanned-document corpus
actually uses (reference parity target: the engine must decode what a
document-scanning pipeline writes — TIFF 6.0 §10/§11 shapes):

* **Modified Huffman** (TIFF Compression 2 — ITU-T T.4 one-dimensional
  coding, no EOLs): each row is an alternating sequence of WHITE/BLACK
  run lengths, always starting with a (possibly zero-length) white run,
  coded with the T.4 terminating codes (0-63) + makeup codes (64-1728,
  color-specific) + extended makeup codes (1792-2560, shared); every
  row starts on a byte boundary.
* **Group 4** (TIFF Compression 4 — ITU-T T.6 two-dimensional coding):
  vertical (V0, VR1-3, VL1-3), horizontal (two T.4 run codes) and pass
  modes against the previous row as reference, the first row coded
  against an imaginary all-white line; the bit stream runs continuously
  across rows (no alignment), optionally terminated by EOFB.

Both directions (encode for the deterministic corpus, decode for the
engine) are built from the same published T.4/T.6 code tables, so the
tables are additionally self-checked at import: prefix-freeness and
exact cardinalities fail loudly on any transcription slip.

Rows are handled as numpy 0/1 arrays where **1 = BLACK** (the fax
convention: TIFF PhotometricInterpretation 0, WhiteIsZero).  The TIFF
plumbing (strip slicing, photometric normalization, bit-packed
uncompressed bilevel rows) lives in :mod:`.multimodal`.
"""

from __future__ import annotations

# --- ITU-T T.4 code tables ---------------------------------------------------
# (run_length, bit_string) — bit strings MSB-first as transmitted.

_WHITE_TERM = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011",
    5: "1100", 6: "1110", 7: "1111", 8: "10011", 9: "10100",
    10: "00111", 11: "01000", 12: "001000", 13: "000011", 14: "110100",
    15: "110101", 16: "101010", 17: "101011", 18: "0100111",
    19: "0001100", 20: "0001000", 21: "0010111", 22: "0000011",
    23: "0000100", 24: "0101000", 25: "0101011", 26: "0010011",
    27: "0100100", 28: "0011000", 29: "00000010", 30: "00000011",
    31: "00011010", 32: "00011011", 33: "00010010", 34: "00010011",
    35: "00010100", 36: "00010101", 37: "00010110", 38: "00010111",
    39: "00101000", 40: "00101001", 41: "00101010", 42: "00101011",
    43: "00101100", 44: "00101101", 45: "00000100", 46: "00000101",
    47: "00001010", 48: "00001011", 49: "01010010", 50: "01010011",
    51: "01010100", 52: "01010101", 53: "00100100", 54: "00100101",
    55: "01011000", 56: "01011001", 57: "01011010", 58: "01011011",
    59: "01001010", 60: "01001011", 61: "00110010", 62: "00110011",
    63: "00110100",
}

_WHITE_MAKEUP = {
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100",
    768: "011001101", 832: "011010010", 896: "011010011",
    960: "011010100", 1024: "011010101", 1088: "011010110",
    1152: "011010111", 1216: "011011000", 1280: "011011001",
    1344: "011011010", 1408: "011011011", 1472: "010011000",
    1536: "010011001", 1600: "010011010", 1664: "011000",
    1728: "010011011",
}

_BLACK_TERM = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011", 5: "0011",
    6: "0010", 7: "00011", 8: "000101", 9: "000100", 10: "0000100",
    11: "0000101", 12: "0000111", 13: "00000100", 14: "00000111",
    15: "000011000", 16: "0000010111", 17: "0000011000",
    18: "0000001000", 19: "00001100111", 20: "00001101000",
    21: "00001101100", 22: "00000110111", 23: "00000101000",
    24: "00000010111", 25: "00000011000", 26: "000011001010",
    27: "000011001011", 28: "000011001100", 29: "000011001101",
    30: "000001101000", 31: "000001101001", 32: "000001101010",
    33: "000001101011", 34: "000011010010", 35: "000011010011",
    36: "000011010100", 37: "000011010101", 38: "000011010110",
    39: "000011010111", 40: "000001101100", 41: "000001101101",
    42: "000011011010", 43: "000011011011", 44: "000001010100",
    45: "000001010101", 46: "000001010110", 47: "000001010111",
    48: "000001100100", 49: "000001100101", 50: "000001010010",
    51: "000001010011", 52: "000000100100", 53: "000000110111",
    54: "000000111000", 55: "000000100111", 56: "000000101000",
    57: "000001011000", 58: "000001011001", 59: "000000101011",
    60: "000000101100", 61: "000001011010", 62: "000001100110",
    63: "000001100111",
}

_BLACK_MAKEUP = {
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}

#: Extended makeup codes 1792-2560 (T.4 §2 Table 3) — shared by both
#: colors.
_EXT_MAKEUP = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}

#: T.6 two-dimensional mode codes (Table 4/T.4, §2.2.4).
_MODE_V0 = "1"
_MODE_VR = ("011", "000011", "0000011")       # VR1..VR3
_MODE_VL = ("010", "000010", "0000010")       # VL1..VL3
_MODE_H = "001"
_MODE_PASS = "0001"
_EOL = "000000000001"
#: max 2D mode-code length is 7 bits (VR3/VL3)
_MODE_BITS = 7


def _decode_table(*tables: dict) -> dict:
    """(length, code_int) → run value, for a canonical-Huffman-style
    longest-prefix bit reader (same shape as the JPEG decoder's)."""
    out = {}
    for t in tables:
        for run, bits in t.items():
            key = (len(bits), int(bits, 2))
            assert key not in out, f"duplicate fax code {bits}"
            out[key] = run
    return out


_WHITE_DEC = _decode_table(_WHITE_TERM, _WHITE_MAKEUP, _EXT_MAKEUP)
_BLACK_DEC = _decode_table(_BLACK_TERM, _BLACK_MAKEUP, _EXT_MAKEUP)


def _flat_table(dec: dict, width: int) -> list:
    """(length, code) table → a flat 2^width window lookup (r16, the
    classic fax-decoder acceleration): entry ``win`` holds ``(value,
    length)`` for the unique code that prefixes the width-bit window
    (prefix-freeness — import-audited below — guarantees at most one),
    or ``None`` when no code does.  One peek + one list index replaces
    the per-bit longest-prefix walk; identical accept/reject language
    by construction, and the ``assert`` makes any table collision fail
    at import."""
    flat: list = [None] * (1 << width)
    for (length, code), value in dec.items():
        assert length <= width
        base = code << (width - length)
        for suffix in range(1 << (width - length)):
            assert flat[base | suffix] is None
            flat[base | suffix] = (value, length)
    return flat


#: max run-code length is 13 bits (T.4 extended makeups)
_RUN_BITS = 13
_WHITE_FLAT = _flat_table(_WHITE_DEC, _RUN_BITS)
_BLACK_FLAT = _flat_table(_BLACK_DEC, _RUN_BITS)

_MODE_FLAT = _flat_table(
    {
        (len(bits), int(bits, 2)): mode
        for bits, mode in (
            (_MODE_V0, ("v", 0)),
            (_MODE_H, ("h", None)),
            (_MODE_PASS, ("p", None)),
            *((_MODE_VR[i], ("v", i + 1)) for i in range(3)),
            *((_MODE_VL[i], ("v", -(i + 1))) for i in range(3)),
        )
    },
    _MODE_BITS,
)


def _check_tables() -> None:
    """Import-time transcription audit: exact cardinalities and the
    prefix-free property (a slipped bit in ANY entry almost surely
    breaks one of these) — both directions are built from these
    tables, so a silent slip would otherwise round-trip."""
    assert len(_WHITE_TERM) == 64 and len(_BLACK_TERM) == 64
    assert set(_WHITE_MAKEUP) == set(range(64, 1729, 64))
    assert set(_BLACK_MAKEUP) == set(range(64, 1729, 64))
    assert set(_EXT_MAKEUP) == set(range(1792, 2561, 64))
    for table in (
        {**_WHITE_TERM, **_WHITE_MAKEUP, **_EXT_MAKEUP},
        {**_BLACK_TERM, **_BLACK_MAKEUP, **_EXT_MAKEUP},
        dict(
            zip(
                range(9),
                (_MODE_V0, *_MODE_VR, *_MODE_VL, _MODE_H, _MODE_PASS),
            )
        ),
    ):
        codes = sorted(table.values(), key=len)
        for i, c in enumerate(codes):
            for d in codes[i + 1 :]:
                assert not d.startswith(c), f"fax codes not prefix-free: {c}/{d}"


_check_tables()


class _BitWriter:
    """MSB-first bit accumulator with byte-boundary alignment."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, bits: str) -> None:
        for b in bits:
            self.acc = (self.acc << 1) | (b == "1")
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                self.acc = self.nbits = 0

    def align(self) -> None:
        if self.nbits:
            self.out.append(self.acc << (8 - self.nbits))
            self.acc = self.nbits = 0

    def bytes(self) -> bytes:
        self.align()
        return bytes(self.out)


class _BitReader:
    """MSB-first bit reader over a fax stream."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position

    def read_bit(self) -> int:
        byte, off = divmod(self.pos, 8)
        if byte >= len(self.data):
            raise ValueError("CCITT stream truncated")
        self.pos += 1
        return (self.data[byte] >> (7 - off)) & 1

    def peek(self, n: int) -> int:
        """The next ``n`` bits MSB-first WITHOUT advancing, zero-padded
        past the end of the stream (callers reject any code whose
        accepted length would cross the real end, so padding never
        participates in an accepted code)."""
        byte, off = divmod(self.pos, 8)
        need = (off + n + 7) >> 3
        chunk = self.data[byte : byte + need]
        if len(chunk) < need:
            chunk = chunk + b"\x00" * (need - len(chunk))
        v = int.from_bytes(chunk, "big")
        return (v >> (need * 8 - off - n)) & ((1 << n) - 1)

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def exhausted_to_padding(self) -> bool:
        """True when only zero fill bits remain in the current byte
        tail and at most one trailing padding byte region."""
        return (len(self.data) * 8 - self.pos) < 8


def _read_code(r: _BitReader, flat: list, what: str) -> int:
    """Longest-prefix read of one fax code (max 13 bits) via the flat
    window table: one peek + one index.  A match whose length would
    cross the stream end, or no match with the stream running dry,
    preserves the bit-by-bit reader's "truncated" language; no match
    on a full window is an invalid code, as before."""
    hit = flat[r.peek(_RUN_BITS)]
    if hit is not None:
        run, length = hit
        if r.pos + length > len(r.data) * 8:
            raise ValueError("CCITT stream truncated")
        r.pos += length
        return run
    if len(r.data) * 8 - r.pos < _RUN_BITS:
        raise ValueError("CCITT stream truncated")
    raise ValueError(f"invalid CCITT {what} code")


def _read_run(r: _BitReader, white: bool) -> int:
    """Read one full run length: zero or more makeup codes (>= 64)
    followed by a terminating code (< 64)."""
    flat = _WHITE_FLAT if white else _BLACK_FLAT
    total = 0
    while True:
        run = _read_code(r, flat, "white run" if white else "black run")
        total += run
        if run < 64 or run % 64:  # terminating code ends the run
            return total
        if total > 2560 * 8:
            raise ValueError("CCITT runaway makeup chain")


def _write_run(wtr: _BitWriter, run: int, white: bool) -> None:
    """One run as zero or more makeup codes plus a terminating code.
    1729-1791 lands on makeup 1728 (the largest color-specific one);
    runs past 2623 chain extended 2560 makeups (legal per T.4 §2.2.3's
    open makeup sequence)."""
    term, makeup = (
        (_WHITE_TERM, _WHITE_MAKEUP) if white else (_BLACK_TERM, _BLACK_MAKEUP)
    )
    while run > 2623:  # 2560 + 63: largest single makeup + terminator
        wtr.write(_EXT_MAKEUP[2560])
        run -= 2560
    if run >= 1792:
        m = run - run % 64
        wtr.write(_EXT_MAKEUP[m])
        run -= m
    elif run >= 64:
        m = min(run - run % 64, 1728)
        wtr.write(makeup[m])
        run -= m
    wtr.write(term[run])


def _row_to_runs(row) -> list:
    """0/1 row → alternating run lengths starting with white (possibly
    0-length)."""
    import numpy as np

    row = np.asarray(row, dtype=np.int64)
    runs = []
    color = int(row[0]) if row.size else 0
    pos = 0
    n = len(row)
    while pos < n:
        end = pos
        while end < n and row[end] == color:
            end += 1
        runs.append(end - pos)
        pos = end
        color ^= 1
    if row.size and row[0] == 1:
        runs.insert(0, 0)  # leading zero-length white run
    return runs


# --- Modified Huffman (TIFF Compression 2) -----------------------------------


def mh_encode(rows) -> bytes:
    """T.4 one-dimensional coding, TIFF flavor: no EOLs, each row
    byte-aligned.  ``rows`` is an (n, w) 0/1 array (1 = black)."""
    wtr = _BitWriter()
    for row in rows:
        color = 0
        for run in _row_to_runs(row):
            _write_run(wtr, run, white=(color == 0))
            color ^= 1
        wtr.align()
    return wtr.bytes()


def mh_decode(data: bytes, w: int, nrows: int):
    """Decode a TIFF Compression-2 strip into an (nrows, w) 0/1 array.
    Over-long rows, truncation, and invalid codes dead-letter."""
    import numpy as np

    r = _BitReader(data)
    out = np.zeros((nrows, w), np.int64)
    for y in range(nrows):
        pos = 0
        white = True
        while pos < w:
            run = _read_run(r, white)
            if pos + run > w:
                raise ValueError("CCITT MH run overruns the row")
            if not white:
                out[y, pos : pos + run] = 1
            pos += run
            white = not white
        r.align()
    while r.pos < len(data) * 8:
        if r.read_bit():
            raise ValueError("CCITT MH trailing data after the strip")
    return out


# --- Group 4 (TIFF Compression 4, ITU-T T.6) ---------------------------------


def _changing_elements(row) -> list:
    """Positions where color changes relative to the previous pixel
    (an imaginary white pixel precedes position 0), terminated by two
    sentinels at w (T.6 convention)."""
    import numpy as np

    row = np.asarray(row, dtype=np.int64)
    w = len(row)
    diff = np.nonzero(np.diff(np.concatenate(([0], row))))[0]
    return list(diff) + [w, w]


def _g4_encode_row(wtr: _BitWriter, cur, ref_ch: list, w: int) -> None:
    """Code ONE row two-dimensionally against the reference line's
    changing elements — pass / horizontal / vertical mode selection per
    T.6 §2.2 (shared by G4 and the G3 MR tag-bit-0 rows)."""
    cur_ch = _changing_elements(cur)
    a0 = -1
    color = 0  # color of a0 (white before the row starts)
    ci = 0  # index of a1 within cur_ch
    nref = len(ref_ch) - 2  # real changing elements (before sentinels)
    ri = 0  # monotone b1 pointer — same scheme as the decoder
    while a0 < w:
        # a1: first changing element of cur right of a0 with color
        # opposite to a0's color; cur_ch alternates starting with a
        # white->black change, so parity tracks color
        while ci < len(cur_ch) - 2 and cur_ch[ci] <= a0:
            ci += 1
        a1 = cur_ch[ci] if cur_ch[ci] > a0 else w
        a2 = cur_ch[ci + 1] if ci + 1 < len(cur_ch) and cur_ch[ci + 1] > a1 else w
        # b1: first changing element on ref right of a0 with the
        # same "changing to" color as a1 (i.e. opposite of color) —
        # ref_ch is strictly increasing, so the candidate sits at the
        # monotone pointer or one past it
        while ri < nref and ref_ch[ri] <= a0:
            ri += 1
        j = ri if ri % 2 == (0 if color == 0 else 1) else ri + 1
        if j < nref:
            b1 = ref_ch[j]
            b2 = ref_ch[j + 1] if j + 1 < nref else w
        else:
            b1, b2 = w, w
        if b2 < a1:  # pass mode
            wtr.write(_MODE_PASS)
            a0 = b2
            continue
        d = a1 - b1  # V_R: a1 right of b1; V_L: a1 left of b1
        if -3 <= d <= 3:  # vertical mode
            if d == 0:
                wtr.write(_MODE_V0)
            elif d > 0:
                wtr.write(_MODE_VR[d - 1])
            else:
                wtr.write(_MODE_VL[-d - 1])
            a0 = a1
            color ^= 1
            continue
        # horizontal mode: runs a0a1 and a1a2 in a0's color order
        wtr.write(_MODE_H)
        start = max(a0, 0)
        _write_run(wtr, a1 - start, white=(color == 0))
        _write_run(wtr, a2 - a1, white=(color == 1))
        a0 = a2


def _g4_decode_row(r: _BitReader, ref_ch: list, w: int):
    """Decode ONE two-dimensionally-coded row against the reference
    line's changing elements; returns the (w,) 0/1 row (shared by G4
    and the G3 MR tag-bit-0 rows)."""
    import numpy as np

    cur_runs: list = []  # changing positions of the decoded row
    a0 = -1
    color = 0
    nbits = len(r.data) * 8
    nref = len(ref_ch) - 2  # real changing elements (before sentinels)
    ri = 0  # monotone: first ref index with ref_ch[ri] > a0 (a0 never
    # moves left, so this pointer only advances — the per-mode scan
    # drops from O(changes) to amortized O(1) per row)
    while a0 < w:
        # read one mode code (longest-prefix over the 9 mode codes)
        hit = _MODE_FLAT[r.peek(_MODE_BITS)]
        if hit is None:
            # the bit-by-bit reader walked up to 8 bits: running dry
            # inside that walk was "truncated", a full unmatched walk
            # was an invalid mode code
            raise ValueError(
                "CCITT stream truncated"
                if nbits - r.pos < 8
                else "invalid CCITT 2D mode code"
            )
        mode, length = hit
        if r.pos + length > nbits:
            raise ValueError("CCITT stream truncated")
        r.pos += length
        # b1: first ref change right of a0 with color opposite a0's —
        # ref_ch is strictly increasing, so after skipping entries
        # <= a0 the parity-matching candidate is at ri or ri + 1
        while ri < nref and ref_ch[ri] <= a0:
            ri += 1
        j = ri if ri % 2 == (0 if color == 0 else 1) else ri + 1
        if j < nref:
            b1 = ref_ch[j]
            b2 = ref_ch[j + 1] if j + 1 < nref else w
        else:
            b1, b2 = w, w
        kind, arg = mode
        if kind == "p":
            if b2 > w:
                raise ValueError("CCITT 2D pass mode past the row")
            a0 = b2
            continue
        if kind == "v":
            a1 = b1 + arg
            if not -1 <= a0 < a1 <= w:
                raise ValueError("CCITT 2D vertical mode out of order")
            cur_runs.append(a1)
            a0 = a1
            color ^= 1
            continue
        # horizontal: two runs from max(a0, 0)
        start = max(a0, 0)
        r1 = _read_run(r, white=(color == 0))
        r2 = _read_run(r, white=(color == 1))
        a1, a2 = start + r1, start + r1 + r2
        if a2 > w:
            raise ValueError("CCITT 2D horizontal runs overrun the row")
        cur_runs.append(a1)
        cur_runs.append(a2)
        a0 = a2
    if a0 > w:
        raise ValueError("CCITT 2D row overruns the width")
    # materialize the row from its changing positions
    row = np.zeros(w, np.int64)
    col = 0
    prev = 0
    for pos in cur_runs + [w]:
        if col:
            row[prev:pos] = 1
        prev = pos
        col ^= 1
    return row


def g4_encode(rows, eofb: bool = True) -> bytes:
    """T.6 two-dimensional coding of an (n, w) 0/1 array (1 = black):
    every row coded 2D against the previous one, the first against the
    imaginary all-white reference, optional EOFB."""
    import numpy as np

    rows = np.asarray(rows, dtype=np.int64)
    n, w = rows.shape
    wtr = _BitWriter()
    ref_ch = [w, w]  # imaginary all-white reference line
    for y in range(n):
        _g4_encode_row(wtr, rows[y], ref_ch, w)
        ref_ch = _changing_elements(rows[y])
    if eofb:
        wtr.write(_EOL + _EOL)
    return wtr.bytes()


def g4_decode(data: bytes, w: int, nrows: int):
    """Decode a TIFF Compression-4 strip into an (nrows, w) 0/1 array.
    Invalid mode codes, row overruns, and truncation dead-letter; an
    EOFB (or zero-fill padding) may follow the last row."""
    import numpy as np

    r = _BitReader(data)
    out = np.zeros((nrows, w), np.int64)
    ref_ch = [w, w]
    for y in range(nrows):
        out[y] = _g4_decode_row(r, ref_ch, w)
        ref_ch = _changing_elements(out[y])
    # optional EOFB, then zero fill bits to the byte boundary
    if len(data) * 8 - r.pos >= 24:
        eofb = "".join("1" if r.read_bit() else "0" for _ in range(24))
        if eofb != _EOL + _EOL:
            raise ValueError("CCITT G4 trailing data after the strip")
    while r.pos < len(data) * 8:
        if r.read_bit():
            raise ValueError("CCITT G4 nonzero padding after the strip")
    return out


# --- Group 3 one-dimensional with EOLs (TIFF Compression 3) ------------------


def g3_encode(
    rows, fill: bool = False, two_d: bool = False, k: int = 4
) -> bytes:
    """T.4 Group 3 coding, TIFF flavor (compression 3): an EOL precedes
    EVERY row, the bit stream runs continuously (no per-row byte
    alignment), no RTC at the end (TIFF 6.0 §11).  With ``fill``
    (T4Options bit 2) zero fill bits pad each EOL so its trailing 1
    lands on a byte boundary — i.e. row data always starts
    byte-aligned.  With ``two_d`` (T4Options bit 0, MR): a tag bit
    follows each EOL — 1 = the row is 1D MH-coded, 0 = 2D-coded
    against the previous row — and every ``k``-th row is coded 1D
    (the T.4 K-factor error-containment convention; the first row is
    always 1D)."""
    import numpy as np

    wtr = _BitWriter()
    ref_ch = None
    for y, row in enumerate(rows):
        one_d = (not two_d) or y % k == 0
        if fill:
            # pad with zeros so that after the 12 EOL bits (plus the
            # MR tag bit, which rides with the EOL) the position is a
            # byte multiple
            pos = len(wtr.out) * 8 + wtr.nbits
            pad = (-(pos + 12 + (1 if two_d else 0))) % 8
            wtr.write("0" * pad)
        wtr.write(_EOL)
        if two_d:
            wtr.write("1" if one_d else "0")
        if one_d:
            color = 0
            for run in _row_to_runs(row):
                _write_run(wtr, run, white=(color == 0))
                color ^= 1
        else:
            _g4_encode_row(wtr, np.asarray(row, np.int64), ref_ch, len(row))
        ref_ch = _changing_elements(row)
    return wtr.bytes()


def _g3_read_eol(r: _BitReader) -> None:
    """Consume fill zeros + one EOL (>= 11 zeros then a 1)."""
    zeros = 0
    while True:
        if r.read_bit():
            if zeros < 11:
                raise ValueError("CCITT G3 missing EOL")
            return
        zeros += 1
        if zeros > 64 * 8:
            raise ValueError("CCITT G3 runaway EOL fill")


def g3_decode(data: bytes, w: int, nrows: int, two_d: bool = False):
    """Decode a TIFF Compression-3 (EOL-prefixed) strip into an
    (nrows, w) 0/1 array; with ``two_d`` (MR) each EOL carries a tag
    bit selecting 1D MH or 2D coding against the previous row (a 2D
    first row decodes against the imaginary all-white reference).
    Trailing RTC EOLs and zero padding are accepted, anything else
    dead-letters."""
    import numpy as np

    r = _BitReader(data)
    out = np.zeros((nrows, w), np.int64)
    ref_ch = [w, w]
    for y in range(nrows):
        _g3_read_eol(r)
        if two_d and not r.read_bit():
            out[y] = _g4_decode_row(r, ref_ch, w)
            ref_ch = _changing_elements(out[y])
            continue
        pos = 0
        white = True
        while pos < w:
            run = _read_run(r, white)
            if pos + run > w:
                raise ValueError("CCITT G3 run overruns the row")
            if not white:
                out[y, pos : pos + run] = 1
            pos += run
            white = not white
        ref_ch = _changing_elements(out[y])
    # tail: optional RTC (EOLs) and zero fill bits only — every 1-bit
    # after the last row must terminate a full EOL (>= 11 zeros first)
    zeros = 0
    while r.pos < len(data) * 8:
        if r.read_bit():
            if zeros < 11:
                raise ValueError("CCITT G3 trailing data after the strip")
            zeros = 0
        else:
            zeros += 1
    return out
