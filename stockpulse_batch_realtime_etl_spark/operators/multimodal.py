"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The idiomatic Spark shape for image/audio/video at 100 TB:

* the payload is a ``binary`` column (never a path the executor re-fetches
  row-at-a-time; never a driver-side bytes list),
* decode / feature-extract / resize / frame-sample run inside Arrow-batched
  ``mapInPandas`` — bytes stay in the executor, transferred Python↔JVM in
  columnar Arrow batches,
* outputs are typed columns, so everything downstream is ordinary Catalyst.

Codec reality has two rungs:

* REAL formats (24-bit BMP, binary PPM, WAV — integer PCM at all widths
  8/16/24/32-bit, IEEE-float 32/64, G.711 µ-law/A-law, IMA/DVI ADPCM
  mono and word-interleaved multi-channel, and WAVE_FORMAT_EXTENSIBLE —
  and PNG via stdlib ``zlib`` — 8-bit RGB, grayscale at bit depths
  1/2/4/8, 16-bit gray/RGB, palette at bit depths 1/2/4/8, alpha color
  types 4/6, tRNS transparency, and Adam7 interlaced streams of any of
  those) are decoded FOR REAL by the dependency-free parsers below —
  header parse, row-padding strip, bottom-up flip, BGR→RGB swap, RIFF
  chunk walk + companding tables + the ADPCM recurrence, and full PNG
  chunk-walk + CRC + inflate + five-filter unfiltering + sub-byte
  unpacking + PLTE lookup + interlace scatter.  ``decoded_stats`` runs
  them end-to-end inside ``mapInPandas`` and is oracle-checked: the
  encoded pixel/sample values are a deterministic function of
  (asset_id, position), so DuckDB replays count/sum/min/max and a
  position-weighted checksum (which breaks if the decoder misorders
  rows or channels) arithmetically.
* JPEG — BASELINE (SOF0, grayscale, 4:4:4, or subsampled
  4:2:0/4:2:2/4:1:1 colour, with restart markers) AND PROGRESSIVE
  (SOF2, T.81 Annex G multi-scan successive approximation) — is decoded
  FOR REAL too, by the dependency-free entropy decoder in
  operators/jpeg.py — marker walk, canonical Huffman + byte-unstuffing,
  DC diff / AC run-length / EOB runs, zigzag, dequant, IDCT, multi-block
  MCU interleave + chroma upsampling, YCbCr→RGB.  Only the genuinely
  library-bound remainder (MP3, MP4, arithmetic-coded JPEG) stays
  behind ``_try_real_decode``'s import-guard with an honest
  ``NotImplementedError``.

``extract_features`` (length + md5 + md5-derived pseudo-dimensions over
arbitrary payloads) remains the format-agnostic fallback surface, also
oracle-checked end-to-end.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "asset_id long, media_type string, byte_len long, content_md5 string, "
    "width int, height int, duration_ms int"
)

_MEDIA_TYPES = ("image", "audio", "video")


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media-asset table derived from ``documents``: the text
    bytes play the role of an encoded payload (schemas.MEDIA_ASSET_SCHEMA)."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(
            F.array(*[F.lit(m) for m in _MEDIA_TYPES]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.col("text").cast("binary").alias("content"),
        F.create_map(
            F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
        ).alias("meta"),
    )


def _try_real_decode(media_type: str, payload: bytes):
    """Real codec dispatch.  BMP/PPM/PNG (RGB/palette/Adam7)/WAV and
    baseline + progressive JPEG decode here and now with the pure-numpy
    parsers in this module and operators/jpeg (no external library); the
    remaining compressed seam — MP3, MP4, arithmetic-coded JPEG — is
    where PIL/soundfile/av plug in and raises an honest
    ``NotImplementedError`` while those are absent."""
    if payload[:2] in (b"BM", b"P6", b"\xff\xd8") or (
        payload[:8] == b"\x89PNG\r\n\x1a\n"
    ):
        return decode_image_bytes(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav_bytes(payload)
    if media_type == "image":
        try:
            import PIL.Image  # noqa: F401
        except ImportError:
            raise NotImplementedError(
                "unrecognized image container requires Pillow"
            )
    raise NotImplementedError(f"real decode not available for {media_type}")


# --- real uncompressed codecs (pure numpy/struct — no external libraries) ---
#
# Encoders synthesize REAL format bytes whose pixel/sample values are a
# deterministic function of (asset_id, position); decoders below parse those
# bytes back with no knowledge of the generator.  A decoder bug (padding
# kept, rows not flipped, BGR not swapped, RIFF chunk misaligned) changes
# the decoded value multiset or order and fails the DuckDB oracle.

def _image_dims(asset_id: int) -> tuple[int, int]:
    """Small per-asset dims; w*3 % 4 != 0 for most assets, so BMP row
    padding is genuinely exercised."""
    return 4 + asset_id % 13, 4 + asset_id % 11


def _synth_image_vals(asset_id: int, w: int, h: int):
    """RGB row-major top-down pixel values: v_i = (7*id + 13*i) mod 256."""
    import numpy as np

    i = np.arange(w * h * 3, dtype=np.int64)
    return ((7 * asset_id + 13 * i) % 256).astype(np.uint8)


def encode_ppm(asset_id: int) -> bytes:
    """Binary netpbm corpus encoder, sub-round-robin ``(id // 5) % 2``:
    even → PPM (P6, raw RGB), odd → PGM (P5, raw GRAYSCALE over the
    same (7·id + 13·i) closed form, one byte per pixel).  Maxval 255,
    ASCII header."""
    import numpy as np

    w, h = _image_dims(asset_id)
    overlay = (asset_id // 50) % 3
    if overlay == 1:  # P4 bilevel PBM (r15): stored bit 1 = black
        k = np.arange(w * h, dtype=np.int64)
        intensity = ((3 * asset_id + k // 4) % 7 < 3)
        bits = (~intensity).astype(np.uint8).reshape(h, w)
        return (
            b"P4\n%d %d\n" % (w, h) + np.packbits(bits, axis=1).tobytes()
        )
    if overlay == 2:  # 16-bit maxval-65535 (r15): big-endian samples
        n = w * h * (3 if (asset_id // 5) % 2 == 0 else 1)
        i = np.arange(n, dtype=np.int64)
        v = ((1237 * asset_id + 4099 * i) % 65536).astype(">u2")
        magic = b"P6" if (asset_id // 5) % 2 == 0 else b"P5"
        return magic + b"\n%d %d\n65535\n" % (w, h) + v.tobytes()
    if (asset_id // 5) % 2 == 0:
        return (
            b"P6\n%d %d\n255\n" % (w, h)
            + _synth_image_vals(asset_id, w, h).tobytes()
        )
    i = np.arange(w * h, dtype=np.int64)
    gray = ((7 * asset_id + 13 * i) % 256).astype(np.uint8)
    return b"P5\n%d %d\n255\n" % (w, h) + gray.tobytes()


def encode_bmp(asset_id: int) -> bytes:
    """BMP corpus encoder, sub-round-robin ``(id // 5) % 3`` (the
    decoded_stats slot is ``doc_id % 5 == 0``, so ``id // 5`` cycles the
    variant):

    - 0: 24-bit uncompressed BI_RGB (the original shape): bottom-up,
      BGR, 4-byte-padded pixel rows;
    - 1: 8-bit PALETTED BI_RGB — BGRX color table of 2^(2 + id mod 7)
      entries (the shared :func:`_gif_palette` closed form), index at
      row-major k = (3·id + 5·k) mod npal, 4-byte-padded index rows;
    - 2: 8-bit paletted BI_RLE8 — the run-length codec over the
      run-friendly index form (3·id + 5·(k//6)) mod npal (runs of 6,
      cut at row boundaries), encoded as run packets + EOL/EOB.

    DEPTH overlay ``(id // 50) % 3`` (r15): variant 0 rotates through
    16-BIT BI_BITFIELDS 565 (per-channel grid values
    (7·id + 13·i) mod (32/64/32), expanded ``v·255 // (2^w − 1)``) and
    32-BIT BGRX BI_RGB (identical decoded values to the 24-bit form);
    variant 1 through 4-BIT (npal capped at 16) and 1-BIT (npal 2)
    packed palettes; variant 2's overlay 1 is BI_RLE4 (nibble runs,
    npal capped at 16)."""
    import numpy as np

    w, h = _image_dims(asset_id)
    variant = (asset_id // 5) % 3
    overlay = (asset_id // 50) % 3
    if variant == 0 and overlay == 1:  # 16-bit 565 BITFIELDS
        i = np.arange(w * h * 3, dtype=np.int64)
        mw = np.where(i % 3 == 1, 64, 32)
        vw = ((7 * asset_id + 13 * i) % mw).reshape(h, w, 3)
        return _encode_bmp_masked(vw, (0xF800, 0x07E0, 0x001F), 16)
    if variant == 0 and overlay == 2:  # 32-bit BGRX, same values
        return _encode_bmp32(
            _synth_image_vals(asset_id, w, h).reshape(h, w, 3)
        )
    if variant == 1 and overlay != 0:  # 4-bit / 1-bit packed palettes
        npal = min(1 << (2 + asset_id % 7), 16) if overlay == 1 else 2
        k = np.arange(w * h, dtype=np.int64)
        idx = ((3 * asset_id + 5 * k) % npal).reshape(h, w)
        return _encode_bmp_lowbit(
            idx, _gif_palette(asset_id, npal), 4 if overlay == 1 else 1
        )
    if variant == 2 and overlay == 1:  # BI_RLE4
        npal = min(1 << (2 + asset_id % 7), 16)
        k = np.arange(w * h, dtype=np.int64)
        idx = ((3 * asset_id + 5 * (k // 6)) % npal).reshape(h, w)
        return _encode_bmp_lowbit(
            idx, _gif_palette(asset_id, npal), 4, rle4=True
        )
    if variant == 0:
        rgb = _synth_image_vals(asset_id, w, h).reshape(h, w, 3)
        bgr_bottom_up = rgb[::-1, :, ::-1]
        row = w * 3
        stride = row + ((-row) % 4)
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, :row] = bgr_bottom_up.reshape(h, row)
        data = rows.tobytes()
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
        )
        head = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(data), 0, 0, 54)
        return head + info + data
    npal = 1 << (2 + asset_id % 7)
    k = np.arange(w * h, dtype=np.int64)
    kk = (k // 6) if variant == 2 else k
    idx = ((3 * asset_id + 5 * kk) % npal).reshape(h, w)
    return _encode_bmp8(
        idx, _gif_palette(asset_id, npal), rle=(variant == 2)
    )


def _encode_bmp8(idx, pal, rle: bool) -> bytes:
    """Assemble an 8-bit paletted BMP from an (h, w) index grid and an
    (n, 3) RGB palette: BITMAPFILEHEADER + BITMAPINFOHEADER + BGRX
    color table + bottom-up index rows, either 4-byte-padded raw
    (BI_RGB) or BI_RLE8 run packets (runs capped at 255, rows
    terminated by EOL 00 00, the stream by EOB 00 01)."""
    import numpy as np

    h, w = idx.shape
    npal = len(pal)
    quads = np.zeros((npal, 4), np.uint8)
    quads[:, 0] = pal[:, 2]
    quads[:, 1] = pal[:, 1]
    quads[:, 2] = pal[:, 0]
    rows = idx[::-1].astype(np.uint8)  # stored bottom-up
    if not rle:
        stride = w + ((-w) % 4)
        buf = np.zeros((h, stride), np.uint8)
        buf[:, :w] = rows
        data = buf.tobytes()
        comp = 0
    else:
        out = bytearray()
        for r in range(h):
            row = rows[r]
            i = 0
            while i < w:
                run = 1
                while i + run < w and run < 255 and row[i + run] == row[i]:
                    run += 1
                out += bytes((run, int(row[i])))
                i += run
            out += b"\x00\x00"  # end of line
        out[-2:] = b"\x00\x01"  # final EOL becomes end of bitmap
        data = bytes(out)
        comp = 1
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, comp, len(data), 2835, 2835,
        npal, 0,
    )
    off = 14 + 40 + npal * 4
    head = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    return head + info + quads.tobytes() + data


#: Plausibility cap on header-declared pixel counts, applied right
#: after each container's header parse and BEFORE any dims-driven
#: allocation: 2^26 px (~8192x8192) comfortably covers every real
#: still/frame shape while bounding what a corrupt header can demand.
#: Without the cap, a flipped dims field declaring ~1e9 pixels makes
#: the decoder attempt multi-GB numpy allocations per asset, and the
#: resulting ``MemoryError`` is OUTSIDE the decode DLQ taxonomy
#: (``_total_on_corrupt`` / ``decode_or_dlq`` route only ValueError /
#: NotImplementedError) — an executor-OOM/denial vector instead of a
#: dead-letter row.  Raising ``ValueError`` here keeps the totality
#: contract: exact decode or dead-letter.
PIXEL_BUDGET = 1 << 26

#: Same cap summed ACROSS a container's frames/pages (animated GIF
#: canvases are retained per composed frame; multi-page TIFF retains
#: one value array per page): 2^28 px total bounds the retained-frames
#: memory even when every individual frame is under ``PIXEL_BUDGET``.
FRAME_PIXEL_BUDGET = 1 << 28


def _check_pixel_budget(npixels: int, what: str, budget: int = 0) -> None:
    """Raise ``ValueError`` (the DLQ-routable corrupt-input signal)
    when a header-declared pixel count exceeds the plausibility budget.
    Reads the module-level caps at call time (``budget=0`` means
    ``PIXEL_BUDGET``) so tests can shrink them via monkeypatch without
    crafting genuinely huge payloads."""
    cap = budget or PIXEL_BUDGET
    if npixels > cap:
        raise ValueError(
            f"{what} declares {npixels} pixels, past the {cap} "
            f"plausibility budget"
        )


#: Per-byte bit reversal for TIFF FillOrder 2 (tag 266, LSB-first —
#: the fax-modem byte order): translate() with this table flips every
#: byte's bit order in one pass.
_BITREV = bytes(int(f"{b:08b}"[::-1], 2) for b in range(256))


def _bmp_file(info_tail: bytes, pal: bytes, data: bytes, w: int,
              h: int, bpp: int, comp: int) -> bytes:
    """Assemble a BMP: BITMAPFILEHEADER + BITMAPINFOHEADER(40) +
    ``info_tail`` (e.g. BITFIELDS masks) + color table + pixel data."""
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bpp, comp, len(data), 2835, 2835,
        len(pal) // 4, 0,
    )
    off = 14 + 40 + len(info_tail) + len(pal)
    head = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    return head + info + info_tail + pal + data


def _encode_bmp_masked(chan_vals, masks: tuple, bpp: int) -> bytes:
    """16/32-bit BI_BITFIELDS BMP from an (h, w, 3) array of PER-MASK
    channel values (already within each mask's width): bottom-up rows,
    4-byte padded, the three DWORD masks following the info header."""
    import numpy as np

    h, w = chan_vals.shape[:2]
    units = np.zeros((h, w), np.int64)
    for c, mask in enumerate(masks):
        shift = (mask & -mask).bit_length() - 1
        units |= chan_vals[:, :, c].astype(np.int64) << shift
    unit = np.dtype("<u2") if bpp == 16 else np.dtype("<u4")
    row = w * unit.itemsize
    stride = row + ((-row) % 4)
    buf = np.zeros((h, stride), np.uint8)
    buf[:, :row] = (
        units[::-1].astype(unit).view(np.uint8).reshape(h, row)
    )
    return _bmp_file(
        struct.pack("<3I", *masks), b"", buf.tobytes(), w, h, bpp, 3
    )


def _encode_bmp32(rgb) -> bytes:
    """32-bit BI_RGB BMP: bottom-up BGRX rows (pad byte zero), no
    color table — decodes to the same RGB values as the 24-bit form."""
    import numpy as np

    h, w = rgb.shape[:2]
    buf = np.zeros((h, w, 4), np.uint8)
    buf[:, :, 0] = rgb[:, :, 2]
    buf[:, :, 1] = rgb[:, :, 1]
    buf[:, :, 2] = rgb[:, :, 0]
    return _bmp_file(b"", b"", buf[::-1].tobytes(), w, h, 32, 0)


def _encode_bmp_lowbit(idx, pal, bpp: int, rle4: bool = False) -> bytes:
    """4/1-bit paletted BMP from an (h, w) index grid: bit/nibble-packed
    4-byte-padded bottom-up rows (BI_RGB), or BI_RLE4 run packets for
    ``rle4`` (runs alternate the packet byte's two nibbles)."""
    import numpy as np

    h, w = idx.shape
    npal = len(pal)
    quads = np.zeros((npal, 4), np.uint8)
    quads[:, 0], quads[:, 1], quads[:, 2] = pal[:, 2], pal[:, 1], pal[:, 0]
    rows = idx[::-1].astype(np.uint8)
    if rle4:
        out = bytearray()
        for r in range(h):
            row = rows[r]
            i = 0
            while i < w:
                # longest run of an alternating nibble PAIR, capped 255
                a = int(row[i])
                b = int(row[i + 1]) if i + 1 < w else a
                run = 1
                while (
                    i + run < w and run < 255
                    and row[i + run] == (a if run % 2 == 0 else b)
                ):
                    run += 1
                out += bytes((run, (a << 4) | b))
                i += run
            out += b"\x00\x00"
        out[-2:] = b"\x00\x01"
        return _bmp_file(b"", quads.tobytes(), bytes(out), w, h, 4, 2)
    row_bytes = (w * bpp + 7) // 8
    stride = row_bytes + ((-row_bytes) % 4)
    buf = np.zeros((h, stride), np.uint8)
    if bpp == 4:
        padded = np.zeros((h, row_bytes * 2), np.uint8)
        padded[:, :w] = rows
        buf[:, :row_bytes] = (padded[:, 0::2] << 4) | padded[:, 1::2]
    else:  # 1-bit MSB-first
        padded = np.zeros((h, row_bytes * 8), np.uint8)
        padded[:, :w] = rows
        buf[:, :row_bytes] = np.packbits(padded, axis=1)
    return _bmp_file(b"", quads.tobytes(), buf.tobytes(), w, h, bpp, 0)


def _bmp_rle4_decode(data: bytes, w: int, h: int):
    """BI_RLE4 decompression to an (h, w) int64 index grid in STORED
    (bottom-up) row order: run packets paint ALTERNATING high/low
    nibbles of the packet byte, absolute mode packs nibbles high-first
    (padded to a WORD boundary), EOL/EOB escapes and delta moves as in
    RLE8 (skipped pixels take index 0)."""
    import numpy as np

    grid = np.zeros((h, w), np.int64)
    x = y = 0
    i, n = 0, len(data)
    while True:
        if i + 2 > n:
            raise ValueError("BMP RLE4 stream truncated (no EOB)")
        c, v = data[i], data[i + 1]
        i += 2
        if c > 0:  # run packet: alternating nibbles
            if y >= h or x + c > w:
                raise ValueError("BMP RLE4 run overruns the row")
            nib = np.where(
                np.arange(c) % 2 == 0, v >> 4, v & 0x0F
            ).astype(np.int64)
            grid[y, x : x + c] = nib
            x += c
            continue
        if v == 0:  # end of line
            x, y = 0, y + 1
            if y > h:
                raise ValueError("BMP RLE4 line past the bitmap")
            continue
        if v == 1:  # end of bitmap
            return grid
        if v == 2:  # delta
            if i + 2 > n:
                raise ValueError("BMP RLE4 delta truncated")
            x += data[i]
            y += data[i + 1]
            i += 2
            if x > w or y > h:
                raise ValueError("BMP RLE4 delta outside the bitmap")
            continue
        # absolute mode: v pixels, nibbles high-first, WORD-aligned
        nbytes = (v + 1) // 2
        nbytes += nbytes % 2
        if i + nbytes > n:
            raise ValueError("BMP RLE4 absolute run truncated")
        if y >= h or x + v > w:
            raise ValueError("BMP RLE4 absolute run overruns the row")
        packed = np.frombuffer(data, np.uint8, nbytes, i)
        nibs = np.stack([packed >> 4, packed & 0x0F], axis=1).reshape(-1)
        grid[y, x : x + v] = nibs[:v].astype(np.int64)
        x += v
        i += nbytes


def _bmp_rle8_decode(data: bytes, w: int, h: int):
    """BI_RLE8 decompression to an (h, w) int64 index grid in STORED
    (bottom-up) row order: run packets, absolute mode (word-aligned),
    EOL/EOB escapes, and delta moves (skipped pixels take index 0, the
    common convention).  Row overruns, out-of-grid moves, and
    truncation dead-letter."""
    import numpy as np

    grid = np.zeros((h, w), np.int64)
    x = y = 0
    i, n = 0, len(data)
    while True:
        if i + 2 > n:
            raise ValueError("BMP RLE8 stream truncated (no EOB)")
        c, v = data[i], data[i + 1]
        i += 2
        if c > 0:  # run packet
            if y >= h or x + c > w:
                raise ValueError("BMP RLE8 run overruns the row")
            grid[y, x : x + c] = v
            x += c
            continue
        if v == 0:  # end of line
            x, y = 0, y + 1
            if y > h:
                raise ValueError("BMP RLE8 line past the bitmap")
            continue
        if v == 1:  # end of bitmap (early EOB zero-fills the rest)
            return grid
        if v == 2:  # delta
            if i + 2 > n:
                raise ValueError("BMP RLE8 delta truncated")
            x += data[i]
            y += data[i + 1]
            i += 2
            if x > w or y >= h:
                raise ValueError("BMP RLE8 delta outside the bitmap")
            continue
        # absolute mode: v literal bytes, padded to a word boundary
        pad = v & 1
        if i + v + pad > n:
            raise ValueError("BMP RLE8 absolute run truncated")
        if y >= h or x + v > w:
            raise ValueError("BMP RLE8 absolute run overruns the row")
        grid[y, x : x + v] = np.frombuffer(data, np.uint8, v, i).astype(
            np.int64
        )
        x += v
        i += v + pad


def encode_tiff(asset_id: int) -> bytes:
    """TIFF 6.0 corpus encoder, sub-round-robin ``(id // 5) % 10`` (the
    decoded_stats slot is ``doc_id % 5 == 4``, so ``id // 5`` cycles the
    variant across the corpus):

    - 0: baseline chunky 8-bit RGB, uncompressed (the r13 shape);
    - 1: 8-bit GRAYSCALE (spp=1), uncompressed;
    - 2: RGB + PackBits (compression 32773) — the closed form steps by
      13 per byte so the stream is ALL literal packets (and > 128-byte
      literals get chunked);
    - 3: grayscale + PackBits with the run-friendly closed form
      (7·id + 13·(i//5)) mod 256 — runs of 5, so replicate packets are
      genuinely emitted;
    - 4: RGB + LZW (compression 5) + horizontal PREDICTOR 2 — the
      scanned-corpus default shape (MSB-first EarlyChange codes over
      row-differenced bytes; the 13-step closed form differences to a
      CONSTANT delta per row, so the string table genuinely grows);
    - 5: grayscale + Deflate (compression 8, zlib per strip);
    - 6: RGB TILED (16×16 tiles, tags 322-325) + Deflate — corpus dims
      are < the tile, so edge-padding crop is exercised on every file;
    - 7: grayscale TILED + LZW;
    - 8: RGB 16-BIT samples + Deflate (the scientific/scanned depth;
      values (1237·id + 4099·i) mod 65536, the PNG16 closed form);
    - 9: grayscale 16-BIT + LZW + predictor 2 (mod-65536 differencing).

    PLANAR overlay on variant 0 (r15): ``(id // 50) % 3`` rotates the
    chunky shape through 1 = plane-separated uncompressed (tag 284=2)
    and 2 = plane-separated + Deflate + predictor 2 — same pixel
    values, so a decoder ignoring the tag fails the weighted checksum.

    JPEG-IN-TIFF overlays on variant 2: overlay 1 (r15) wraps the id's
    block-constant baseline JPEG interchange stream as a single
    compression-7 / photometric-6 strip (exact by DC-only + unit
    quant, replayed by the jpeg_stats BT.601 closed form); overlay 2
    (r16) embeds the SAME stream OLD-style (compression 6, TIFF 6.0
    §22) behind JPEGInterchangeFormat/­Length tags 513/514 — the
    legacy-scanner corpus shape.

    BILEVEL overlay on variants 1/3 (r15, the scanned-document
    shapes): ``(id // 50) % 3`` rotates variant 1 through 0 = the
    8-bit gray above, 1 = BILEVEL uncompressed (depth 1, packed
    byte-padded rows), 2 = BILEVEL GROUP 4 (CCITT T.6, compression 4);
    variant 3's overlay 1 is BILEVEL MODIFIED HUFFMAN (T.4 1D,
    compression 2).  Bilevel intensity at position k is
    ``1 if (3·id + k//4) mod 7 < 3 else 0`` (runs of 4-12 px, so
    terminating codes, vertical/horizontal/pass modes, and row
    phase shifts are all genuinely exercised); files are photometric
    0 (WhiteIsZero — the fax grid), storing ``1 − intensity``.

    SAMPLEFORMAT overlay on variants 8/9 (r15, the scientific/geo
    shapes): ``(id // 50) % 3`` rotates 0 = unsigned (the r14 form),
    1 = SIGNED INT (tag 339 = 2: variant 8 int16 ``n − 32768``,
    variant 9 int32 ``(n − 32768)·65536`` — full 32-bit range), 2 =
    IEEE FLOAT (tag 339 = 3: variant 8 float32, variant 9 float64,
    both storing ``(n − 32768)/65536`` so the 16.16 grid decode
    (:data:`TIFF_FLOAT_SCALE`) recovers exactly ``n − 32768``), with
    ``n = (1237·id + 4099·i) mod 65536``.  Signed keeps each
    variant's compression/predictor; float drops the (integer-only)
    predictor and keeps photometric 1 (WhiteIsZero inversion is
    unsigned-only).

    Grayscale alternates photometric 1 (BlackIsZero, ``(id//10)`` even)
    and 0 (WhiteIsZero, stored INVERTED at the sample depth so decoded
    intensity still equals the closed form — a decoder that ignores the
    tag fails the oracle).  MULTI-STRIP (RowsPerStrip 4); little-endian
    ("II") for even ids, big-endian ("MM") for odd."""
    import numpy as np

    w, h = _image_dims(asset_id)
    e = "<" if asset_id % 2 == 0 else ">"
    variant = (asset_id // 5) % 10
    comp = {0: 1, 1: 1, 2: 32773, 3: 32773, 4: 5, 5: 8, 6: 8, 7: 5,
            8: 8, 9: 5}[variant]
    pred = 2 if variant in (4, 9) else 1
    tile = (16, 16) if variant in (6, 7) else None
    sfmt = (asset_id // 50) % 3  # 0 unsigned / 1 signed / 2 float
    if variant == 8:  # 16-bit RGB (unsigned/signed/float by overlay)
        i = np.arange(w * h * 3, dtype=np.int64)
        n16 = (1237 * asset_id + 4099 * i) % 65536
        if sfmt == 1:
            px = (n16 - 32768).astype(np.int16).reshape(h, w, 3)
        elif sfmt == 2:
            px = ((n16 - 32768) / 65536.0).astype(np.float32).reshape(
                h, w, 3
            )
        else:
            px = n16.astype(np.uint16).reshape(h, w, 3)
        return _encode_tiff(px, e, 4, photometric=2, compression=comp)
    if variant == 9:  # 16-bit grayscale (+ predictor 2) / 32-bit overlay
        i = np.arange(w * h, dtype=np.int64)
        n16 = (1237 * asset_id + 4099 * i) % 65536
        if sfmt == 1:  # int32, full range, predictor kept
            return _encode_tiff(
                ((n16 - 32768) * 65536).astype(np.int32).reshape(h, w),
                e, 4, photometric=1, compression=comp, predictor=pred,
            )
        if sfmt == 2:  # float64 + the TechNote-3 FLOAT predictor (r15)
            return _encode_tiff(
                ((n16 - 32768) / 65536.0).reshape(h, w),
                e, 4, photometric=1, compression=comp, predictor=3,
            )
        gray16 = n16.reshape(h, w)
        photo = 1 if (asset_id // 10) % 2 == 0 else 0
        stored = gray16 if photo == 1 else 65535 - gray16
        return _encode_tiff(
            stored.astype(np.uint16), e, 4, photometric=photo,
            compression=comp, predictor=pred,
        )
    if variant == 2 and sfmt != 0:
        # JPEG-IN-TIFF overlays (compression 7 / photometric 6): the
        # embedded bytes ARE the id's block-constant baseline JPEG
        # interchange stream, so the decode replays the jpeg_stats
        # closed form (BT.601 + floor(x+0.5), exact by DC-only + unit
        # quant) inside the TIFF container.  Overlay 1 (r15) = NEW-style
        # single-strip compression 7; overlay 2 (r16) = OLD-style
        # compression 6 via JPEGInterchangeFormat (513/514) — same
        # stream, same decoded values, different container plumbing
        from stockpulse_batch_realtime_etl_spark.operators.jpeg import (
            encode_jpeg,
        )

        stream = encode_jpeg(asset_id)
        if sfmt == 1:
            return _encode_tiff_jpeg(stream, e, w, h)
        return _encode_tiff_old_jpeg(stream, e, w, h)
    if variant % 2 == 0:  # chunky 8-bit RGB
        # PLANAR overlay on variant 0 (r15, tag 284=2): overlay 1 =
        # plane-separated uncompressed, overlay 2 = plane-separated +
        # Deflate + predictor 2.  Pixel VALUES are unchanged, so the
        # oracle stays put — a decoder that ignores the tag misorders
        # every channel and fails the weighted checksum
        planar = variant == 0 and sfmt != 0
        if planar:
            comp, pred = (1, 1) if sfmt == 1 else (8, 2)
        return _encode_tiff(
            _synth_image_vals(asset_id, w, h).reshape(h, w, 3),
            e, 4, photometric=2, compression=comp, predictor=pred,
            tile=tile, planar=planar,
        )
    i = np.arange(w * h, dtype=np.int64)
    if variant == 7 and sfmt != 0:
        # CMYK overlay (r15, photometric 5): decoded vals KEEP the four
        # stored ink samples per pixel (the PNG-alpha presentation
        # convention).  Overlay 1 = 8-bit TILED + LZW (the variant's
        # tiling personality), 2 = 16-bit strips + Deflate + pred 2
        if sfmt == 1:
            i = np.arange(w * h * 4, dtype=np.int64)
            px4 = ((7 * asset_id + 13 * i) % 256).astype(np.uint8)
            return _encode_tiff(
                px4.reshape(h, w, 4), e, 4, photometric=5,
                compression=5, tile=(16, 16),
            )
        i = np.arange(w * h * 4, dtype=np.int64)
        px4 = ((1237 * asset_id + 4099 * i) % 65536).astype(np.uint16)
        return _encode_tiff(
            px4.reshape(h, w, 4), e, 4, photometric=5, compression=8,
            predictor=2,
        )
    if variant == 5 and sfmt != 0:
        # PALETTE-COLOR overlay (r15, photometric 3): overlay 1 = 8-bit
        # indices + Deflate, overlay 2 = 4-bit packed indices + LZW;
        # ColorMap entry (c, j) carries the PNG16 closed form at flat
        # position c*n + j, indices at (3·id + 5·k) mod n
        n = 256 if sfmt == 1 else 16
        k = np.arange(w * h, dtype=np.int64)
        idx = ((3 * asset_id + 5 * k) % n).reshape(h, w)
        cmap = (1237 * asset_id + 4099 * np.arange(3 * n, dtype=np.int64)
                ) % 65536
        return _encode_tiff_palette(
            idx, cmap, e, 4, 8 if sfmt == 1 else 4,
            compression=8 if sfmt == 1 else 5,
        )
    if (variant == 1 or variant == 3) and sfmt != 0:
        # bilevel overlay: photometric 0 stores 1 - intensity.
        # Compression map — variant 1: uncompressed / Group 4;
        # variant 3: Modified Huffman / Group 3 1D-with-EOLs (fill
        # bits alternating by (id//10) parity)
        intensity = ((3 * asset_id + i // 4) % 7 < 3).reshape(h, w)
        bcomp = {1: {1: 1, 2: 4}[sfmt], 3: {1: 2, 2: 3}[sfmt]}[variant]
        return _encode_tiff(
            ~intensity, e, 4, photometric=0, compression=bcomp,
            g3_fill=(asset_id // 10) % 2 == 1,
            # FillOrder 2 (LSB-first fax bytes) and MR 2D coding on
            # independent lanes; values unchanged, so the oracle pins
            # the bit reversal and the per-row tag-bit machinery
            fill_order=2 if (asset_id // 20) % 2 == 1 else 1,
            g3_2d=(asset_id // 150) % 2 == 1,
        )
    step = (i // 5) if variant == 3 else i
    gray = ((7 * asset_id + 13 * step) % 256).reshape(h, w)
    photo = 1 if (asset_id // 10) % 2 == 0 else 0
    stored = gray if photo == 1 else 255 - gray
    return _encode_tiff(
        stored.astype(np.uint8), e, 4, photometric=photo, compression=comp,
        tile=tile,
    )


def _packbits_encode(data: bytes) -> bytes:
    """TIFF PackBits (Apple RLE): replicate packets ``(257-run, byte)``
    for runs >= 2, literal packets ``(len-1, bytes...)`` otherwise, both
    capped at 128."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes((257 - run, data[i]))
            i += run
        else:
            j = i + 1
            while (
                j < n
                and j - i < 128
                and not (j + 1 < n and data[j] == data[j + 1])
            ):
                j += 1
            out += bytes((j - i - 1,)) + data[i:j]
            i = j
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """Expand one PackBits-compressed strip to EXACTLY ``expected``
    bytes (rows never pack across strip boundaries, so the strip's
    decompressed size is fixed by the geometry); 0x80 is a no-op per
    spec.  Truncation, overrun, or trailing packets dead-letter."""
    out = bytearray()
    i, n = 0, len(data)
    while len(out) < expected:
        if i >= n:
            raise ValueError("TIFF PackBits strip truncated")
        c = data[i]
        i += 1
        if c == 128:
            continue
        if c < 128:
            if i + c + 1 > n:
                raise ValueError("TIFF PackBits literal truncated")
            out += data[i : i + c + 1]
            i += c + 1
        else:
            if i >= n:
                raise ValueError("TIFF PackBits replicate truncated")
            out += bytes((data[i],)) * (257 - c)
            i += 1
    if len(out) != expected:
        raise ValueError("TIFF PackBits packet overruns the strip")
    while i < n and data[i] == 128:  # trailing no-ops are legal padding
        i += 1
    if i != n:
        raise ValueError("TIFF PackBits trailing data after the strip")
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """REAL TIFF-flavor LZW (compression 5): byte-oriented alphabet,
    variable 9-12 bit codes packed MSB-FIRST, CLEAR=256 / EOI=257, and
    the spec's EarlyChange width rule — one entry EARLIER than the GIF
    pair: this encoder grows at next == 2^width, the decoder at
    next == 2^width − 1 (the decoder's table trails one entry behind,
    exactly as in :func:`_lzw_encode`'s documented pairing)."""
    clear, eoi = 256, 257
    out = bytearray()
    buf = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal buf, nbits
        buf = (buf << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((buf >> nbits) & 0xFF)

    width = 9
    next_code = 258
    table: dict = {}
    emit(clear, width)
    if data:
        prefix = data[0]
        for s in data[1:]:
            key = (prefix, s)
            if key in table:
                prefix = table[key]
                continue
            emit(prefix, width)
            if next_code < 4094:  # libtiff's reset margin
                table[key] = next_code
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            else:
                emit(clear, width)
                table.clear()
                next_code = 258
                width = 9
            prefix = s
        emit(prefix, width)
    # the decoder adds one more entry for the final data code and grows
    # its width at next == 2^w - 1 BEFORE reading EOI — mirror it
    if next_code == (1 << width) - 1 and width < 12:
        width += 1
    emit(eoi, width)
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)


def _tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF LZW decompression of one strip to EXACTLY ``expected``
    bytes: MSB-first variable-width codes, CLEAR/EOI, KwKwK, EarlyChange
    width stepping (next == 2^width − 1), table frozen at 4096 until the
    next CLEAR.  Any malformed code, truncation, or size mismatch
    dead-letters."""
    clear, eoi = 256, 257
    out = bytearray()
    total_bits = len(data) * 8
    bitpos = 0
    width = 9
    table: dict | None = None  # spec: the stream must start with CLEAR
    next_code = 258
    prev = None
    while True:
        if bitpos + width > total_bits:
            raise ValueError("TIFF LZW stream truncated (no EOI)")
        byte0 = bitpos >> 3
        window = int.from_bytes(
            data[byte0 : byte0 + 3].ljust(3, b"\x00"), "big"
        )
        code = (window >> (24 - (bitpos & 7) - width)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = {i: bytes((i,)) for i in range(256)}
            next_code = 258
            width = 9
            prev = None
            continue
        if code == eoi:
            break
        if table is None:
            raise ValueError("TIFF LZW stream does not start with CLEAR")
        if prev is None:
            if code > 255:
                raise ValueError(
                    "TIFF LZW first code after CLEAR not a literal"
                )
            entry = table[code]
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError("TIFF LZW code outside the string table")
        out += entry
        if len(out) > expected:
            raise ValueError("TIFF LZW strip overruns the geometry")
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << width) - 1 and width < 12:
                width += 1
        prev = entry
    if len(out) != expected:
        raise ValueError(f"TIFF LZW strip decoded {len(out)} != {expected}")
    return bytes(out)


def _tiff_expand(chunk: bytes, comp: int, expected: int) -> bytes:
    """Decompress one TIFF strip/tile to EXACTLY ``expected`` bytes
    (compression never crosses strip/tile boundaries, so the expanded
    size is fixed by the geometry)."""
    if comp == 1:
        if len(chunk) != expected:
            raise ValueError(
                f"TIFF uncompressed segment {len(chunk)} != {expected}"
            )
        return chunk
    if comp == 32773:
        return _packbits_decode(chunk, expected)
    if comp == 5:
        return _tiff_lzw_decode(chunk, expected)
    import zlib  # 8 / 32946

    try:
        out = zlib.decompress(chunk)
    except zlib.error as exc:
        raise ValueError(f"TIFF Deflate strip: {exc}") from exc
    if len(out) != expected:
        raise ValueError(f"TIFF Deflate strip {len(out)} != {expected}")
    return out


#: Fixed-point scale for IEEE-float TIFF samples (SampleFormat 3, the
#: scientific/geo shape — reflectance/elevation grids): decoded values
#: map onto a 16.16 grid, ``val = rint(float · 2¹⁶)``, mirroring the
#: float-WAV convention (:data:`WAV_FLOAT_SCALE`) so integer stats
#: pipelines see exact integers for corpus data written on the grid.
#: Samples are NOT clipped; non-finite samples and values whose scaled
#: magnitude exceeds 2⁵³ (the exact-integer float64 range) dead-letter.
TIFF_FLOAT_SCALE = 65536


def _tiff_fp3_diff(rows, bstep: int) -> bytes:
    """Forward TIFF predictor 3: per row, serialize samples to
    BIG-ENDIAN bytes, shuffle byte-planar (most-significant plane
    first), then byte-wise horizontal differencing mod 256."""
    import numpy as np

    nrows, nsamples = rows.shape
    be = np.ascontiguousarray(rows.astype(f">f{bstep}"))
    b = np.frombuffer(be.tobytes(), np.uint8).reshape(
        nrows, nsamples, bstep
    )
    shuf = b.transpose(0, 2, 1).reshape(nrows, bstep * nsamples).astype(
        np.int64
    )
    shuf[:, 1:] = (shuf[:, 1:] - shuf[:, :-1]) % 256
    return shuf.astype(np.uint8)


def _tiff_fp3_undiff(raw: bytes, nrows: int, nsamples: int, bstep: int):
    """Undo TIFF predictor 3 (TechNote 3 floating-point horizontal
    differencing) on one strip/tile: per row, byte-wise cumulative sum
    mod 256, then un-shuffle the byte-planar layout (all
    most-significant bytes of the row's samples first) back into
    BIG-ENDIAN floats — the scheme stores big-endian byte planes
    regardless of the file's byte order."""
    import numpy as np

    arr = np.frombuffer(raw, np.uint8).reshape(
        nrows, nsamples * bstep
    ).astype(np.int64)
    acc = (np.cumsum(arr, axis=1) % 256).astype(np.uint8)
    shuf = np.ascontiguousarray(
        acc.reshape(nrows, bstep, nsamples).transpose(0, 2, 1)
    )
    return np.frombuffer(shuf.tobytes(), f">f{bstep}")


def _tiff_float_vals(x):
    """Map raw IEEE-float TIFF samples onto the 16.16 integer grid with
    the exact-or-dead-letter checks shared with the float-WAV path."""
    import numpy as np

    if not np.isfinite(x).all():
        raise ValueError("TIFF float with non-finite samples")
    scaled = x.astype(np.float64) * TIFF_FLOAT_SCALE
    if scaled.size and np.abs(scaled).max() > float(2**53):
        raise ValueError("TIFF float sample out of range")
    return np.rint(scaled).astype(np.int64)


def _encode_tiff(
    px, e: str, rps: int, photometric: int = 2, compression: int = 1,
    predictor: int = 1, tile: tuple | None = None, planar: bool = False,
    g3_fill: bool = False, fill_order: int = 1, g3_2d: bool = False,
) -> bytes:
    """Single-page wrapper over :func:`_encode_tiff_page` — 8-byte
    header + one page."""
    body, ifd_abs = _encode_tiff_page(
        px, e, rps, photometric, compression, predictor, tile, base=8,
        planar=planar, g3_fill=g3_fill, fill_order=fill_order,
        g3_2d=g3_2d,
    )
    head = struct.pack(f"{e}2sHI", b"II" if e == "<" else b"MM", 42, ifd_abs)
    return head + body


def _encode_tiff_multipage(pages, e: str, rps: int) -> bytes:
    """Multi-page TIFF (r14): chain one IFD per ``(px, photometric,
    compression)`` tuple — each page independently stripped and
    compressed, the previous page's next-IFD pointer patched to the
    following page's IFD."""
    out = bytearray(
        struct.pack(f"{e}2sHI", b"II" if e == "<" else b"MM", 42, 0)
    )
    prev_ptr = 4  # header's first-IFD pointer
    for px, photometric, compression in pages:
        body, ifd_abs = _encode_tiff_page(
            px, e, rps, photometric, compression, 1, None, base=len(out)
        )
        struct.pack_into(f"{e}I", out, prev_ptr, ifd_abs)
        out += body
        prev_ptr = len(out) - 4  # this page's next-IFD pointer (zeroed)
    return bytes(out)


def _assemble_tiff_ifd(
    strips, e, w, h, spp, depth, compression, photometric, rps,
    sample_format, tile, base, predictor=1, planar=False,
    t4_options=None, fill_order=1, colormap=None, jpeg_interchange=False,
):
    """Shared IFD assembly for :func:`_encode_tiff_page`: lay out the
    segment data, off-line offset/count/BitsPerSample/SampleFormat
    arrays, and the IFD itself; returns ``(body_bytes,
    absolute_ifd_offset)``."""
    n = len(strips)
    offs, cur = [], base
    for s in strips:
        offs.append(cur)
        cur += len(s)
    # off-line value arrays (only needed when they exceed the 4 inline
    # bytes, i.e. n > 1; n == 1 keeps both inline)
    arr_off_offsets = arr_off_counts = 0
    extra = b""
    if n > 1:
        arr_off_offsets = cur
        extra += struct.pack(f"{e}{n}I", *offs)
        cur += 4 * n
        arr_off_counts = cur
        extra += struct.pack(f"{e}{n}I", *[len(s) for s in strips])
        cur += 4 * n
    # multi-sample BitsPerSample is spp SHORTs, always off-line;
    # gray's single SHORT packs inline (count-1 path)
    bps_off = cur
    if spp > 1:
        extra += struct.pack(f"{e}{spp}H", *([depth] * spp))
        cur += 2 * spp
    # multi-sample SampleFormat is spp SHORTs, off-line likewise
    sf_off = cur
    if sample_format != 1 and spp > 1:
        extra += struct.pack(f"{e}{spp}H", *([sample_format] * spp))
        cur += 2 * spp
    cm_off = cur
    if colormap is not None:  # 3 x 2^depth SHORTs, R plane then G then B
        extra += struct.pack(f"{e}{len(colormap)}H", *colormap)
        cur += 2 * len(colormap)
    ifd_off = cur

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        if typ == 3 and count == 1:  # SHORT packs left-justified
            return struct.pack(f"{e}HHIHH", tag, typ, count, value, 0)
        return struct.pack(f"{e}HHII", tag, typ, count, value)

    entries = [
        entry(256, 4, 1, w),                       # ImageWidth
        entry(257, 4, 1, h),                       # ImageLength
        entry(258, 3, spp, bps_off if spp > 1 else depth),
        entry(259, 3, 1, compression),
        entry(262, 3, 1, photometric),
    ]
    if fill_order != 1:
        entries.append(entry(266, 3, 1, fill_order))
    if tile is None:
        entries.append(
            entry(273, 4, n, offs[0] if n == 1 else arr_off_offsets)
        )
    entries.append(entry(277, 3, 1, spp))          # SamplesPerPixel
    if tile is None:
        entries.append(entry(278, 3, 1, rps))      # RowsPerStrip
        entries.append(
            entry(279, 4, n,
                  len(strips[0]) if n == 1 else arr_off_counts)
        )
    if planar:
        entries.append(entry(284, 3, 1, 2))  # PlanarConfiguration
    if t4_options is not None:
        entries.append(entry(292, 4, 1, t4_options))  # T4Options
    if predictor != 1:
        entries.append(entry(317, 3, 1, predictor))  # ascending tag order
    if tile is not None:
        entries.append(entry(322, 3, 1, tile[0]))  # TileWidth
        entries.append(entry(323, 3, 1, tile[1]))  # TileLength
        entries.append(
            entry(324, 4, n, offs[0] if n == 1 else arr_off_offsets)
        )
        entries.append(
            entry(325, 4, n,
                  len(strips[0]) if n == 1 else arr_off_counts)
        )
    if colormap is not None:
        entries.append(entry(320, 3, len(colormap), cm_off))
    if sample_format != 1:
        entries.append(
            entry(339, 3, spp, sf_off if spp > 1 else sample_format)
        )
    if jpeg_interchange:
        # old-style JPEG (compression 6): strips[0] IS the complete
        # interchange stream; 513/514 point at it (TIFF 6.0 §22)
        entries.append(entry(513, 4, 1, offs[0]))
        entries.append(entry(514, 4, 1, len(strips[0])))
    ifd = struct.pack(f"{e}H", len(entries)) + b"".join(entries) + struct.pack(
        f"{e}I", 0
    )
    return b"".join(strips) + extra + ifd, ifd_off


def _encode_tiff_page(
    px, e: str, rps: int, photometric: int = 2, compression: int = 1,
    predictor: int = 1, tile: tuple | None = None, base: int = 8,
    planar: bool = False, g3_fill: bool = False, fill_order: int = 1,
    g3_2d: bool = False,
) -> tuple:
    """Assemble ONE TIFF page's bytes (segment data + off-line arrays +
    IFD with a zeroed next pointer), all offsets absolute assuming the
    page starts at file offset ``base``; returns ``(body_bytes,
    absolute_ifd_offset)``.  Page content: an ``(h, w, 3)`` uint8 array
    (photometric 2,
    chunky RGB) or an ``(h, w)`` uint8 array (photometric 0/1, 8-bit
    gray — stored bytes are written VERBATIM; WhiteIsZero inversion is
    the decoder's job), byte order ``e`` ("<"/">"), the given
    RowsPerStrip, compression 1 (none), 32773 (PackBits), 5 (LZW) or
    8 (Deflate) — each applied per strip/tile — and predictor 1 (none)
    or 2 (horizontal differencing per row per channel, tag 317).  With
    ``tile=(tw, tl)`` (multiples of 16) the file is TILED (tags
    322/323/324/325, zero-padded edge tiles, predictor restarting at
    each TILE row) instead of stripped.  Layout: 8-byte header →
    segment data → off-line offset/count arrays (when more than one
    segment) → off-line BitsPerSample (RGB only; gray's single SHORT is
    inline) → IFD."""
    import numpy as np

    spp = {2: 3, 5: 4}.get(photometric, 1)
    # Sample depth/format from the input dtype (r14/r15): uint8/uint16
    # write SampleFormat-1 pages, int16/int32 SampleFormat-2,
    # float32/float64 SampleFormat-3 — all in the file's byte order;
    # integer predictor differencing runs mod 2^depth (signed data
    # differences as its two's-complement words in the same ring).
    # A BOOL array writes a BILEVEL page (depth 1, r15): packed
    # MSB-first byte-padded rows (compression 1), or CCITT Modified
    # Huffman (2) / Group 4 (4) fax streams per strip.
    if px.dtype == np.bool_:
        if photometric not in (0, 1) or predictor != 1 or tile is not None:
            raise ValueError("bilevel TIFF: photometric 0/1, strips only")
        if compression not in (1, 2, 3, 4):
            raise ValueError(f"bilevel TIFF compression {compression}")
        from stockpulse_batch_realtime_etl_spark.operators import ccitt

        rows = px.astype(np.uint8)
        h, w = rows.shape
        if compression == 2:
            strips = [
                ccitt.mh_encode(rows[r : r + rps])
                for r in range(0, h, rps)
            ]
        elif compression == 3:
            strips = [
                ccitt.g3_encode(rows[r : r + rps], fill=g3_fill,
                                two_d=g3_2d)
                for r in range(0, h, rps)
            ]
        elif compression == 4:
            strips = [
                ccitt.g4_encode(rows[r : r + rps])
                for r in range(0, h, rps)
            ]
        else:
            strips = [
                np.packbits(rows[r : r + rps], axis=1).tobytes()
                for r in range(0, h, rps)
            ]
        if fill_order == 2:
            strips = [st.translate(_BITREV) for st in strips]
        return _assemble_tiff_ifd(
            strips, e, w, h, spp=1, depth=1, compression=compression,
            photometric=photometric, rps=rps, sample_format=1,
            tile=None, base=base,
            t4_options=(
                (4 if g3_fill else 0) | (1 if g3_2d else 0)
            ) if compression == 3 else None,
            fill_order=fill_order,
        )
    depth = px.dtype.itemsize * 8
    sample_format = {"u": 1, "i": 2, "f": 3}[px.dtype.kind]
    if sample_format == 3 and predictor == 2:
        raise ValueError("predictor 2 is undefined for float samples")
    if predictor == 3 and (sample_format != 3 or planar):
        raise ValueError("predictor 3 needs chunky float samples")
    mod = 1 << depth
    sdt = np.dtype(f"{e}{'f' if sample_format == 3 else 'u'}{depth // 8}")
    if sample_format == 2:
        px = px.astype(np.int64) % mod  # store two's-complement words
    h, w = px.shape[0], px.shape[1]
    if tile is not None:
        tw, tl = tile
        arr = px.reshape(h, w, spp)
        ph, pw = -(-h // tl) * tl, -(-w // tw) * tw
        padded = np.zeros((ph, pw, spp), arr.dtype)
        padded[:h, :w] = arr
        strips = []
        for ty in range(ph // tl):
            for tx in range(pw // tw):
                t = padded[
                    ty * tl : (ty + 1) * tl, tx * tw : (tx + 1) * tw
                ]
                if predictor == 3:
                    strips.append(
                        _tiff_fp3_diff(
                            t.reshape(tl, tw * spp), depth // 8
                        ).tobytes()
                    )
                    continue
                if predictor == 2:
                    t = t.astype(np.int64)
                    t[:, 1:, :] = (t[:, 1:, :] - t[:, :-1, :]) % mod
                strips.append(t.astype(sdt).tobytes())
    elif planar and spp > 1:
        # plane-separated strips (tag 284=2): plane 0's strips first,
        # then plane 1's, then plane 2's; predictor per plane row
        arr = px.reshape(h, w, spp)
        if predictor == 2:
            arr = arr.astype(np.int64).copy()
            arr[:, 1:, :] = (arr[:, 1:, :] - arr[:, :-1, :]) % mod
        strips = []
        for p in range(spp):
            plane = np.ascontiguousarray(arr[:, :, p]).astype(sdt)
            strips += [
                plane[r : r + rps].tobytes() for r in range(0, h, rps)
            ]
    elif predictor == 3:
        rows = _tiff_fp3_diff(px.reshape(h, w * spp), depth // 8)
        strips = [
            rows[r : r + rps].tobytes() for r in range(0, h, rps)
        ]
    else:
        if predictor == 2:
            # stored[x] = orig[x] - orig[x-1] (mod 2^depth) along each
            # row, per channel; a row's first pixel is stored verbatim
            arr = px.reshape(h, w, spp).astype(np.int64)
            arr[:, 1:, :] = (arr[:, 1:, :] - arr[:, :-1, :]) % mod
            px = arr
        px = px.reshape(h, w * spp).astype(sdt)
        strips = [
            px[r : r + rps].tobytes() for r in range(0, h, rps)
        ]
    if compression == 32773:
        strips = [_packbits_encode(s) for s in strips]
    elif compression == 5:
        strips = [_tiff_lzw_encode(s) for s in strips]
    elif compression == 8:
        import zlib

        strips = [zlib.compress(s) for s in strips]
    return _assemble_tiff_ifd(
        strips, e, w, h, spp, depth, compression, photometric, rps,
        sample_format, tile, base, predictor, planar=planar and spp > 1,
    )


def _encode_tiff_palette(
    idx, cmap, e: str, rps: int, bits: int, compression: int = 1,
) -> bytes:
    """Palette-color TIFF (photometric 3): (h, w) index grid at depth
    ``bits`` (8, or 4 packed high-first with byte-padded rows), the
    flat ``cmap`` (3·2^bits SHORT values, R plane then G then B — the
    TIFF 6.0 §5 ColorMap layout) off-line, per-strip compression."""
    import numpy as np

    h, w = idx.shape
    if bits == 8:
        rows = idx.astype(np.uint8)
        stride = w
    else:
        padded = np.zeros((h, ((w + 1) // 2) * 2), np.uint8)
        padded[:, :w] = idx
        rows = (padded[:, 0::2] << 4) | padded[:, 1::2]
        stride = rows.shape[1]
    strips = [rows[r : r + rps].tobytes() for r in range(0, h, rps)]
    if compression == 32773:
        strips = [_packbits_encode(st) for st in strips]
    elif compression == 5:
        strips = [_tiff_lzw_encode(st) for st in strips]
    elif compression == 8:
        import zlib

        strips = [zlib.compress(st) for st in strips]
    body, ifd_abs = _assemble_tiff_ifd(
        strips, e, w, h, spp=1, depth=bits, compression=compression,
        photometric=3, rps=rps, sample_format=1, tile=None, base=8,
        colormap=list(cmap),
    )
    head = struct.pack(f"{e}2sHI", b"II" if e == "<" else b"MM", 42, ifd_abs)
    return head + body


def _encode_tiff_jpeg(stream: bytes, e: str, w: int, h: int) -> bytes:
    """Single-strip new-style JPEG-in-TIFF (compression 7, photometric
    6/YCbCr): the strip bytes ARE a complete JPEG interchange stream."""
    body, ifd_abs = _assemble_tiff_ifd(
        [stream], e, w, h, spp=3, depth=8, compression=7, photometric=6,
        rps=h, sample_format=1, tile=None, base=8,
    )
    head = struct.pack(f"{e}2sHI", b"II" if e == "<" else b"MM", 42, ifd_abs)
    return head + body


def _encode_tiff_old_jpeg(stream: bytes, e: str, w: int, h: int) -> bytes:
    """OLD-style JPEG-in-TIFF (compression 6, TIFF 6.0 §22 — deprecated
    by TechNote 2, r16): a COMPLETE JPEG interchange stream referenced
    by JPEGInterchangeFormat (513) / JPEGInterchangeFormatLength (514).
    The strip tags also cover the stream (the common legacy-writer
    shape); readers prefer 513/514 per TechNote 2's repair guidance."""
    body, ifd_abs = _assemble_tiff_ifd(
        [stream], e, w, h, spp=3, depth=8, compression=6, photometric=6,
        rps=h, sample_format=1, tile=None, base=8, jpeg_interchange=True,
    )
    head = struct.pack(f"{e}2sHI", b"II" if e == "<" else b"MM", 42, ifd_abs)
    return head + body


def _gif_palette(asset_id: int, ncolors: int):
    """Deterministic GIF color table: entry j = ((7j+id) mod 256,
    (11j+2id) mod 256, (13j+3id) mod 256) — all three channels
    closed-form so the oracle replays palette lookups arithmetically."""
    import numpy as np

    j = np.arange(ncolors, dtype=np.int64)
    return np.stack(
        [
            (7 * j + asset_id) % 256,
            (11 * j + 2 * asset_id) % 256,
            (13 * j + 3 * asset_id) % 256,
        ],
        axis=1,
    ).astype(np.uint8)


#: GIF interlace row schedule (GIF89a spec appendix E): four passes,
#: rows 0::8, 4::8, 2::4, 1::2 in transmission order.
def _gif_interlace_order(h: int) -> list:
    return (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )


def _lzw_encode(indexes, min_code_size: int) -> bytes:
    """REAL GIF-flavor LZW compression (variable 3-12 bit codes packed
    LSB-first): CLEAR, greedy longest-match emission growing the string
    table, code width stepping when the table's next value would not
    fit, CLEAR-and-reset at the 4096-entry ceiling, EOI.  The width
    rule is the encoder half of the canonical pair (encoder grows at
    next == 2^width + 1, decoder at next == 2^width — the decoder's
    table trails one entry behind); the boundary-crossing roundtrip
    tests pin the pairing."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    buf = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal buf, nbits
        buf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8

    width = min_code_size + 1
    next_code = eoi + 1
    table: dict = {}
    emit(clear, width)
    prefix = int(indexes[0])
    for s in map(int, indexes[1:]):
        key = (prefix, s)
        if key in table:
            prefix = table[key]
            continue
        emit(prefix, width)
        if next_code < 4096:
            table[key] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear, width)
            table.clear()
            next_code = eoi + 1
            width = min_code_size + 1
        prefix = s
    emit(prefix, width)
    # the DECODER adds one more entry for that final data code and
    # grows its width at next == 2^w BEFORE reading the next code —
    # when the threshold lands exactly on the last data code, EOI must
    # be emitted one bit wider (missing this desyncs the tail: the
    # decoder reads past the buffer and dead-letters with "no EOI";
    # first corpus hit was asset 364's 4-symbol cycle)
    if next_code == (1 << width) and width < 12:
        width += 1
    emit(eoi, width)
    if nbits:
        out.append(buf & 0xFF)
    return bytes(out)


def _gif_data_subblocks(stream: bytes) -> bytes:
    """Chunk a byte stream into GIF's <=255-byte length-prefixed
    sub-blocks, with the 0x00 terminator."""
    parts = [
        bytes([len(stream[i : i + 255])]) + stream[i : i + 255]
        for i in range(0, len(stream), 255)
    ]
    return b"".join(parts) + b"\x00"


def encode_gif(asset_id: int) -> bytes:
    """GIF89a still image: global color table of 2^(2 + id mod 7)
    entries (:func:`_gif_palette`), pixel index at row-major position k
    = (3·id + 5·k) mod ncolors, REAL LZW-compressed (variable-width
    codes, string-table growth); odd ids transmit INTERLACED (the
    4-pass row schedule).  A comment extension and a Graphic Control
    Extension precede the image so decoders must genuinely skip
    extension blocks.  Ids with ``(id // 10) % 2 == 1`` (r14) set the
    GCE TRANSPARENT flag on index (3·id) mod nc with LSD background
    index (3·id + 7) mod nc — decoded stills must compose transparent
    pixels to the background color, so the oracle's effective-index
    substitution pins the composition path.

    Ids with ``(id // 5) % 3 == 2`` (r15) are ANIMATED: a second
    partial-canvas frame follows the full-canvas first.  The stills
    contract returns COMPOSED FRAME 0 — identical values to the plain
    still — so the decoded-stats oracle is unchanged while the corpus
    permanently exercises the stills→frames delegation path."""
    import numpy as np

    w, h = _image_dims(asset_id)
    bits = 2 + asset_id % 7
    ncolors = 1 << bits
    k = np.arange(w * h, dtype=np.int64)
    idx = ((3 * asset_id + 5 * k) % ncolors).reshape(h, w)
    transparent = (asset_id // 10) % 2 == 1
    still = _encode_gif_frame(
        idx,
        _gif_palette(asset_id, ncolors),
        asset_id % 2 == 1,
        bits,
        transparent_idx=(3 * asset_id) % ncolors if transparent else None,
        background=(3 * asset_id + 7) % ncolors if transparent else 0,
    )
    if (asset_id // 5) % 3 != 2:
        return still
    # animated variant: append a second (w-2)x(h-2) frame at (1, 1)
    # before the trailer; frame 0 is untouched, so the still decode
    # (frame 0 of the composition) matches the plain closed form
    iw, ih = w - 2, h - 2
    k2 = np.arange(iw * ih, dtype=np.int64)
    idx2 = (3 * asset_id + 5 * k2 + 11) % ncolors
    return (
        still[:-1]
        + b"\x21\xf9\x04\x00\x00\x00\x00\x00"
        + struct.pack("<BHHHHB", 0x2C, 1, 1, iw, ih, 0)
        + bytes([bits])
        + _gif_data_subblocks(_lzw_encode(idx2, bits))
        + b"\x3b"
    )


def _encode_gif_frame(
    idx, pal, interlaced: bool, bits: int,
    transparent_idx: int | None = None, background: int = 0,
) -> bytes:
    """Assemble a GIF89a still from an (h, w) index grid and an
    (2^bits, 3) palette: LSD + global table + GCE + comment extension +
    image descriptor + LZW-compressed data sub-blocks + trailer.  With
    ``transparent_idx`` the GCE carries the transparent-color flag and
    index, and ``background`` becomes the LSD background color index."""
    h, w = idx.shape
    rows = idx[_gif_interlace_order(h), :] if interlaced else idx
    stream = _lzw_encode(rows.reshape(-1), bits)
    lsd_flags = 0x80 | ((bits - 1) << 4) | (bits - 1)  # global table, size
    if transparent_idx is None:
        gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # no transparency/delay
    else:
        gce = b"\x21\xf9\x04\x01\x00\x00" + bytes((transparent_idx, 0))
    comment = b"\x21\xfe" + _gif_data_subblocks(b"synthetic still corpus")
    img = struct.pack(
        "<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlaced else 0
    )
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, lsd_flags, background, 0)
        + pal.astype("uint8").tobytes()
        + gce
        + comment
        + img
        + bytes([bits])
        + _gif_data_subblocks(stream)
        + b"\x3b"
    )


#: Adam7 interlace grid (PNG spec §8.2): per pass, (row_start, col_start,
#: row_increment, col_increment) — pass p's sub-image holds the pixels at
#: image[row_start::row_inc, col_start::col_inc], transmitted as its own
#: independently-filtered scanline run (empty passes transmit nothing).
_ADAM7 = (
    (0, 0, 8, 8),
    (0, 4, 8, 8),
    (4, 0, 8, 4),
    (0, 2, 4, 4),
    (2, 0, 4, 2),
    (0, 1, 2, 2),
    (1, 0, 2, 1),
)


def _paeth_predict(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6): nearest of left/up/up-left to
    the linear estimate p = a + b − c, ties a → b → c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(asset_id: int) -> bytes:
    """Real PNG of the deterministic synthetic image: scanline r is
    FILTERED with type ``(asset_id + r) % 5`` before compression, so
    across the corpus every unfilter path (None/Sub/Up/Average/Paeth) is
    genuinely exercised — a decoder that fakes any of them cannot
    reproduce the deterministic pixel function and fails the oracle."""
    w, h = _image_dims(asset_id)
    return encode_png_rgb(
        _synth_image_vals(asset_id, w, h).reshape(h, w, 3), asset_id
    )


def encode_png_rgb(rgb, filter_seed: int = 0) -> bytes:
    """Encode an (h, w, 3) uint8 array as a real 8-bit RGB PNG (color type
    2, no interlace, stdlib ``zlib``-deflated IDAT); row r uses filter
    type ``(filter_seed + r) % 5``."""
    import numpy as np
    import zlib

    h, w = rgb.shape[0], rgb.shape[1]
    px = np.asarray(rgb, dtype=np.int64).reshape(h, w * 3)
    raw = _png_filter_scanlines(px, 3, filter_seed)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def _png_filter_scanlines(px, bpp: int, filter_seed: int) -> bytes:
    """Filter an (n_rows, stride) int64 byte matrix into PNG scanlines,
    row r with filter type ``(filter_seed + r) % 5`` — the shared filter
    arithmetic of every encoder here (one Adam7 pass filters exactly like
    a whole image: its first row predicts against zeros)."""
    import numpy as np

    n_rows, stride = px.shape
    zero = np.zeros(bpp, dtype=np.int64)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for r in range(n_rows):
        row = px[r]
        ft = (filter_seed + r) % 5
        a = np.concatenate([zero, row[:-bpp]]) if stride > bpp else row * 0
        b = prev
        c = np.concatenate([zero, prev[:-bpp]]) if stride > bpp else row * 0
        if ft == 0:
            f = row
        elif ft == 1:
            f = row - a
        elif ft == 2:
            f = row - b
        elif ft == 3:
            f = row - (a + b) // 2
        else:
            pred = np.array(
                [
                    _paeth_predict(int(x), int(y), int(z))
                    for x, y, z in zip(a, b, c)
                ],
                dtype=np.int64,
            )
            f = row - pred
        raw.append(ft)
        raw += (f % 256).astype(np.uint8).tobytes()
        prev = row
    return bytes(raw)


def encode_png_rgb_interlaced(rgb, filter_seed: int = 0) -> bytes:
    """Encode an (h, w, 3) uint8 array as an ADAM7-interlaced 8-bit RGB
    PNG: seven sub-images, each independently filtered (the filter seed
    advances by pass height so the type rotation continues across
    passes); empty passes transmit nothing."""
    import numpy as np
    import zlib

    h, w = rgb.shape[0], rgb.shape[1]
    px = np.asarray(rgb, dtype=np.int64)
    chunks, seed = [], filter_seed
    for sr, sc, ri, ci in _ADAM7:
        sub = px[sr::ri, sc::ci]
        if sub.size == 0:
            continue
        chunks.append(
            _png_filter_scanlines(
                sub.reshape(sub.shape[0], sub.shape[1] * 3), 3, seed
            )
        )
        seed += sub.shape[0]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(chunks)))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_palette(asset_id: int, trns: bytes | None = None) -> bytes:
    """Real PALETTE (color type 3) PNG of a deterministic indexed image.
    Bit depth cycles (1, 2, 4, 8) by asset — every sub-byte bit-packing
    path is exercised across the corpus, with rows padded to whole bytes
    as the spec requires; scanlines are filtered with rotating types on
    the PACKED bytes (bpp = 1), so all five unfilter paths run at the
    palette byte-geometry too.  Assets with ``asset_id % 5 == 2`` are
    additionally ADAM7-INTERLACED — palette indices re-packed per pass
    sub-image, each pass independently filtered — so the registered
    query's corpus drives the interlace scatter path combined with every
    bit depth (the tiny dims make empty and 1-column passes the norm).
    The decoded pixels are identical either way, so the DuckDB oracle is
    untouched.  Pixel model: pixel i has index ``(7·id + 13·i) mod
    2^depth`` and the palette maps index j to ``((5·id + 11·j) % 256,
    (id + 7·j) % 256, (3·id + 13·j) % 256)``.  ``trns`` (optional) is
    emitted verbatim as a tRNS chunk between PLTE and IDAT — the
    per-index alpha table of :func:`encode_png_trns`'s palette kind."""
    import numpy as np
    import zlib

    w, h = _image_dims(asset_id)
    depth = (1, 2, 4, 8)[asset_id % 4]
    nidx = 1 << depth
    i = np.arange(w * h, dtype=np.int64)
    idx = ((7 * asset_id + 13 * i) % nidx).astype(np.uint8).reshape(h, w)

    def pack(sub_idx):
        """(rows, cols) indices → (rows, stride) packed bytes, MSB-first,
        rows padded to whole bytes."""
        rows, cols = sub_idx.shape
        if depth == 8:
            return sub_idx.astype(np.int64)
        bits = np.unpackbits(
            np.ascontiguousarray(sub_idx)[:, :, None], axis=2
        )[:, :, 8 - depth :]
        flat = bits.reshape(rows, cols * depth)
        pad = (-flat.shape[1]) % 8
        if pad:
            flat = np.concatenate(
                [flat, np.zeros((rows, pad), dtype=np.uint8)], axis=1
            )
        return np.packbits(flat, axis=1).astype(np.int64)

    interlaced = asset_id % 5 == 2
    if not interlaced:
        raw = _png_filter_scanlines(pack(idx), 1, asset_id)
    else:
        chunks, seed = [], asset_id
        for sr, sc, ri, ci in _ADAM7:
            sub = idx[sr::ri, sc::ci]
            if sub.size == 0:
                continue
            chunks.append(_png_filter_scanlines(pack(sub), 1, seed))
            seed += sub.shape[0]
        raw = b"".join(chunks)
    j = np.arange(nidx, dtype=np.int64)
    pal = (
        np.stack(
            [
                (5 * asset_id + 11 * j) % 256,
                (asset_id + 7 * j) % 256,
                (3 * asset_id + 13 * j) % 256,
            ],
            axis=1,
        )
        .astype(np.uint8)
        .tobytes()
    )
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, int(interlaced))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal)
        + (_png_chunk(b"tRNS", trns) if trns is not None else b"")
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def encode_png16(asset_id: int) -> bytes:
    """Real 16-BIT PNG of a deterministic image — the scientific/medical
    asset shape (CT/microscopy exports).  Color type alternates by id
    (even → grayscale 0, odd → RGB 2); samples are big-endian 16-bit per
    the spec, filtering runs on the RAW BYTES with bpp = 2·channels (so
    the Sub/Average/Paeth distance spans a whole pixel), rows rotate all
    five filter types, and assets with ``asset_id % 5 == 2`` are
    additionally ADAM7-interlaced (each pass independently filtered at
    the 16-bit byte geometry).  Pixel model: sample j (row-major, channel
    minor) is ``(1237·id + 4099·j) mod 65536``."""
    import numpy as np
    import zlib

    w, h = _image_dims(asset_id)
    ctype = 0 if asset_id % 2 == 0 else 2
    ch = 1 if ctype == 0 else 3
    j = np.arange(w * h * ch, dtype=np.int64)
    samples = ((1237 * asset_id + 4099 * j) % 65536).reshape(h, w * ch)

    def to_bytes(sub):
        """(rows, cols) 16-bit samples → (rows, cols*2) big-endian bytes."""
        rows = sub.shape[0]
        be = np.stack([sub >> 8, sub & 0xFF], axis=2)
        return be.reshape(rows, -1)

    grid = samples.reshape(h, w, ch)
    interlaced = asset_id % 5 == 2
    if not interlaced:
        raw = _png_filter_scanlines(to_bytes(samples), 2 * ch, asset_id)
    else:
        chunks, seed = [], asset_id
        for sr, sc, ri, ci in _ADAM7:
            sub = grid[sr::ri, sc::ci]
            if sub.size == 0:
                continue
            chunks.append(
                _png_filter_scanlines(
                    to_bytes(sub.reshape(sub.shape[0], -1)), 2 * ch, seed
                )
            )
            seed += sub.shape[0]
        raw = b"".join(chunks)
    ihdr = struct.pack(">IIBBBBB", w, h, 16, ctype, 0, 0, int(interlaced))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def _png_body(samples, w, h, ch, depth, ctype, asset_id, extra=b""):
    """Shared ALPHA-family assembly: (h, w, ch) samples → complete PNG
    bytes at the given depth/color type, rows filtered with the rotating
    types at bpp = ch·depth/8 (so Sub/Average/Paeth span a whole pixel),
    ADAM7-interlaced when ``asset_id % 5 == 2`` (each pass independently
    filtered, the seed advancing by pass height — same convention as
    every encoder here); ``extra`` chunks (tRNS) go between IHDR and
    IDAT."""
    import numpy as np
    import zlib

    bpp = ch * (depth // 8)

    def to_bytes(sub):
        flat = sub.reshape(sub.shape[0], -1)
        if depth == 8:
            return flat
        be = np.stack([flat >> 8, flat & 0xFF], axis=2)
        return be.reshape(sub.shape[0], -1)

    interlaced = asset_id % 5 == 2
    if not interlaced:
        raw = _png_filter_scanlines(to_bytes(samples), bpp, asset_id)
    else:
        chunks, seed = [], asset_id
        for sr, sc, ri, ci in _ADAM7:
            sub = samples[sr::ri, sc::ci]
            if sub.size == 0:
                continue
            chunks.append(_png_filter_scanlines(to_bytes(sub), bpp, seed))
            seed += sub.shape[0]
        raw = b"".join(chunks)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, int(interlaced))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + extra
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_alpha(asset_id: int) -> bytes:
    """Real ALPHA PNG — the dominant web/screenshot shape.  Color type and
    depth cycle by ``asset_id % 4``: (6 RGBA, 8-bit), (4 gray+alpha,
    8-bit), (6, 16-bit), (4, 16-bit); assets with ``asset_id % 5 == 2``
    are additionally ADAM7-interlaced, so across a corpus every
    alpha-geometry filter/interlace path runs.  Sample model (row-major,
    channel-minor, alpha LAST): sample j is ``(7·id + 13·j) mod 256`` at
    depth 8 and ``(1237·id + 4099·j) mod 65536`` at depth 16 — the same
    generators as the RGB and 16-bit rungs, so the DuckDB oracle replays
    the whole corpus arithmetically."""
    import numpy as np

    w, h = _image_dims(asset_id)
    ctype = 6 if asset_id % 2 == 0 else 4
    ch = 4 if ctype == 6 else 2
    depth = 8 if asset_id % 4 < 2 else 16
    j = np.arange(w * h * ch, dtype=np.int64)
    if depth == 8:
        samples = (7 * asset_id + 13 * j) % 256
    else:
        samples = (1237 * asset_id + 4099 * j) % 65536
    return _png_body(
        samples.reshape(h, w, ch), w, h, ch, depth, ctype, asset_id
    )


def encode_png_trns(asset_id: int) -> bytes:
    """Real tRNS-TRANSPARENCY PNG.  Kind cycles on ``(asset_id // 3) % 3``
    (decoupled from the corpus round-robin's ``asset_id % 3`` so every
    kind appears in an all-tRNS corpus):

    - kind 0 — PALETTE alpha: the :func:`encode_png_palette` image (bit
      depths 1/2/4/8, Adam7 on ``id % 5 == 2``) plus a tRNS table of
      ``2^depth // 2 + 1`` entries ``a_j = (11·id + 29·j) mod 256`` —
      shorter than the palette, so the spec's implicit-255 tail is
      genuinely exercised.
    - kind 1 — GRAY key (color type 0, depth 8): pixels
      ``(7·id + 13·i) mod 256``, key = pixel 0's value → ≥1 transparent
      pixel per asset by construction.
    - kind 2 — RGB key (color type 2, depth 8): the
      :func:`encode_png` pixel model, key = pixel 0's (r, g, b).

    Decoded ``vals`` carry the expanded alpha as the trailing channel
    (0 where the raw sample matches the key, else 255)."""
    import numpy as np

    kind = (asset_id // 3) % 3
    w, h = _image_dims(asset_id)
    if kind == 0:
        depth = (1, 2, 4, 8)[asset_id % 4]
        ntr = (1 << depth) // 2 + 1
        j = np.arange(ntr, dtype=np.int64)
        alpha = ((11 * asset_id + 29 * j) % 256).astype(np.uint8)
        return encode_png_palette(asset_id, trns=alpha.tobytes())
    if kind == 1:
        i = np.arange(w * h, dtype=np.int64)
        v = ((7 * asset_id + 13 * i) % 256).reshape(h, w, 1)
        key = struct.pack(">H", (7 * asset_id) % 256)
        return _png_body(
            v, w, h, 1, 8, 0, asset_id, extra=_png_chunk(b"tRNS", key)
        )
    rgb = (
        _synth_image_vals(asset_id, w, h).astype(np.int64).reshape(h, w, 3)
    )
    key = struct.pack(
        ">HHH", *(int(rgb[0, 0, c]) for c in range(3))
    )
    return _png_body(
        rgb, w, h, 3, 8, 2, asset_id, extra=_png_chunk(b"tRNS", key)
    )


def _total_on_corrupt(fn):
    """Corrupt-input totality boundary for the byte-level codecs: every
    decoder failure on untrusted bytes surfaces as the unified
    ``ValueError`` (``NotImplementedError`` stays the honest
    format-boundary signal).  Arbitrary corruption can otherwise reach
    low-level parse errors — a truncated header's ``struct.error``, a
    truncated deflate stream's ``zlib.error``, a flipped length field's
    ``IndexError``/``OverflowError`` — and the mapInPandas codec seam
    routes failures to the DLQ by exception type (fuzzed by
    test_codec_decoders_total_on_corrupt_inputs)."""
    import functools
    import zlib

    @functools.wraps(fn)
    def wrapper(payload, *args, **kwargs):
        try:
            return fn(payload, *args, **kwargs)
        except (ValueError, NotImplementedError):
            raise
        except (
            struct.error,
            IndexError,
            KeyError,
            OverflowError,
            zlib.error,
        ) as e:
            raise ValueError(
                f"corrupt payload in {fn.__name__} "
                f"({type(e).__name__}: {e})"
            ) from e

    return wrapper


@_total_on_corrupt
def decode_png_bytes(payload: bytes) -> dict:
    """Real PNG decode, dependency-free: chunk walk with CRC verification,
    IHDR parse, IDAT concatenation, stdlib ``zlib`` inflate, then per-row
    unfiltering of all five PNG filter types (None/Sub/Up/Average/Paeth,
    RFC 2083 §6) for 8-bit RGB (color type 2), PALETTE images (color
    type 3, bit depths 1/2/4/8, MSB-first sub-byte unpacking + PLTE
    lookup), GRAYSCALE images (color type 0, bit depths 1/2/4/8,
    sub-byte samples presented at 8-bit via bit replication), 16-BIT
    grayscale and RGB (color types 0/2 at depth 16 — the
    scientific/medical shape; big-endian sample pairs, filtering at
    bpp = 2·channels, vals carry the FULL 0..65535 sample values, never
    narrowed), ALPHA images (color types 6 RGBA and 4 gray+alpha at
    depths 8/16 — the dominant web/screenshot PNG shape), tRNS
    TRANSPARENCY (palette alpha table with the implicit-255 tail,
    gray/RGB key color matched at the RAW sample depth), and ADAM7
    INTERLACED streams of any of those (seven independently-filtered
    sub-images scattered back onto the grid).

    Alpha PRESENTATION (pinned contract): the alpha channel is KEPT as
    the trailing per-pixel channel in ``vals`` — stored samples for
    color types 4/6, the expanded 0-or-max per-pixel value for tRNS
    (max = 65535 at depth 16, else 255) — never silently composited
    onto a background; compositing is a presentation policy that
    belongs to the consumer.  With baseline AND progressive JPEG real
    too (operators/jpeg.py), the remaining compressed seams are the
    lossy audio/video codec classes."""
    import numpy as np
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise NotImplementedError("not a PNG payload")
    pos, ihdr, idat, plte, trns = 8, None, b"", None, None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        if pos + 12 + length > len(payload):
            # declared chunk overruns the payload — corrupt file contract
            # is ValueError, not a low-level struct.error from the CRC read
            raise ValueError(f"PNG truncated chunk {tag!r}")
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if crc != zlib.crc32(tag + data) & 0xFFFFFFFF:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"PLTE":
            plte = data
        elif tag == b"tRNS":
            trns = data
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if comp or filt or interlace not in (0, 1):
        raise NotImplementedError(
            f"PNG compression={comp} filter={filt} interlace={interlace}"
        )
    # same corrupt-header class as the BMP/TIFF/GIF caps: IHDR dims
    # drive every downstream allocation (recon grids, Adam7 scatter)
    _check_pixel_budget(w * h, "PNG IHDR")
    if ctype in (2, 4, 6) and depth in (8, 16):
        # multi-byte-pixel types: filter distance spans a whole pixel —
        # channels × 1 byte at depth 8, channels × 2 (big-endian sample
        # pairs) at depth 16.  RGB=3 / gray+alpha=2 / RGBA=4 channels.
        bpp = {2: 3, 4: 2, 6: 4}[ctype] * (depth // 8)
    elif ctype == 0 and depth in (1, 2, 4, 8, 16):
        # grayscale: one sample per pixel; sub-byte depths bit-packed
        # like palette indices and presented at 8-bit via the standard
        # bit-replication scale (255/(2^d−1) is an integer for d=1/2/4);
        # depth 16 filters at bpp=2 and presents full 16-bit values
        bpp = 2 if depth == 16 else 1
    elif ctype == 3 and depth in (1, 2, 4, 8):
        # palette (indexed) image: scanlines carry bit-packed palette
        # indices (MSB-first within each byte, rows padded to whole
        # bytes); PNG filtering operates on the PACKED bytes with bpp=1
        if plte is None:
            raise ValueError("PNG palette image missing PLTE")
        if not plte or len(plte) % 3:
            raise ValueError("PNG PLTE length not a multiple of 3")
        bpp = 1
    else:
        raise NotImplementedError(
            f"PNG depth={depth} color_type={ctype}"
        )
    pal = (
        np.frombuffer(plte, np.uint8).astype(np.int64).reshape(-1, 3)
        if ctype == 3
        else None
    )
    # tRNS validation (PNG spec 11.3.2): a palette alpha table (≤ one
    # entry per PLTE entry — missing tail entries are implicitly opaque
    # 255), a single 2-byte gray key, or a 6-byte RGB key; FORBIDDEN for
    # the alpha color types 4/6 (they already carry a full channel).
    # Key samples are stored as 16-bit fields at every depth and match
    # against the RAW (pre-bit-replication) sample values.
    tval, pal_alpha = None, None
    if trns is not None:
        if ctype in (4, 6):
            raise ValueError("PNG tRNS forbidden for alpha color types")
        if ctype == 0:
            if len(trns) != 2:
                raise ValueError("PNG gray tRNS must be 2 bytes")
            tval = int.from_bytes(trns, "big")
        elif ctype == 2:
            if len(trns) != 6:
                raise ValueError("PNG RGB tRNS must be 6 bytes")
            tval = tuple(
                int.from_bytes(trns[k : k + 2], "big") for k in (0, 2, 4)
            )
        else:  # ctype == 3
            if len(trns) > pal.shape[0]:
                raise ValueError("PNG tRNS longer than palette")
            pal_alpha = np.full(pal.shape[0], 255, dtype=np.int64)
            pal_alpha[: len(trns)] = np.frombuffer(trns, np.uint8)
    alpha_max = 65535 if depth == 16 else 255
    # bounded inflate: deflate expands up to ~1032×, so a small crafted
    # IDAT could otherwise demand gigabytes independent of the (already
    # budget-capped) IHDR dims.  Geometry upper bound: pixel bytes
    # (w·h·bpp) + one filter byte per scanline row — Adam7 splits the
    # image into 7 independently-filtered passes whose row count sums
    # to ≤ 2h+7 with ≤ bpp per-row ceil padding each.
    max_raw = w * h * bpp + (bpp + 1) * (2 * h + 8)
    dco = zlib.decompressobj()
    raw = dco.decompress(idat, max_raw + 1)
    if len(raw) > max_raw:
        raise ValueError("PNG inflate output overruns the geometry")
    raw += dco.flush()
    if not dco.eof:
        # plain zlib.decompress raised on truncation; decompressobj
        # returns partial output instead — keep the strict contract
        raise ValueError("PNG IDAT deflate stream truncated")

    def unfilter(offset: int, n_rows: int, stride: int):
        """Unfilter one scanline run (a whole image, or one Adam7 pass —
        each pass filters independently, its first row against zeros)."""
        recon = np.zeros((n_rows, stride), dtype=np.int64)
        for r in range(n_rows):
            base = offset + r * (stride + 1)
            if base + stride + 1 > len(raw):
                raise ValueError("PNG scanline data length mismatch")
            ft = raw[base]
            line = np.frombuffer(raw, np.uint8, stride, base + 1).astype(
                np.int64
            )
            prev = recon[r - 1] if r else np.zeros(stride, dtype=np.int64)
            if ft == 0:
                cur = line
            elif ft == 1:
                # Sub chain is a prefix sum over each channel column: mod
                # once at the end (addition commutes with mod; int64
                # can't overflow)
                cur = (
                    np.cumsum(line.reshape(-1, bpp), axis=0).reshape(-1)
                    % 256
                )
            elif ft == 2:
                cur = (line + prev) % 256
            elif ft in (3, 4):
                cur = np.zeros(stride, dtype=np.int64)
                for x in range(stride):
                    a = int(cur[x - bpp]) if x >= bpp else 0
                    b = int(prev[x])
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    pred = (
                        (a + b) // 2 if ft == 3 else _paeth_predict(a, b, c)
                    )
                    cur[x] = (int(line[x]) + pred) % 256
            else:
                raise NotImplementedError(f"PNG filter type {ft}")
            recon[r] = cur
        return recon, n_rows * (stride + 1)

    def resolve(recon, pw: int):
        """Reconstructed scanline bytes → (n_rows, pw, ch_out) pixels;
        alpha (when present) is the trailing channel — stored samples
        for color types 4/6, tRNS-expanded 0-or-max otherwise."""
        if ctype in (2, 4, 6) or (ctype == 0 and depth == 16):
            nch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
            if depth == 16:
                s = recon.reshape(recon.shape[0], pw, nch, 2)
                px = s[..., 0] * 256 + s[..., 1]  # big-endian pairs
            else:
                px = recon.reshape(recon.shape[0], pw, nch)
            if tval is None:
                return px
            if ctype == 2:
                match = (px == np.array(tval, dtype=np.int64)).all(axis=2)
            else:  # 16-bit gray key
                match = px[..., 0] == tval
            alpha = np.where(match, 0, alpha_max)
            return np.concatenate([px, alpha[..., None]], axis=2)
        if depth == 8:
            idx = recon
        else:
            bits = np.unpackbits(recon.astype(np.uint8), axis=1)
            idx = (
                bits.reshape(recon.shape[0], -1, depth)
                .astype(np.int64)
                .dot(1 << np.arange(depth - 1, -1, -1, dtype=np.int64))
            )
        idx = idx[:, :pw]  # row padding bits are not pixels
        if ctype == 0:
            v = (idx * (255 // ((1 << depth) - 1)))[:, :, None]
            if tval is None:
                return v
            # gray key matches the RAW sample (the index scale at
            # sub-byte depths), alpha presented at the 8-bit scale
            alpha = np.where(idx == tval, 0, 255)
            return np.concatenate([v, alpha[:, :, None]], axis=2)
        if idx.max(initial=0) >= pal.shape[0]:
            raise ValueError("PNG palette index out of range")
        rgb = pal[idx]
        if pal_alpha is None:
            return rgb
        return np.concatenate([rgb, pal_alpha[idx][..., None]], axis=2)

    def pass_stride(pw: int) -> int:
        if ctype in (2, 4, 6):
            return pw * {2: 3, 4: 2, 6: 4}[ctype] * (depth // 8)
        return pw * 2 if depth == 16 else (pw * depth + 7) // 8

    if interlace == 0:
        recon, used = unfilter(0, h, pass_stride(w))
        if used != len(raw):
            raise ValueError("PNG scanline data length mismatch")
        return {"width": w, "height": h, "vals": resolve(recon, w).reshape(-1)}
    # Adam7: seven independently-filtered sub-images, scattered back onto
    # the pixel grid; empty passes (sub-image with zero rows or columns)
    # transmit nothing
    ch_out = {0: 1, 2: 3, 3: 3, 4: 2, 6: 4}[ctype] + (
        1 if trns is not None else 0
    )
    out = np.zeros((h, w, ch_out), dtype=np.int64)
    offset = 0
    for sr, sc, ri, ci in _ADAM7:
        pw = (w - sc + ci - 1) // ci
        ph = (h - sr + ri - 1) // ri
        if pw <= 0 or ph <= 0:
            continue
        recon, used = unfilter(offset, ph, pass_stride(pw))
        offset += used
        out[sr::ri, sc::ci] = resolve(recon, pw)
    if offset != len(raw):
        raise ValueError("PNG scanline data length mismatch")
    return {"width": w, "height": h, "vals": out.reshape(-1)}


def encode_wav(asset_id: int) -> bytes:
    """Mono 16-bit PCM WAV: s_i = ((31*id + 17*i) mod 65536) - 32768."""
    import numpy as np

    n = 64 + asset_id % 101
    rate = 8000 + (asset_id % 5) * 1000
    i = np.arange(n, dtype=np.int64)
    samples = (((31 * asset_id + 17 * i) % 65536) - 32768).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16)
    return (
        struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + 8 + len(data), b"WAVE")
        + fmt
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


def encode_wav_float(asset_id: int) -> bytes:
    """Mono IEEE-float WAV (fmt tag 3) carrying the SAME deterministic
    sample series as :func:`encode_wav`, scaled by 1/2¹⁵ — float32 for
    even ids, float64 for odd, so both widths roundtrip bit-exactly to
    the integer series (s/2¹⁵ is exactly representable: a 16-bit
    significand fits both formats)."""
    import numpy as np

    n = 64 + asset_id % 101
    rate = 8000 + (asset_id % 5) * 1000
    i = np.arange(n, dtype=np.int64)
    samples = ((31 * asset_id + 17 * i) % 65536) - 32768
    x = samples.astype(np.float64) / WAV_FLOAT_SCALE
    bits = 32 if asset_id % 2 == 0 else 64
    data = x.astype("<f4" if bits == 32 else "<f8").tobytes()
    fmt = struct.pack(
        "<4sIHHIIHH",
        b"fmt ",
        16,
        3,
        1,
        rate,
        rate * (bits // 8),
        bits // 8,
        bits,
    )
    return (
        struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + 8 + len(data), b"WAVE")
        + fmt
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


def _riff_wav(fmt_chunk: bytes, data: bytes, fact_n: int | None = None) -> bytes:
    """Assemble a RIFF/WAVE container from a packed fmt chunk body, raw
    data bytes, and an optional ``fact`` per-channel sample count (spec-
    mandatory for the compressed formats)."""
    fmt = struct.pack("<4sI", b"fmt ", len(fmt_chunk)) + fmt_chunk
    fact = (
        struct.pack("<4sII", b"fact", 4, fact_n) if fact_n is not None else b""
    )
    body = fmt + fact + struct.pack("<4sI", b"data", len(data)) + data
    return struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body


def encode_wav_ulaw(asset_id: int) -> bytes:
    """Mono G.711 µ-law WAV (fmt tag 7): byte_k = (13·id + 7·k) mod 256 —
    the BYTES are the deterministic primitive, so an oracle replays the
    decoded values by applying the public µ-law expansion formula."""
    import numpy as np

    n = 64 + asset_id % 101
    rate = 8000 + (asset_id % 5) * 1000
    data = ((13 * asset_id + 7 * np.arange(n)) % 256).astype(np.uint8)
    fmt = struct.pack("<HHIIHHH", 7, 1, rate, rate, 1, 8, 0)
    return _riff_wav(fmt, data.tobytes(), n)


def encode_wav_alaw(asset_id: int) -> bytes:
    """Mono G.711 A-law WAV (fmt tag 6): byte_k = (11·id + 5·k) mod 256."""
    import numpy as np

    n = 64 + asset_id % 101
    rate = 8000 + (asset_id % 5) * 1000
    data = ((11 * asset_id + 5 * np.arange(n)) % 256).astype(np.uint8)
    fmt = struct.pack("<HHIIHHH", 6, 1, rate, rate, 1, 8, 0)
    return _riff_wav(fmt, data.tobytes(), n)


def encode_wav_adpcm(asset_id: int) -> bytes:
    """Mono IMA/DVI ADPCM WAV (fmt tag 17), one block: header sample
    s₀ = ((31·id) mod 65536) − 32768 with step index id mod 89, then
    n−1 deterministic 4-bit codes nib_k = (7·id + 3·k) mod 16 packed low
    nibble first (odd counts pad one zero nibble; the ``fact`` chunk
    pins the true sample count n = 64 + id mod 101 so the pad trims on
    decode).  The decoded series is the IMA recurrence over those codes
    — replayable by a recursive oracle, not a closed form."""
    import numpy as np

    n = 64 + asset_id % 101
    rate = 8000 + (asset_id % 5) * 1000
    pred0 = ((31 * asset_id) % 65536) - 32768
    idx0 = asset_id % 89
    nibs = (7 * asset_id + 3 * np.arange(n - 1)) % 16
    if len(nibs) % 2:
        nibs = np.append(nibs, 0)
    codes = (nibs[0::2] | (nibs[1::2] << 4)).astype(np.uint8)
    block = struct.pack("<hBB", pred0, idx0, 0) + codes.tobytes()
    spb = n  # samples per block (header sample + one per code nibble)
    fmt = struct.pack(
        "<HHIIHHHH", 17, 1, rate, rate * len(block) // spb, len(block), 4,
        2, spb,
    )
    return _riff_wav(fmt, block, n)


def encode_wav_adpcm_stereo(asset_id: int) -> bytes:
    """STEREO IMA/DVI ADPCM WAV (fmt tag 17, channels=2), one block in
    the word-interleaved layout: two consecutive 4-byte channel headers
    (L: s₀=((31·id) mod 65536)−32768, idx=id mod 89; R: s₀=((17·id) mod
    65536)−32768, idx=(7·id) mod 89), then 4-byte code words alternating
    L/R, each word carrying 8 of its channel's codes (L codes
    (7·id+3·k) mod 16, R codes (5·id+11·k) mod 16, zero-padded to full
    words; ``fact`` = n = 64 + id mod 101 trims the pads per channel)."""
    import numpy as np

    n = 64 + asset_id % 101
    rate = 8000 + (asset_id % 5) * 1000
    chans = (
        (((31 * asset_id) % 65536) - 32768, asset_id % 89, 7, 3),
        (((17 * asset_id) % 65536) - 32768, (7 * asset_id) % 89, 5, 11),
    )
    pad = (-(n - 1)) % 8  # full 4-byte words per channel
    words = []
    headers = b""
    for pred0, idx0, m, s in chans:
        nibs = (m * asset_id + s * np.arange(n - 1)) % 16
        nibs = np.append(nibs, np.zeros(pad, dtype=nibs.dtype))
        codes = (nibs[0::2] | (nibs[1::2] << 4)).astype(np.uint8)
        words.append(codes.reshape(-1, 4))
        headers += struct.pack("<hBB", pred0, idx0, 0)
    inter = np.stack(words, axis=1).reshape(-1)  # L-word, R-word, ...
    block = headers + inter.tobytes()
    spb = 1 + (n - 1 + pad)
    fmt = struct.pack(
        "<HHIIHHHH", 17, 2, rate, rate * len(block) // spb, len(block), 4,
        2, spb,
    )
    return _riff_wav(fmt, block, n)


def encode_wav_ms_adpcm(asset_id: int) -> bytes:
    """Mono Microsoft ADPCM WAV (fmt tag 2), one block: predictor index
    id mod 7 into the standard 7-pair coefficient table (shipped in the
    fmt chunk per spec), idelta = 16 + (13·id) mod 1000, header samples
    sample2 = ((17·id) mod 65536) − 32768 (emitted FIRST — it is the
    older tap) and sample1 = ((29·id) mod 65536) − 32768, then n−2
    deterministic codes :data:`_MS_NIB_MAP`[(9·id + 5·j) mod 8] packed
    HIGH nibble first (odd counts pad one zero nibble; ``fact`` pins
    the true n = 64 + id mod 101).  The map keeps the stream on
    low-adaptation codes so delta hovers near its 16 floor and the
    TWO-TAP PREDICTOR drives the waveform (an unmapped 0–15 sweep
    grows delta geometrically and rail-saturates ~80% of samples —
    exact but signal-free).  The decoded series is the MS recurrence
    over those codes — replayed by a recursive oracle."""
    import numpy as np

    n = 64 + asset_id % 101
    rate = 8000 + (asset_id % 5) * 1000
    bpred = asset_id % 7
    idelta = 16 + (13 * asset_id) % 1000
    s2 = ((17 * asset_id) % 65536) - 32768
    s1 = ((29 * asset_id) % 65536) - 32768
    nibs = np.asarray(_MS_NIB_MAP, np.int64)[
        (9 * asset_id + 5 * np.arange(n - 2)) % 8
    ]
    if len(nibs) % 2:
        nibs = np.append(nibs, 0)
    codes = ((nibs[0::2] << 4) | nibs[1::2]).astype(np.uint8)
    block = struct.pack("<Bhhh", bpred, idelta, s1, s2) + codes.tobytes()
    spb = 2 + 2 * len(codes)  # full nibble capacity; fact trims the pad
    fmt = struct.pack(
        "<HHIIHHHHH", 2, 1, rate, rate * len(block) // spb, len(block), 4,
        32, spb, len(_MS_COEFS),
    ) + b"".join(struct.pack("<hh", c1, c2) for c1, c2 in _MS_COEFS)
    return _riff_wav(fmt, block, n)


def encode_wav_ms_adpcm_stereo(asset_id: int) -> bytes:
    """STEREO MS ADPCM WAV (fmt tag 2, channels=2), one block in the
    per-nibble channel interleave: headers grouped field-by-field
    (both predictor indexes, both ideltas, both sample1s, both
    sample2s), then each code byte carries one L code (high nibble) and
    one R code (low nibble).  L replays the mono series; R uses its own
    deterministic parameters (predictor (3·id) mod 7, idelta
    16 + (7·id) mod 1000, taps 23·id/19·id, codes
    _MS_NIB_MAP[(11·id + 3·j) mod 8]); ``fact`` = n trims nothing here
    (n−2 codes per channel fill exactly n−2 bytes)."""
    import numpy as np

    n = 64 + asset_id % 101
    rate = 8000 + (asset_id % 5) * 1000
    chans = (
        (asset_id % 7, 16 + (13 * asset_id) % 1000,
         ((29 * asset_id) % 65536) - 32768,
         ((17 * asset_id) % 65536) - 32768, 9, 5),
        ((3 * asset_id) % 7, 16 + (7 * asset_id) % 1000,
         ((19 * asset_id) % 65536) - 32768,
         ((23 * asset_id) % 65536) - 32768, 11, 3),
    )
    nmap = np.asarray(_MS_NIB_MAP, np.int64)
    nibs = [
        nmap[(m * asset_id + s * np.arange(n - 2)) % 8]
        for _, _, _, _, m, s in chans
    ]
    codes = ((nibs[0] << 4) | nibs[1]).astype(np.uint8)
    hdr = (
        bytes([c[0] for c in chans])
        + struct.pack("<2h", *[c[1] for c in chans])
        + struct.pack("<2h", *[c[2] for c in chans])
        + struct.pack("<2h", *[c[3] for c in chans])
    )
    block = hdr + codes.tobytes()
    spb = 2 + len(codes)  # per channel
    fmt = struct.pack(
        "<HHIIHHHHH", 2, 2, rate, rate * len(block) // spb, len(block), 4,
        32, spb, len(_MS_COEFS),
    ) + b"".join(struct.pack("<hh", c1, c2) for c1, c2 in _MS_COEFS)
    return _riff_wav(fmt, block, n)


def encode_wav_extensible(asset_id: int) -> bytes:
    """WAVE_FORMAT_EXTENSIBLE (fmt tag 0xFFFE) wrapping the standard
    deterministic series — PCM16 SubFormat for even ids, IEEE-float32
    SubFormat for odd — so EXTENSIBLE files decode identically to their
    plain-tag twins."""
    import numpy as np

    n = 64 + asset_id % 101
    rate = 8000 + (asset_id % 5) * 1000
    samples = ((31 * asset_id + 17 * np.arange(n, dtype=np.int64)) % 65536
               ) - 32768
    if asset_id % 2 == 0:
        sub, bits = 1, 16
        data = samples.astype("<i2").tobytes()
    else:
        sub, bits = 3, 32
        data = (samples.astype(np.float64) / WAV_FLOAT_SCALE).astype(
            "<f4"
        ).tobytes()
    guid = struct.pack("<H", sub) + _WAVE_EXT_GUID_TAIL
    fmt = struct.pack(
        "<HHIIHHHHI", 0xFFFE, 1, rate, rate * bits // 8, bits // 8, bits,
        22, bits, 0x4,
    ) + guid
    return _riff_wav(fmt, data)


def _tiff_byte_order(payload: bytes) -> str:
    if payload[:4] == b"II*\x00":
        return "<"
    if payload[:4] == b"MM\x00*":
        return ">"
    raise NotImplementedError("not a TIFF payload")


@_total_on_corrupt
def decode_tiff_bytes(payload: bytes) -> dict:
    """Parse a single-page TIFF (both byte orders) into ``{width,
    height, vals}``: header magic, IFD walk, SHORT/LONG tag reads with
    the inline-vs-offset rule, multi-strip or TILED assembly in order,
    per-segment decompression for PackBits (32773), LZW (5, MSB-first
    EarlyChange) and Deflate (8/32946), horizontal predictor 2
    un-differencing, 8-bit grayscale (photometric 0/1; WhiteIsZero
    decodes INVERTED to intensity), and SampleFormat 2/3 (r15): signed
    int 16/32 via the two's-complement mod-2^depth word ring, IEEE
    float 32/64 mapped onto the 16.16 grid
    (:data:`TIFF_FLOAT_SCALE`); CCITT fax 2/3/4 on bilevel pages,
    palette (photometric 3), CMYK (5), planar strips, and both JPEG
    flavors — new-style strips (compression 7, r15) and old-style
    JPEGInterchangeFormat (compression 6, r16).  Honest boundaries
    raise ``NotImplementedError``: the per-strip old-JPEG table
    assembly (JPEGProc without tag 513), Lab photometrics, depth-4
    grayscale, tiled planar/bilevel/palette, predictor 3 off float,
    WhiteIsZero on signed/float, mixed per-channel formats, and
    non-default orientation; multi-IFD files keep the stills
    contract's seam here — :func:`decode_tiff_pages` walks the full
    page chain; corrupt shapes raise ``ValueError``."""
    e = _tiff_byte_order(payload)
    (ifd_off,) = struct.unpack_from(f"{e}I", payload, 4)
    page, next_ifd = _decode_tiff_ifd(payload, e, ifd_off)
    if next_ifd:
        raise NotImplementedError("multi-page TIFF")
    return page


@_total_on_corrupt
def decode_tiff_pages(payload: bytes) -> dict:
    """Walk a multi-page TIFF's full IFD chain (r14 — the
    scanned-document corpus shape) into ``{width, height, frames}``:
    one decoded value array per page, each page independently
    stripped/tiled/compressed/predicted.  The contract reports ONE
    (width, height) at the top level and consumers stamp it on every
    frame row, so pages that disagree on dimensions — spec-valid TIFF,
    but unrepresentable in that shape — raise ``NotImplementedError``
    (dead-letter) rather than silently mislabeling pages 2+ with page
    1's dims (r14 ADVICE).  Chain cycles and out-of-bounds IFD offsets
    dead-letter as corrupt."""
    e = _tiff_byte_order(payload)
    (ifd_off,) = struct.unpack_from(f"{e}I", payload, 4)
    frames, dims, seen = [], [], set()
    total_px = 0
    while ifd_off:
        if ifd_off in seen:
            raise ValueError("TIFF IFD chain cycle")
        seen.add(ifd_off)
        page, ifd_off = _decode_tiff_ifd(payload, e, ifd_off)
        frames.append(page["vals"])
        dims.append((page["width"], page["height"]))
        if dims[-1] != dims[0]:
            raise NotImplementedError(
                f"TIFF pages disagree on dimensions ({dims[0][0]}x"
                f"{dims[0][1]} vs {dims[-1][0]}x{dims[-1][1]}): the "
                "one-(width,height)-per-asset frames contract cannot "
                "represent mixed-dims chains"
            )
        # retained-pages budget: each page is individually capped by
        # _decode_tiff_ifd, but a long IFD chain accumulates one value
        # array per page — cap the SUM too (≤ one-page overshoot)
        total_px += page["width"] * page["height"]
        _check_pixel_budget(
            total_px, "TIFF IFD chain total", FRAME_PIXEL_BUDGET
        )
    if not frames:
        raise ValueError("TIFF with no pages")
    return {"width": dims[0][0], "height": dims[0][1], "frames": frames}


def _decode_tiff_ifd(payload: bytes, e: str, ifd_off: int) -> tuple:
    """Decode ONE IFD (page) at ``ifd_off``; returns ``({width, height,
    vals}, next_ifd_offset)``."""
    import numpy as np

    if ifd_off + 2 > len(payload):
        raise ValueError("TIFF IFD offset past the payload")
    (n_entries,) = struct.unpack_from(f"{e}H", payload, ifd_off)
    if ifd_off + 2 + 12 * n_entries + 4 > len(payload):
        raise ValueError("TIFF IFD truncated")
    tags: dict = {}
    for i in range(n_entries):
        tag, typ, count = struct.unpack_from(
            f"{e}HHI", payload, ifd_off + 2 + 12 * i
        )
        vpos = ifd_off + 2 + 12 * i + 8
        if typ == 3:  # SHORT: 2 bytes each
            if count <= 2:
                vals = struct.unpack_from(f"{e}{count}H", payload, vpos)
            else:
                (off,) = struct.unpack_from(f"{e}I", payload, vpos)
                if off + 2 * count > len(payload):
                    raise ValueError(f"TIFF tag {tag} values truncated")
                vals = struct.unpack_from(f"{e}{count}H", payload, off)
        elif typ == 4:  # LONG: 4 bytes each
            if count <= 1:
                vals = struct.unpack_from(f"{e}I", payload, vpos)
            else:
                (off,) = struct.unpack_from(f"{e}I", payload, vpos)
                if off + 4 * count > len(payload):
                    raise ValueError(f"TIFF tag {tag} values truncated")
                vals = struct.unpack_from(f"{e}{count}I", payload, off)
        else:
            continue  # RATIONAL/ASCII metadata: not needed for pixels
        tags[tag] = vals
    (next_ifd,) = struct.unpack_from(
        f"{e}I", payload, ifd_off + 2 + 12 * n_entries
    )
    comp = tags.get(259, (1,))[0]
    if comp not in (1, 32773, 5, 8, 32946, 2, 3, 4, 6, 7):
        # 32946 is the pre-standard Deflate code — same codec as 8;
        # 2 = CCITT Modified Huffman, 3 = Group 3 1D-with-EOLs, and
        # 4 = Group 4 decode for real since r15 on bilevel pages;
        # 7 = new-style JPEG strips via the from-scratch JPEG decoder;
        # 6 = old-style JPEG via JPEGInterchangeFormat (r16)
        raise NotImplementedError(f"TIFF compression {comp}")
    predictor = tags.get(317, (1,))[0]
    if predictor not in (1, 2, 3):
        raise NotImplementedError(f"TIFF predictor {predictor}")
    photo = tags.get(262, (None,))[0]
    if photo == 6 and comp not in (6, 7):
        # YCbCr sample storage outside the JPEG codecs (subsampled raw
        # chroma planes) stays a seam
        raise NotImplementedError("TIFF YCbCr photometric without JPEG")
    if photo not in (0, 1, 2, 3, 5, 6):
        # the exotic spaces (CIELAB/ICCLAB/ITULAB) stay seams
        raise NotImplementedError(f"TIFF photometric {photo}")
    if photo == 5 and tuple(tags.get(332, (1,))) != (1,):
        # InkSet other than standard CMYK
        raise NotImplementedError(f"TIFF ink set {tags.get(332)}")
    if tags.get(274, (1,))[0] != 1:
        raise NotImplementedError("TIFF non-default orientation")
    planar = tags.get(284, (1,))[0]
    if planar not in (1, 2):
        # ignoring this tag would silently decode plane-separated
        # (RRR..GGG..BBB) strips as chunky garbage; planar=2 strips
        # decode for real since r15, tiled planar stays a seam
        raise NotImplementedError(f"TIFF planar configuration {planar}")
    bits = tuple(tags.get(258, ()))
    # CMYK (photometric 5, r15) carries FOUR ink samples per pixel;
    # decoded vals KEEP the stored ink values as the trailing-channel
    # convention (like PNG alpha) — RGB conversion is presentation
    # policy that belongs to the consumer
    spp = {2: 3, 6: 3, 5: 4}.get(photo, 1)
    # SampleFormat (tag 339, r15): 1 = unsigned int (default), 2 =
    # signed int, 3 = IEEE float — the scientific/geo-TIFF shapes.
    # 4 (undefined) and 5/6 (complex) stay honest seams; per-channel
    # mixed formats too.
    sfv = tuple(tags.get(339, ()))
    if sfv and len(set(sfv)) != 1:
        raise NotImplementedError(f"TIFF mixed sample formats {sfv}")
    sfmt = sfv[0] if sfv else 1
    if sfmt not in (1, 2, 3):
        raise NotImplementedError(f"TIFF sample format {sfmt}")
    # count-1 BitsPerSample=8 with spp=3 is a common valid writer shape;
    # grayscale with NO BitsPerSample tag defaults to 1 (BILEVEL —
    # decoded for real since r15, including the CCITT fax
    # compressions).  16-bit samples (r14) decode with the file's byte
    # order; mixed per-channel depths stay a seam.  Depths by format:
    # unsigned 1/8/16, signed 16/32, float 32/64.
    if not bits and photo in (0, 1):
        bits = (1,)  # TIFF 6.0 §4: bilevel default when the tag is absent
    ok_depths = {1: (1, 4, 8, 16), 2: (16, 32), 3: (32, 64)}[sfmt]
    if (
        tags.get(277, (spp,))[0] != spp
        or not bits
        or any(b != bits[0] for b in bits)
        or bits[0] not in ok_depths
        or len(bits) not in (1, spp)
    ):
        raise NotImplementedError(
            f"TIFF photometric {photo} spp={tags.get(277)} "
            f"bits={tags.get(258)} sample format {sfmt}"
        )
    depth = bits[0]
    bstep = depth // 8
    if depth == 4 and photo != 3:
        # 4-bit grayscale stays a seam; 4-bit is real only as palette
        # indices (r15)
        raise NotImplementedError(f"TIFF depth 4 with photometric {photo}")
    if photo == 3 and (depth not in (4, 8) or sfmt != 1):
        raise NotImplementedError(
            f"TIFF palette with depth {depth} sample format {sfmt}"
        )
    if comp in (2, 3, 4) and depth != 1:
        # the fax codecs are defined on bilevel pels only; without this
        # guard an 8-bit page tagged fax would hit the byte codecs
        raise NotImplementedError(
            f"TIFF fax compression {comp} on {depth}-bit samples"
        )
    if sfmt != 1 and photo == 0:
        # WhiteIsZero's full-range inversion is only defined on the
        # unsigned grid
        raise NotImplementedError(
            f"TIFF WhiteIsZero with sample format {sfmt}"
        )
    if sfmt == 3 and predictor == 2:
        # predictor 2 is integer horizontal differencing; floats use 3
        raise NotImplementedError(
            "TIFF integer predictor 2 on floating-point samples"
        )
    if predictor == 3 and sfmt != 3:
        # TechNote-3 byte-shuffle differencing is float-only
        raise NotImplementedError(
            f"TIFF floating-point predictor on sample format {sfmt}"
        )
    if predictor == 3 and planar == 2 and spp > 1:
        raise NotImplementedError(
            "TIFF floating-point predictor with planar configuration"
        )
    if 256 not in tags or 257 not in tags:
        raise ValueError("TIFF missing dimensions")
    w, h = tags[256][0], tags[257][0]
    if w == 0 or h == 0:
        raise ValueError(f"TIFF zero dimensions {w}x{h}")
    # before the strip expected-size targets and the tile canvas below
    _check_pixel_budget(w * h, "TIFF page header")
    if comp == 6:  # OLD-STYLE JPEG (TIFF 6.0 §22, deprecated by
        # TechNote 2; r16): the only common real-corpus shape is a
        # COMPLETE interchange stream referenced by
        # JPEGInterchangeFormat (513) / JPEGInterchangeFormatLength
        # (514) — decode it whole via the from-scratch JPEG decoder,
        # ignoring the (frequently broken in legacy writers) strip
        # tags, per TechNote 2's repair guidance.  The per-strip
        # table-assembly variant (JPEGProc/JPEGQTables/JPEGDCTables/
        # JPEGACTables without 513) stays an honest seam: TechNote 2
        # documents it as unimplementable-as-specified.
        if photo != 6:
            raise NotImplementedError(
                f"TIFF old-style JPEG with photometric {photo}"
            )
        if depth != 8:
            raise NotImplementedError(f"TIFF old-style JPEG depth {depth}")
        if 322 in tags or 323 in tags:
            raise NotImplementedError("tiled old-style JPEG TIFF")
        if 513 not in tags or 514 not in tags:
            raise NotImplementedError(
                "TIFF old-style JPEG without JPEGInterchangeFormat "
                "(per-strip JPEGProc table assembly)"
            )
        off, cnt = tags[513][0], tags[514][0]
        if off + cnt > len(payload):
            raise ValueError("TIFF JPEG interchange stream past the payload")
        from stockpulse_batch_realtime_etl_spark.operators.jpeg import (
            decode_jpeg_bytes,
        )

        d = decode_jpeg_bytes(payload[off : off + cnt])
        if (d["width"], d["height"]) != (w, h):
            raise ValueError(
                f"TIFF JPEG interchange {d['width']}x{d['height']} != "
                f"{w}x{h}"
            )
        return {
            "width": int(w),
            "height": int(h),
            "vals": np.asarray(d["vals"], np.int64),
        }, next_ifd
    if comp == 7:  # new-style JPEG-in-TIFF (r15): strips ARE JPEG
        # interchange streams — the from-scratch baseline/progressive
        # decoder handles them; the TIFF layer only concatenates rows
        if photo != 6:
            raise NotImplementedError(
                f"TIFF JPEG compression with photometric {photo}"
            )
        if 347 in tags:
            # abbreviated streams sharing tables via JPEGTables
            raise NotImplementedError("TIFF abbreviated JPEG (JPEGTables)")
        if 322 in tags or 323 in tags:
            raise NotImplementedError("tiled JPEG TIFF")
        if depth != 8:
            raise NotImplementedError(f"TIFF JPEG depth {depth}")
        if 273 not in tags or 279 not in tags:
            raise ValueError("TIFF missing strip layout")
        offs, counts = tags[273], tags[279]
        if len(offs) != len(counts):
            raise ValueError("TIFF strip offset/count length mismatch")
        rps = tags.get(278, (h,))[0]
        if rps == 0:
            raise ValueError("TIFF RowsPerStrip 0")
        from stockpulse_batch_realtime_etl_spark.operators.jpeg import (
            decode_jpeg_bytes,
        )

        parts = []
        for s_i, (off, cnt) in enumerate(zip(offs, counts)):
            if off + cnt > len(payload):
                raise ValueError("TIFF strip past the payload")
            strip_rows = min(rps, h - s_i * rps)
            if strip_rows <= 0:
                raise ValueError("TIFF more strips than image rows")
            d = decode_jpeg_bytes(payload[off : off + cnt])
            if (d["width"], d["height"]) != (w, strip_rows):
                raise ValueError(
                    f"TIFF JPEG strip {d['width']}x{d['height']} != "
                    f"{w}x{strip_rows}"
                )
            parts.append(np.asarray(d["vals"], np.int64))
        vals = np.concatenate(parts)
        return {"width": int(w), "height": int(h), "vals": vals}, next_ifd
    fill_order = tags.get(266, (1,))[0]
    if fill_order not in (1, 2):
        raise ValueError(f"TIFF FillOrder {fill_order}")
    if fill_order == 2 and depth != 1:
        # LSB-first fill order is only meaningful for bit-packed data
        raise NotImplementedError("TIFF FillOrder 2 on multi-bit samples")
    if photo == 3:  # PALETTE-COLOR (r15): ColorMap lookup at 16-bit
        # full range — indices at depth 4 (packed nibbles, high first,
        # rows byte-padded) or 8, ColorMap = 3x2^depth SHORTs stored
        # as the full R plane, then G, then B
        if 320 not in tags:
            raise ValueError("TIFF palette image missing ColorMap")
        if predictor != 1:
            raise NotImplementedError("TIFF predictor on palette indices")
        if 322 in tags or 323 in tags:
            raise NotImplementedError("tiled palette TIFF")
        cmap = tags[320]
        n_pal = 1 << depth
        if len(cmap) != 3 * n_pal:
            raise ValueError(
                f"TIFF ColorMap length {len(cmap)} != 3x{n_pal}"
            )
        if 273 not in tags or 279 not in tags:
            raise ValueError("TIFF missing strip layout")
        offs, counts = tags[273], tags[279]
        if len(offs) != len(counts):
            raise ValueError("TIFF strip offset/count length mismatch")
        rps = tags.get(278, (h,))[0]
        if rps == 0:
            raise ValueError("TIFF RowsPerStrip 0")
        stride = (w * depth + 7) // 8
        rows_parts = []
        for s_i, (off, cnt) in enumerate(zip(offs, counts)):
            if off + cnt > len(payload):
                raise ValueError("TIFF strip past the payload")
            chunk = payload[off : off + cnt]
            strip_rows = min(rps, h - s_i * rps)
            if strip_rows <= 0:
                raise ValueError("TIFF more strips than image rows")
            chunk = _tiff_expand(chunk, comp, strip_rows * stride)
            rows = np.frombuffer(chunk, np.uint8).reshape(
                strip_rows, stride
            )
            if depth == 8:
                rows_parts.append(rows[:, :w].astype(np.int64))
            else:  # packed nibbles, high first
                nibs = np.stack(
                    [rows >> 4, rows & 0x0F], axis=2
                ).reshape(strip_rows, -1)
                rows_parts.append(nibs[:, :w].astype(np.int64))
        idx = np.concatenate(rows_parts).reshape(-1)
        if len(idx) != w * h:
            raise ValueError("TIFF palette strip rows != image rows")
        cm = np.asarray(cmap, np.int64).reshape(3, n_pal)
        vals = np.stack(
            [cm[0][idx], cm[1][idx], cm[2][idx]], axis=1
        ).reshape(-1)
        return {"width": int(w), "height": int(h), "vals": vals}, next_ifd
    if depth == 1:  # BILEVEL (r15): packed rows or CCITT fax strips
        if 322 in tags or 323 in tags:
            raise NotImplementedError("tiled bilevel TIFF")
        if predictor != 1:
            raise NotImplementedError("TIFF predictor on bilevel samples")
        if comp in (2, 3, 4) and photo != 0:
            # the fax codecs define white/black runs on the WhiteIsZero
            # grid (TIFF 6.0 §10-11); photometric 1 fax is a seam
            raise NotImplementedError(
                f"CCITT compression with photometric {photo}"
            )
        g3_2d = False
        if comp == 3:
            t4 = tags.get(292, (0,))[0]
            if t4 & 2:
                raise NotImplementedError("TIFF G3 uncompressed mode")
            # bit 0 (MR): per-row tag bits select 1D/2D coding — real
            # since r15; bit 2 (fill bits before EOL) needs no flag:
            # the EOL scanner consumes fill zeros either way
            g3_2d = bool(t4 & 1)
        if comp not in (1, 2, 3, 4):
            # byte codecs over packed bilevel rows are legal TIFF but
            # not a corpus shape — honest boundary
            raise NotImplementedError(f"TIFF bilevel compression {comp}")
        if 273 not in tags or 279 not in tags:
            raise ValueError("TIFF missing strip layout")
        offs, counts = tags[273], tags[279]
        if len(offs) != len(counts):
            raise ValueError("TIFF strip offset/count length mismatch")
        rps = tags.get(278, (h,))[0]
        if rps == 0:
            raise ValueError("TIFF RowsPerStrip 0")
        from stockpulse_batch_realtime_etl_spark.operators import ccitt

        rows_parts = []
        stride = (w + 7) // 8
        for s_i, (off, cnt) in enumerate(zip(offs, counts)):
            if off + cnt > len(payload):
                raise ValueError("TIFF strip past the payload")
            chunk = payload[off : off + cnt]
            if fill_order == 2:  # LSB-first bytes -> canonical MSB-first
                chunk = chunk.translate(_BITREV)
            strip_rows = min(rps, h - s_i * rps)
            if strip_rows <= 0:
                raise ValueError("TIFF more strips than image rows")
            if comp == 2:
                grid = ccitt.mh_decode(chunk, w, strip_rows)
            elif comp == 3:
                grid = ccitt.g3_decode(chunk, w, strip_rows, two_d=g3_2d)
            elif comp == 4:
                grid = ccitt.g4_decode(chunk, w, strip_rows)
            else:  # packed MSB-first bits, rows byte-padded
                if len(chunk) != strip_rows * stride:
                    raise ValueError(
                        f"TIFF bilevel strip {len(chunk)} != "
                        f"{strip_rows}x{stride}B"
                    )
                grid = np.unpackbits(
                    np.frombuffer(chunk, np.uint8).reshape(
                        strip_rows, stride
                    ),
                    axis=1,
                )[:, :w].astype(np.int64)
            rows_parts.append(grid)
        vals = np.concatenate(rows_parts).reshape(-1)
        if len(vals) != w * h:
            raise ValueError("TIFF bilevel strip rows != image rows")
        if photo == 0:
            # WhiteIsZero: stored/fax 1 = black — normalize to intensity
            vals = 1 - vals
        return {"width": int(w), "height": int(h), "vals": vals}, next_ifd
    if 322 in tags or 323 in tags:  # tiled organization (r14)
        if planar == 2 and spp > 1:
            raise NotImplementedError("TIFF tiled planar configuration")
        if not all(t in tags for t in (322, 323, 324, 325)):
            raise ValueError("TIFF tiled file missing tile layout tags")
        tw, tl = tags[322][0], tags[323][0]
        # spec: tile dims are non-zero multiples of 16
        if tw == 0 or tl == 0 or tw % 16 or tl % 16:
            raise ValueError(f"TIFF tile size {tw}x{tl}")
        # a small-image/huge-tile header would otherwise size
        # tile_bytes past the image's own (already-capped) budget
        _check_pixel_budget(tw * tl, "TIFF tile size")
        toffs, tcounts = tags[324], tags[325]
        if len(toffs) != len(tcounts):
            raise ValueError("TIFF tile offset/count length mismatch")
        across, down = -(-w // tw), -(-h // tl)
        if len(toffs) != across * down:
            raise ValueError(
                f"TIFF tile count {len(toffs)} != {across}x{down}"
            )
        tile_bytes = tw * tl * spp * bstep
        sdt = np.dtype(f"{e}{'f' if sfmt == 3 else 'u'}{bstep}")
        img = np.zeros((h, w, spp), np.float64 if sfmt == 3 else np.int64)
        for t_i, (off, cnt) in enumerate(zip(toffs, tcounts)):
            if off + cnt > len(payload):
                raise ValueError("TIFF tile past the payload")
            chunk = _tiff_expand(payload[off : off + cnt], comp, tile_bytes)
            if predictor == 3:  # float byte-shuffle diff, per tile row
                tile = _tiff_fp3_undiff(
                    chunk, tl, tw * spp, bstep
                ).astype(np.float64).reshape(tl, tw, spp)
            else:
                tile = np.frombuffer(chunk, sdt).astype(img.dtype).reshape(
                    tl, tw, spp
                )
            if predictor == 2:
                # un-difference per tile row (padding included — the
                # encoder differenced over it too); integer-only (the
                # float+predictor-2 combination is rejected above)
                tile = np.cumsum(tile, axis=1) % (1 << depth)
            ty, tx = divmod(t_i, across)
            y0, x0 = ty * tl, tx * tw
            # edge tiles carry right/bottom padding out to the tile
            # grid — crop it away
            img[y0 : y0 + tl, x0 : x0 + tw] = tile[
                : min(tl, h - y0), : min(tw, w - x0)
            ]
        vals = img.reshape(-1)
        if sfmt == 3:
            vals = _tiff_float_vals(vals)
        else:
            if photo == 0:
                vals = ((1 << depth) - 1) - vals
            if sfmt == 2:
                # stored unsigned mod-2^depth words → two's complement
                vals = vals - (
                    (vals >= (1 << (depth - 1))).astype(np.int64) << depth
                )
        return {"width": int(w), "height": int(h), "vals": vals}, next_ifd
    if 273 not in tags or 279 not in tags:
        raise ValueError("TIFF missing strip layout")
    offs, counts = tags[273], tags[279]
    if len(offs) != len(counts):
        raise ValueError("TIFF strip offset/count length mismatch")
    rps = tags.get(278, (h,))[0]
    if rps == 0:
        raise ValueError("TIFF RowsPerStrip 0")
    if planar == 2 and spp > 1:
        # plane-separated strips (TIFF 6.0 tag 284=2): all of plane
        # 0's strips, then plane 1's, then plane 2's — each strip
        # carries ONE sample per pixel; predictor runs per plane row
        per_plane = -(-h // rps)
        if len(offs) != spp * per_plane:
            raise ValueError(
                f"TIFF planar strip count {len(offs)} != "
                f"{spp}x{per_plane}"
            )
        planes = []
        for p in range(spp):
            parts = []
            for s_i in range(per_plane):
                off, cnt = offs[p * per_plane + s_i], counts[p * per_plane + s_i]
                if off + cnt > len(payload):
                    raise ValueError("TIFF strip past the payload")
                chunk = payload[off : off + cnt]
                strip_rows = min(rps, h - s_i * rps)
                if comp != 1:
                    chunk = _tiff_expand(chunk, comp, strip_rows * w * bstep)
                parts.append(chunk)
            raw = b"".join(parts)
            if len(raw) != w * h * bstep:
                raise ValueError(
                    f"TIFF planar plane data {len(raw)} != "
                    f"{w}x{h}x{bstep}B"
                )
            if sfmt == 3:
                planes.append(
                    np.frombuffer(raw, f"{e}f{bstep}").astype(np.float64)
                )
                continue
            pv = np.frombuffer(raw, f"{e}u{bstep}").astype(np.int64)
            if predictor == 2:
                pv = (
                    np.cumsum(pv.reshape(h, w), axis=1) % (1 << depth)
                ).reshape(-1)
            planes.append(pv)
        vals = np.stack(planes, axis=1).reshape(-1)
        if sfmt == 3:
            vals = _tiff_float_vals(vals)
        elif sfmt == 2:
            vals = vals - (
                (vals >= (1 << (depth - 1))).astype(np.int64) << depth
            )
        return {"width": int(w), "height": int(h), "vals": vals}, next_ifd
    parts = []
    for s_i, (off, cnt) in enumerate(zip(offs, counts)):
        if off + cnt > len(payload):
            raise ValueError("TIFF strip past the payload")
        chunk = payload[off : off + cnt]
        if comp != 1:
            strip_rows = min(rps, h - s_i * rps)
            if strip_rows <= 0:
                raise ValueError("TIFF more strips than image rows")
            chunk = _tiff_expand(chunk, comp, strip_rows * w * spp * bstep)
        parts.append(chunk)
    raw = b"".join(parts)
    if len(raw) != w * h * spp * bstep:
        raise ValueError(
            f"TIFF strip data {len(raw)} != {w}x{h}x{spp}x{bstep}B"
        )
    if sfmt == 3:
        if predictor == 3:
            x = _tiff_fp3_undiff(raw, h, w * spp, bstep)
        else:
            x = np.frombuffer(raw, f"{e}f{bstep}")
        vals = _tiff_float_vals(x)
        return {"width": int(w), "height": int(h), "vals": vals}, next_ifd
    vals = np.frombuffer(raw, f"{e}u{bstep}").astype(np.int64)
    if predictor == 2:
        # horizontal differencing: un-delta along each row per channel,
        # mod 2^depth (two's-complement words difference in the same
        # mod-2^depth ring, so signed data reuses this path unchanged)
        vals = (
            np.cumsum(vals.reshape(h, w, spp), axis=1) % (1 << depth)
        ).reshape(-1)
    if photo == 0:
        # WhiteIsZero: stored 0 is white — normalize to intensity so
        # downstream stats are luminance-consistent across photometrics
        # (full-range inversion at the sample depth)
        vals = ((1 << depth) - 1) - vals
    if sfmt == 2:
        # stored unsigned mod-2^depth words → two's complement
        vals = vals - ((vals >= (1 << (depth - 1))).astype(np.int64) << depth)
    return {"width": int(w), "height": int(h), "vals": vals}, next_ifd


def _gif_read_subblocks(payload: bytes, pos: int) -> tuple:
    """Collect a GIF sub-block chain (length-prefixed, 0x00-terminated)
    starting at ``pos``; returns (joined bytes, position after the
    terminator).  Truncation anywhere dead-letters."""
    parts = []
    while True:
        if pos >= len(payload):
            raise ValueError("GIF sub-block chain truncated")
        n = payload[pos]
        pos += 1
        if n == 0:
            return b"".join(parts), pos
        if pos + n > len(payload):
            raise ValueError("GIF sub-block truncated")
        parts.append(payload[pos : pos + n])
        pos += n


def _lzw_decode(
    data: bytes, min_code_size: int, limit: int | None = None
) -> list:
    """GIF LZW decompression: LSB-first variable-width codes, CLEAR /
    EOI handling, KwKwK special case, width stepping at next == 2^width,
    table frozen at the 4096-entry ceiling until the next CLEAR.
    Returns the index sequence; any malformed code dead-letters.

    ``limit`` bounds the decoded output (callers pass the frame's pixel
    count plus one max-entry of slack): LZW expands up to ~4096× the
    compressed stream, so without the in-loop cap a small crafted
    payload could demand gigabytes BEFORE the caller's post-hoc length
    check ever runs — same corrupt-header-allocation class as
    ``_check_pixel_budget``."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    roots = {i: bytes([i]) for i in range(clear)}
    nbytes = len(data)
    bitpos = 0
    width = min_code_size + 1
    table = dict(roots)
    next_code = eoi + 1
    prev = None
    out = bytearray()
    while True:
        byte0 = bitpos >> 3
        if byte0 + ((bitpos & 7) + width + 7) // 8 > nbytes:
            raise ValueError("GIF LZW stream truncated (no EOI)")
        code = (
            int.from_bytes(data[byte0 : byte0 + 3], "little")
            >> (bitpos & 7)
        ) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = dict(roots)
            next_code = eoi + 1
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return list(out)
        if prev is None:
            if code >= clear:
                raise ValueError(
                    "GIF LZW first code after CLEAR is not a literal"
                )
            out += table[code]
            prev = code
            continue
        if code < next_code and code not in (clear, eoi):
            seq = table[code]
        elif code == next_code and next_code < 4096:
            seq = table[prev] + table[prev][:1]  # KwKwK
        else:
            raise ValueError(f"GIF LZW code {code} outside the table")
        out += seq
        if limit is not None and len(out) > limit:
            raise ValueError(
                f"GIF LZW output overruns the frame ({len(out)} > {limit})"
            )
        if next_code < 4096:
            table[next_code] = table[prev] + seq[:1]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = code


@_total_on_corrupt
def decode_gif_bytes(payload: bytes) -> dict:
    """Parse a still GIF into ``{width, height, vals}`` with ``vals``
    the palette-mapped int64 RGB values in row-major top-down order —
    LZW decompressed for real, interlace rows re-sequenced, extension
    blocks skipped.  A GCE transparent-color flag (r14) composes the
    transparent index to the LSD background color out of the GLOBAL
    table — well-defined for a full-canvas still.  Animation (a second
    image descriptor) and partial-canvas first frames delegate to
    :func:`decode_gif_frames` and return COMPOSED FRAME 0 (r15 — the
    stills contract for multi-frame media); the remaining honest
    boundary is a transparent or partial-canvas frame with no global
    table (no defined composition base, ``NotImplementedError``);
    corrupt shapes raise ``ValueError``."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise NotImplementedError("not a GIF payload")
    w, h, flags, _bg, _aspect = struct.unpack_from("<HHBBB", payload, 6)
    if w == 0 or h == 0:
        raise ValueError(f"GIF zero dimensions {w}x{h}")
    _check_pixel_budget(w * h, "GIF logical screen")
    pos = 13
    gpal = None
    if flags & 0x80:
        gsize = 2 << (flags & 7)
        if pos + gsize * 3 > len(payload):
            raise ValueError("GIF global color table truncated")
        gpal = np.frombuffer(payload, np.uint8, gsize * 3, pos).reshape(
            gsize, 3
        )
        pos += gsize * 3
    vals = None
    transp = None
    while True:
        if pos >= len(payload):
            raise ValueError("GIF stream truncated (no trailer)")
        marker = payload[pos]
        pos += 1
        if marker == 0x3B:  # trailer
            break
        if marker == 0x21:  # extension: label byte + sub-block chain
            if pos >= len(payload):
                raise ValueError("GIF extension truncated")
            label = payload[pos]
            pos += 1
            body, pos = _gif_read_subblocks(payload, pos)
            if label == 0xF9:  # Graphic Control: applies to next image
                if len(body) >= 1 and body[0] & 0x01:
                    if len(body) < 4:
                        raise ValueError(
                            "GIF graphic control extension truncated"
                        )
                    transp = body[3]
                else:
                    transp = None
            continue
        if marker != 0x2C:
            raise ValueError(f"unknown GIF block 0x{marker:02x}")
        if vals is not None:
            # a second image descriptor = animation: the stills
            # contract is frame 0 of the COMPOSED animation — delegate
            # to the frames decoder (r15, cheap now that the full
            # composition model exists) instead of raising
            d = decode_gif_frames(payload)
            return {
                "width": d["width"], "height": d["height"],
                "vals": d["frames"][0],
            }
        left, top, iw, ih, iflags = struct.unpack_from("<HHHHB", payload, pos)
        pos += 9
        if (left, top, iw, ih) != (0, 0, w, h):
            # a partial-canvas first frame needs the composition
            # model's background base — same delegation (r15); its
            # global-table requirement and rect validation apply
            d = decode_gif_frames(payload)
            return {
                "width": d["width"], "height": d["height"],
                "vals": d["frames"][0],
            }
        pal = gpal
        if iflags & 0x80:  # local color table overrides
            lsize = 2 << (iflags & 7)
            if pos + lsize * 3 > len(payload):
                raise ValueError("GIF local color table truncated")
            pal = np.frombuffer(payload, np.uint8, lsize * 3, pos).reshape(
                lsize, 3
            )
            pos += lsize * 3
        if pal is None:
            raise ValueError("GIF image with no color table")
        if pos >= len(payload):
            raise ValueError("GIF image data truncated")
        min_code = payload[pos]
        pos += 1
        if not 2 <= min_code <= 8:
            raise ValueError(f"GIF LZW minimum code size {min_code}")
        stream, pos = _gif_read_subblocks(payload, pos)
        # one max-table-entry (4096 px) of slack past the declared
        # frame keeps any spec-tolerable trailing output decodable
        # while bounding LZW expansion
        idx = _lzw_decode(stream, min_code, limit=iw * ih + 4096)
        if len(idx) < iw * ih:
            raise ValueError(
                f"GIF pixel data short: {len(idx)} < {iw * ih}"
            )
        grid = np.asarray(idx[: iw * ih], np.int64).reshape(ih, iw)
        if iflags & 0x40:  # interlace: transmitted rows → display rows
            display = np.empty_like(grid)
            display[_gif_interlace_order(ih), :] = grid
            grid = display
        flat = grid.reshape(-1)
        tmask = (flat == transp) if transp is not None else None
        visible = flat if tmask is None else flat[~tmask]
        if visible.size and int(visible.max()) >= len(pal):
            raise ValueError("GIF pixel index outside the color table")
        # transparent pixels may carry an index past the table; clamp
        # for the gather — they are overwritten by the background below
        rgb = pal[np.minimum(flat, len(pal) - 1)].astype(np.int64)
        if tmask is not None and bool(tmask.any()):
            # composition target for a full-canvas still: the logical
            # screen's background color, defined only in the GLOBAL table
            if gpal is None:
                raise NotImplementedError(
                    "GIF transparency without a global color table"
                )
            if _bg >= len(gpal):
                raise ValueError(
                    "GIF background index outside the global color table"
                )
            rgb[tmask] = gpal[_bg].astype(np.int64)
        vals = rgb.reshape(-1)
    if vals is None:
        raise ValueError("GIF with no image data")
    return {"width": int(w), "height": int(h), "vals": vals}


@_total_on_corrupt
def decode_image_bytes(payload: bytes) -> dict:
    """Parse BMP (24-bit BI_RGB), PPM (P6), GIF (signature dispatch to
    :func:`decode_gif_bytes` — real LZW), PNG or JPEG into
    ``{width, height, vals}`` with ``vals`` the int64 RGB values in
    row-major top-down order — padding stripped, rows un-flipped, channels
    un-swapped.  Unknown formats raise ``NotImplementedError``."""
    import numpy as np

    if payload[:2] == b"BM":
        (data_off,) = struct.unpack_from("<I", payload, 10)
        bi_size, w, h, _, bpp, comp = struct.unpack_from(
            "<IiiHHI", payload, 14
        )
        if (bpp, comp) not in (
            (24, 0), (8, 0), (8, 1), (4, 0), (4, 2), (1, 0),
            (16, 0), (16, 3), (32, 0), (32, 3),
        ):
            # embedded PNG/JPEG (comp 4/5), RLE on the wrong depth, and
            # the exotic depth/codec pairs stay seams
            raise NotImplementedError(f"BMP bpp={bpp} compression={comp}")
        if bi_size < 40:
            raise NotImplementedError(f"BMP pre-BITMAPINFO header {bi_size}")
        bottom_up, h = h > 0, abs(h)
        if w <= 0 or h == 0:
            raise ValueError(f"BMP non-positive dimensions {w}x{h}")
        # before the row-grid / RLE index-grid allocations below
        _check_pixel_budget(w * h, "BMP header")
        if bpp in (24, 32) and comp == 0:
            nb = bpp // 8
            row = w * nb
            stride = row + ((-row) % 4)
            px = np.frombuffer(
                payload, np.uint8, h * stride, data_off
            ).reshape(h, stride)[:, :row]
            if bottom_up:
                px = px[::-1]
            # stored BGR / BGRX: swap to RGB, drop the pad byte
            vals = (
                px.reshape(h, w, nb)[:, :, 2::-1][:, :, -3:]
                .reshape(-1).astype(np.int64)
            )
            return {"width": w, "height": h, "vals": vals}
        if bpp in (16, 32):  # masked pixels (BI_BITFIELDS, or 555 default)
            if comp == 3:
                # the three channel masks sit at byte 54 for every
                # header revision (after BITMAPINFOHEADER; inside V4/V5)
                if len(payload) < 66:
                    raise ValueError("BMP BITFIELDS masks truncated")
                masks = struct.unpack_from("<3I", payload, 54)
            else:  # 16-bit BI_RGB defaults to 555
                masks = (0x7C00, 0x03E0, 0x001F)
            unit = np.dtype("<u2") if bpp == 16 else np.dtype("<u4")
            row = w * unit.itemsize
            stride = row + ((-row) % 4)
            raw = np.frombuffer(
                payload, np.uint8, h * stride, data_off
            ).reshape(h, stride)[:, :row]
            if bottom_up:
                raw = raw[::-1]
            units = raw.reshape(-1).view(unit).astype(np.int64)
            chans = []
            for mask in masks:
                if mask == 0:
                    raise ValueError("BMP BITFIELDS zero channel mask")
                shift = (mask & -mask).bit_length() - 1
                width = mask.bit_count()
                if (mask >> shift) != (1 << width) - 1 or width > 16:
                    raise NotImplementedError(
                        f"BMP non-contiguous BITFIELDS mask {mask:#x}"
                    )
                v = (units >> shift) & ((1 << width) - 1)
                # expand to 8 bits on the exact integer grid
                chans.append(v * 255 // ((1 << width) - 1))
            vals = np.stack(chans, axis=1).reshape(-1)
            return {"width": w, "height": h, "vals": vals}
        # palette depths (8/4/1): BGRX quads follow the info header
        # (biClrUsed entries; 0 means the full 2^bpp)
        (clr_used,) = struct.unpack_from("<I", payload, 46)
        npal = clr_used or (1 << bpp)
        pal_off = 14 + bi_size
        if pal_off + npal * 4 > len(payload):
            raise ValueError("BMP color table truncated")
        quads = np.frombuffer(payload, np.uint8, npal * 4, pal_off).reshape(
            npal, 4
        )
        pal = quads[:, 2::-1].astype(np.int64)  # BGRX -> RGB
        if comp == 0:
            row_bytes = (w * bpp + 7) // 8
            stride = row_bytes + ((-row_bytes) % 4)
            rows = np.frombuffer(
                payload, np.uint8, h * stride, data_off
            ).reshape(h, stride)[:, :row_bytes]
            if bottom_up:
                rows = rows[::-1]
            if bpp == 8:
                idx = rows[:, :w].astype(np.int64)
            elif bpp == 4:  # packed nibbles, high first
                nibs = np.stack(
                    [rows >> 4, rows & 0x0F], axis=2
                ).reshape(h, -1)
                idx = nibs[:, :w].astype(np.int64)
            else:  # 1-bit, MSB-first
                bits = np.unpackbits(rows, axis=1)
                idx = bits[:, :w].astype(np.int64)
        elif bpp == 8:  # BI_RLE8 — bottom-up by definition
            if not bottom_up:
                raise ValueError("BMP RLE8 with top-down height")
            idx = _bmp_rle8_decode(payload[data_off:], w, h)[::-1]
        else:  # BI_RLE4
            if not bottom_up:
                raise ValueError("BMP RLE4 with top-down height")
            idx = _bmp_rle4_decode(payload[data_off:], w, h)[::-1]
        if int(idx.max()) >= npal:
            raise ValueError("BMP pixel index outside the color table")
        vals = pal[idx.reshape(-1)].reshape(-1)
        return {"width": w, "height": h, "vals": vals}
    if payload[:2] in (b"P6", b"P5", b"P4"):
        nch = 3 if payload[:2] == b"P6" else 1  # P5 = gray PGM, P4 = PBM
        nfields = 2 if payload[:2] == b"P4" else 3  # PBM has no maxval
        pos, fields = 2, []
        while len(fields) < nfields:
            c = payload[pos : pos + 1]
            if c == b"":
                # EOF mid-header: without this check the token scan below
                # would spin forever (b"" is never isspace()) — fuzz-caught
                raise ValueError("PPM header truncated")
            if c.isspace():
                pos += 1
            elif c == b"#":  # comment to end-of-line
                while payload[pos : pos + 1] not in (b"\n", b""):
                    pos += 1
            else:
                start = pos
                while payload[pos : pos + 1] != b"" and not payload[
                    pos : pos + 1
                ].isspace():
                    pos += 1
                tok = payload[start:pos]
                if not tok.isdigit():
                    # int() accepts Python numeric-literal forms a strict
                    # PPM parser rejects (b"1_6" underscores, leading "+");
                    # such headers must dead-letter, not decode leniently
                    raise ValueError(f"PPM non-numeric header token {tok!r}")
                fields.append(int(tok))
        w, h = fields[0], fields[1]
        maxval = fields[2] if nfields == 3 else 1
        if w <= 0 or h <= 0:
            # int() happily parses b"-4"; np.frombuffer with the negative
            # count w*h*3 would then silently read ALL trailing bytes and
            # return a garbage dict instead of dead-lettering (fuzz-caught)
            raise ValueError(f"PPM non-positive dimensions {w}x{h}")
        _check_pixel_budget(w * h, "PPM/PGM header")
        pos += 1  # single whitespace byte after the header, then raster
        if nfields == 2:  # P4: bit-packed rows, MSB-first, byte-padded;
            # PBM stores 1 = BLACK — normalize to intensity (white = 1)
            # like the bilevel-TIFF WhiteIsZero convention
            stride = (w + 7) // 8
            rows = np.frombuffer(payload, np.uint8, h * stride, pos).reshape(
                h, stride
            )
            bits = np.unpackbits(rows, axis=1)[:, :w]
            vals = (1 - bits.astype(np.int64)).reshape(-1)
            return {"width": w, "height": h, "vals": vals}
        if maxval == 255:
            vals = np.frombuffer(payload, np.uint8, w * h * nch, pos).astype(
                np.int64
            )
        elif 256 <= maxval <= 65535:
            # two-byte samples, BIG-endian per the netpbm spec (r15 —
            # the scientific 16-bit PGM/PPM shape); vals carry the full
            # stored range, never narrowed
            vals = np.frombuffer(payload, ">u2", w * h * nch, pos).astype(
                np.int64
            )
        else:
            raise NotImplementedError(f"PPM maxval={maxval}")
        return {"width": w, "height": h, "vals": vals}
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif_bytes(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return decode_tiff_bytes(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png_bytes(payload)
    if payload[:2] == b"\xff\xd8":
        from stockpulse_batch_realtime_etl_spark.operators.jpeg import (
            decode_jpeg_bytes,
        )

        return decode_jpeg_bytes(payload)
    raise NotImplementedError("unknown image format")


#: Fixed-point scale for IEEE-float WAV samples: normalized float audio
#: maps onto the 16-bit PCM grid (the libsndfile/librosa convention
#: ``int16 = float · 2¹⁵``), so a float file written from int16 material
#: roundtrips to the exact integers.  Samples outside [-1, 1) — legal in
#: float WAV, where headroom is the format's point — are NOT clipped;
#: they decode to values past the int16 range.
WAV_FLOAT_SCALE = 32768

#: G.711 decode tables (ulaw_byte → linear, alaw_byte → linear), built
#: lazily from the published companding formulas (ITU-T G.711; the
#: classic public ``g711.c`` ulaw2linear/alaw2linear shapes).  Values
#: live on the int16 grid: µ-law spans ±32124, A-law ±32256.
_G711_TABLES = None


def _g711_tables():
    global _G711_TABLES
    if _G711_TABLES is None:
        import numpy as np

        b = np.arange(256, dtype=np.int64)
        u = ~b & 0xFF  # µ-law bytes are stored complemented
        t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
        ulaw = np.where(u & 0x80, 0x84 - t, t - 0x84)
        a = b ^ 0x55  # A-law bytes are stored with even bits inverted
        seg = (a & 0x70) >> 4
        t = (a & 0x0F) << 4
        t = np.where(seg == 0, t + 8, (t + 0x108) << np.maximum(seg - 1, 0))
        alaw = np.where(a & 0x80, t, -t)
        _G711_TABLES = (ulaw, alaw)
    return _G711_TABLES


#: IMA/DVI ADPCM quantizer tables (IMA ADPCM reference algorithm; the
#: step-size table has 89 entries, the index-adjust table is keyed by
#: the 4-bit code with the sign bit ignored for the magnitude part).
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8) * 2


def _build_ima_tbl() -> tuple:
    """Precomputed IMA transition table (r16): entry ``(idx << 4) | nib``
    holds ``(delta, next_idx)`` — the signed predictor delta for nibble
    ``nib`` at quantizer step index ``idx`` (T.4-style diff expansion:
    step/8 + step/4·b0 + step/2·b1 + step·b2, negated on b3) and the
    clamped next step index.  The per-sample recurrence collapses to
    one tuple index + one clamped add."""
    tbl = []
    for idx in range(89):
        step = _IMA_STEPS[idx]
        for nib in range(16):
            diff = step >> 3
            if nib & 1:
                diff += step >> 2
            if nib & 2:
                diff += step >> 1
            if nib & 4:
                diff += step
            tbl.append(
                (
                    -diff if nib & 8 else diff,
                    max(0, min(88, idx + _IMA_INDEX[nib])),
                )
            )
    return tuple(tbl)


_IMA_TBL = _build_ima_tbl()


def _ima_run(pred: int, idx: int, nibs: "np.ndarray") -> "np.ndarray":
    """One channel's IMA recurrence: the header sample, then one output
    per 4-bit code.  Inherently sequential (each step's quantizer state
    feeds the next — same stream-shaped reality as the JPEG Huffman
    walk); parallelism lives one level up, across assets inside the
    Arrow batch.  The loop runs on Python ints over the precomputed
    ``_IMA_TBL`` (numpy scalar extraction per nibble was the r15
    bottleneck — 0.19 MB/s/core)."""
    import numpy as np

    if idx > 88:
        raise ValueError(f"ADPCM step index {idx} out of range")
    pred = int(pred)
    out = [0] * (1 + len(nibs))
    out[0] = pred
    tbl = _IMA_TBL
    i = 1
    for nib in nibs.tolist():
        delta, idx = tbl[(idx << 4) | nib]
        pred += delta
        if pred > 32767:
            pred = 32767
        elif pred < -32768:
            pred = -32768
        out[i] = pred
        i += 1
    return np.asarray(out, dtype=np.int64)


def _byte_nibbles(nb: "np.ndarray") -> "np.ndarray":
    """4-bit codes from packed bytes, LOW nibble first (the IMA order)."""
    import numpy as np

    return np.stack([nb & 0x0F, nb >> 4], axis=1).ravel()


def _decode_ima_block(block: bytes) -> "np.ndarray":
    """Decode ONE mono IMA ADPCM block: 4-byte header (int16 predictor —
    emitted as the block's first sample — uint8 step index, reserved
    byte), then a CONTIGUOUS 4-bit code stream (mono has no word
    interleave)."""
    import numpy as np

    pred, idx = struct.unpack_from("<hB", block, 0)
    return _ima_run(
        pred, idx, _byte_nibbles(np.frombuffer(block, np.uint8, len(block) - 4, 4))
    )


def _decode_ima_block_multi(block: bytes, channels: int) -> list:
    """Decode ONE multi-channel IMA ADPCM block into per-channel sample
    arrays: ``channels`` consecutive 4-byte headers, then the code
    stream in 4-BYTE WORDS alternating per channel (the IMA/DVI WAV
    layout — each word carries 8 of its channel's codes); every
    channel's recurrence is the same mirror-pinned mono state machine."""
    import numpy as np

    hdr = 4 * channels
    body = block[hdr:]
    if len(body) % (4 * channels):
        raise ValueError("ADPCM data words not channel-aligned")
    words = np.frombuffer(body, np.uint8).reshape(-1, channels, 4)
    out = []
    for c in range(channels):
        pred, idx = struct.unpack_from("<hB", block, 4 * c)
        out.append(_ima_run(pred, idx, _byte_nibbles(words[:, c, :].ravel())))
    return out


#: Microsoft ADPCM (WAV fmt tag 2) quantizer tables from the published
#: MS algorithm (the Win-3.1 Multimedia DDK C listing; same tables ship
#: in ffmpeg/libsndfile): 16-entry step-size adaptation and the 7
#: standard predictor-coefficient pairs.  Files may append CUSTOM pairs
#: after the standard 7 in the fmt chunk — the decoder reads the table
#: from the bytes, the constant is only the encoder's default.
_MS_ADAPT = (
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230,
)
_MS_COEFS = (
    (256, 0), (512, -256), (0, 0), (192, 64),
    (240, 0), (460, -208), (392, -232),
)

#: Encoder-side code alphabet for the deterministic MS ADPCM corpus:
#: signed codes {0,+1,+2,+3,−1,−2,−3,+4} whose adaptation entries are
#: seven 230s and one 307 — geometric mean < 256, so delta DECAYS
#: toward its 16 floor instead of exploding, and the decoded waveform
#: stays off the ±32767 rails (the two-tap predictor, not saturation,
#: shapes it).
_MS_NIB_MAP = (0, 1, 2, 3, 15, 14, 13, 4)

#: The MS spec listing clamps delta only from BELOW (>= 16); a code
#: stream that keeps hitting high-adaptation nibbles grows delta
#: geometrically (the 16-entry table's product exceeds 256^16) until a
#: C ``int`` overflows.  The public convention for that hole is
#: ffmpeg's: cap delta at INT_MAX/768 so the next ``adapt * delta``
#: stays inside 32 bits.  The oracle replays the same cap.
_MS_DELTA_CAP = 0x7FFFFFFF // 768


def _ms_run(
    c1: int, c2: int, delta: int, s2: int, s1: int, nibs: "np.ndarray"
) -> "np.ndarray":
    """One channel's MS ADPCM recurrence: the two header samples (s2 is
    the OLDER, emitted first), then one output per 4-bit code.  The
    predictor division is C ``/ 256`` — truncation toward zero, the
    spec listing's semantics — not an arithmetic shift; the two differ
    on negative two-tap sums and the oracle replays this exact choice.
    Inherently sequential like the IMA twin (each step's predictor pair
    + delta feed the next); parallelism lives across assets."""
    import numpy as np

    out = np.empty(2 + len(nibs), dtype=np.int64)
    out[0], out[1] = s2, s1
    for i, nib in enumerate(nibs):
        nib = int(nib)
        two_tap = s1 * c1 + s2 * c2
        pred = two_tap // 256 if two_tap >= 0 else -((-two_tap) // 256)
        pred += (nib - 16 if nib & 8 else nib) * delta
        pred = max(-32768, min(32767, pred))
        s2, s1 = s1, pred
        delta = max(16, min(_MS_DELTA_CAP, (_MS_ADAPT[nib] * delta) // 256))
        out[2 + i] = pred
    return out


def _byte_nibbles_high(nb: "np.ndarray") -> "np.ndarray":
    """4-bit codes from packed bytes, HIGH nibble first (the MS ADPCM
    order — opposite of IMA's low-first)."""
    import numpy as np

    return np.stack([nb >> 4, nb & 0x0F], axis=1).ravel()


def _decode_ms_block(block: bytes, channels: int, coefs: list) -> list:
    """Decode ONE MS ADPCM block into per-channel sample arrays.  The
    header interleaves per channel: ``channels`` predictor-index bytes,
    then int16 ideltas, sample1s, sample2s (7 bytes/channel total); the
    code stream then alternates channels PER NIBBLE, high nibble first
    (stereo: one L and one R code per byte)."""
    import numpy as np

    hdr = 7 * channels
    pairs = []
    for c in range(channels):
        bp = block[c]
        if bp >= len(coefs):
            raise ValueError(
                f"MS ADPCM predictor index {bp} outside the "
                f"{len(coefs)}-entry coefficient table"
            )
        pairs.append(coefs[bp])
    deltas = struct.unpack_from(f"<{channels}h", block, channels)
    s1s = struct.unpack_from(f"<{channels}h", block, 3 * channels)
    s2s = struct.unpack_from(f"<{channels}h", block, 5 * channels)
    nibs = _byte_nibbles_high(
        np.frombuffer(block, np.uint8, len(block) - hdr, hdr)
    )
    return [
        _ms_run(
            pairs[c][0], pairs[c][1], deltas[c], s2s[c], s1s[c],
            nibs[c::channels],
        )
        for c in range(channels)
    ]


#: WAVE_FORMAT_EXTENSIBLE SubFormat GUIDs are the 16-bit format tag in
#: the first two bytes followed by this fixed 14-byte tail
#: (KSDATAFORMAT_SUBTYPE_* from the public ksmedia.h layout).
_WAVE_EXT_GUID_TAIL = b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"


@_total_on_corrupt
def decode_wav_bytes(payload: bytes) -> dict:
    """RIFF chunk walk → ``{sample_rate, vals}`` (int64 samples,
    channel-interleaved for multi-channel files — the raw stream order).
    Handles chunk word-alignment and fmt/data in any order; every
    integer-PCM width decodes (8-bit unsigned per the WAV convention,
    16/24/32-bit signed little-endian — 24-bit is the production audio
    staple), plus IEEE-float (fmt tag 3, float32/float64 — the
    librosa/DAW default export), scaled onto the 16-bit grid by
    :data:`WAV_FLOAT_SCALE` and rounded half-even, never clipped (a
    non-finite float sample is corrupt input → ``ValueError``), plus the
    telephony codecs A-law (tag 6) and µ-law (tag 7) via the exact G.711
    tables, IMA/DVI ADPCM (tag 17; block-structured 4-bit codes — mono
    contiguous, multi-channel via the 4-byte-word interleave — with the
    ``fact``-chunk per-channel sample-count trim for padding nibbles),
    Microsoft ADPCM (tag 2; two-tap predictor from the fmt chunk's own
    coefficient table, per-nibble channel interleave high-nibble-first),
    and WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE) unwrapped to its PCM/float
    SubFormat.  Remaining non-PCM formats (MP3, unknown EXTENSIBLE
    SubFormats, …) raise ``NotImplementedError``."""
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE payload")
    pos, audio_fmt, rate, bits, data = 12, None, None, None, None
    channels, block_align, fact_n, fmt_body = None, None, None, b""
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        pos += 8
        if cid == b"fmt ":
            fmt_body = payload[pos : pos + size]
            audio_fmt, channels, rate, _, block_align, bits = (
                struct.unpack_from("<HHIIHH", payload, pos)
            )
            if audio_fmt == 0xFFFE:  # EXTENSIBLE: tag lives in SubFormat
                # a declared size >= 40 with physically-truncated bytes
                # would slice a short GUID, fail the tail compare, and be
                # misfiled as NotImplementedError (format boundary) rather
                # than ValueError (corrupt) in the DLQ taxonomy
                if size < 40 or pos + 40 > len(payload):
                    raise ValueError("EXTENSIBLE fmt chunk truncated")
                guid = payload[pos + 24 : pos + 40]
                if guid[2:] != _WAVE_EXT_GUID_TAIL:
                    raise NotImplementedError(
                        "EXTENSIBLE WAV with non-KSDATAFORMAT SubFormat"
                    )
                (audio_fmt,) = struct.unpack_from("<H", guid, 0)
                if audio_fmt not in (1, 3):
                    raise NotImplementedError(
                        f"EXTENSIBLE WAV SubFormat {audio_fmt}"
                    )
            elif audio_fmt not in (1, 2, 3, 6, 7, 17):
                raise NotImplementedError(f"non-PCM WAV (format {audio_fmt})")
        elif cid == b"fact":
            (fact_n,) = struct.unpack_from("<I", payload, pos)
        elif cid == b"data":
            data = payload[pos : pos + size]
        pos += size + (size & 1)  # RIFF chunks are word-aligned
    if audio_fmt in (6, 7):  # G.711 A-law / µ-law: one byte per sample
        if data is None or bits != 8:
            raise NotImplementedError(
                f"G.711 WAV bits={bits} or missing data chunk"
            )
        ulaw, alaw = _g711_tables()
        table = ulaw if audio_fmt == 7 else alaw
        return {
            "sample_rate": rate,
            "vals": table[np.frombuffer(data, np.uint8)],
        }
    if audio_fmt == 2:  # Microsoft ADPCM: per spec the decoder reads
        # the predictor-coefficient table from the fmt chunk (files may
        # append custom pairs after the standard 7)
        if data is None or bits != 4:
            raise NotImplementedError(
                f"MS ADPCM bits={bits} or missing data chunk"
            )
        if channels < 1:
            raise ValueError("MS ADPCM with zero channels")
        # WAVEFORMATEX extra: cbSize @16, wSamplesPerBlock @18,
        # wNumCoef @20, int16 coefficient pairs from @22
        if len(fmt_body) < 22:
            raise ValueError("MS ADPCM fmt chunk truncated")
        (ncoef,) = struct.unpack_from("<H", fmt_body, 20)
        if ncoef < 1 or len(fmt_body) < 22 + 4 * ncoef:
            raise ValueError("MS ADPCM coefficient table truncated")
        coefs = [
            struct.unpack_from("<hh", fmt_body, 22 + 4 * i)
            for i in range(ncoef)
        ]
        min_block = 7 * channels
        if block_align < min_block:
            raise ValueError(f"MS ADPCM block_align={block_align}")
        parts = [[] for _ in range(channels)]
        for off in range(0, len(data), block_align):
            block = data[off : off + block_align]
            if len(block) < min_block:
                raise ValueError("ADPCM trailing block truncated")
            for c, series in enumerate(
                _decode_ms_block(block, channels, coefs)
            ):
                parts[c].append(series)
        streams = [
            np.concatenate(p) if p else np.empty(0, np.int64) for p in parts
        ]
        # the per-nibble interleave can leave channels one code apart
        # when the final byte splits unevenly (channels ∤ nibble count);
        # the common stream length is the shortest channel's
        n = min(len(s) for s in streams)
        if fact_n is not None:
            # fact trims pad nibbles from the FINAL block only — real
            # encoders fill every non-final block completely, so the
            # trim is applied once at the concatenated-stream tail
            # (mirrors the IMA branch's convention below); a file with
            # mid-stream pad samples is outside the spec's shape
            if fact_n > n:
                raise ValueError(
                    f"ADPCM fact={fact_n} exceeds decoded {n}"
                )
            n = fact_n
        streams = [s[:n] for s in streams]
        vals = np.empty(n * channels, dtype=np.int64)
        for c, s in enumerate(streams):
            vals[c::channels] = s
        return {"sample_rate": rate, "vals": vals}
    if audio_fmt == 17:  # IMA/DVI ADPCM (mono contiguous; N-channel via
        # 4-byte-word interleave — see _decode_ima_block_multi)
        if data is None or bits != 4:
            raise NotImplementedError(
                f"IMA ADPCM bits={bits} or missing data chunk"
            )
        if channels < 1:
            raise ValueError("IMA ADPCM with zero channels")
        min_block = 5 if channels == 1 else 8 * channels
        if block_align < min_block:
            raise ValueError(f"IMA ADPCM block_align={block_align}")
        parts: list = [[] for _ in range(channels)]
        for off in range(0, len(data), block_align):
            block = data[off : off + block_align]
            if len(block) < min_block:  # header + ≥1 code byte/word-group
                raise ValueError("ADPCM trailing block truncated")
            if channels == 1:
                parts[0].append(_decode_ima_block(block))
            else:
                for c, series in enumerate(
                    _decode_ima_block_multi(block, channels)
                ):
                    parts[c].append(series)
        streams = [
            np.concatenate(p) if p else np.empty(0, np.int64) for p in parts
        ]
        if fact_n is not None:
            # the fact chunk (mandatory for compressed formats) carries
            # the true PER-CHANNEL sample count — it trims the final
            # block's padding nibbles; claiming MORE samples than the
            # data decodes to is corrupt input
            if fact_n > len(streams[0]):
                raise ValueError(
                    f"ADPCM fact={fact_n} exceeds decoded {len(streams[0])}"
                )
            streams = [s[:fact_n] for s in streams]
        vals = np.empty(len(streams[0]) * channels, dtype=np.int64)
        for c, s in enumerate(streams):
            vals[c::channels] = s  # raw interleaved stream order
        return {"sample_rate": rate, "vals": vals}
    if audio_fmt == 3:  # IEEE float
        if data is None or bits not in (32, 64):
            raise NotImplementedError(
                f"float WAV bits={bits} or missing data chunk"
            )
        x = np.frombuffer(data, "<f4" if bits == 32 else "<f8")
        if not np.isfinite(x).all():
            raise ValueError("float WAV with non-finite samples")
        scaled = x.astype(np.float64) * WAV_FLOAT_SCALE
        # exact-or-dead-letter: a finite sample far outside the nominal
        # [-1, 1] range (corrupt input) would make the int64 cast below
        # platform-undefined; cap at 2**53 so every surviving value is
        # an exactly-representable float64 integer after rint
        if len(scaled) and np.abs(scaled).max() > float(2**53):
            raise ValueError("float WAV sample out of range")
        vals = np.rint(scaled).astype(np.int64)
        return {"sample_rate": rate, "vals": vals}
    if data is None or bits not in (8, 16, 24, 32):
        raise NotImplementedError(f"WAV bits={bits} or missing data chunk")
    if bits == 8:  # 8-bit WAV PCM is UNSIGNED by convention
        vals = np.frombuffer(data, np.uint8).astype(np.int64)
    elif bits == 16:
        vals = np.frombuffer(data, "<i2").astype(np.int64)
    elif bits == 32:
        vals = np.frombuffer(data, "<i4").astype(np.int64)
    else:  # 24-bit: 3-byte little-endian two's complement
        if len(data) % 3:
            # every other width dead-letters a misaligned data chunk via
            # np.frombuffer; 24-bit must not silently drop trailing bytes
            raise ValueError("WAV 24-bit data chunk not a multiple of 3")
        n = len(data) // 3
        b = np.frombuffer(data, np.uint8, n * 3).reshape(n, 3).astype(
            np.int64
        )
        vals = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        vals -= (vals >> 23) << 24  # sign-extend bit 23
    return {"sample_rate": rate, "vals": vals}


def _encode_jpeg(asset_id: int) -> bytes:
    from stockpulse_batch_realtime_etl_spark.operators.jpeg import encode_jpeg

    return encode_jpeg(asset_id)


def _encode_jpeg_420(asset_id: int) -> bytes:
    from stockpulse_batch_realtime_etl_spark.operators.jpeg import (
        encode_jpeg_420,
    )

    return encode_jpeg_420(asset_id)


def _encode_jpeg_422(asset_id: int) -> bytes:
    from stockpulse_batch_realtime_etl_spark.operators.jpeg import (
        encode_jpeg_422,
    )

    return encode_jpeg_422(asset_id)


def _encode_jpeg_411(asset_id: int) -> bytes:
    from stockpulse_batch_realtime_etl_spark.operators.jpeg import (
        encode_jpeg_411,
    )

    return encode_jpeg_411(asset_id)


def _encode_jpeg_progressive(asset_id: int) -> bytes:
    from stockpulse_batch_realtime_etl_spark.operators.jpeg import (
        encode_jpeg_progressive,
    )

    return encode_jpeg_progressive(asset_id)


def _encode_wav_robin(asset_id: int) -> bytes:
    """Corpus 'wav' slot sub-robin (r15): ``(id//5)%3`` rotates int16
    PCM, IEEE-FLOAT (fmt tag 3; float32/float64 by id parity), and
    WAVE_FORMAT_EXTENSIBLE (fmt 0xFFFE wrapping PCM16/float32
    SubFormats) — all carrying the SAME sample series, so every
    consuming oracle is unchanged while fmt-3 parsing, EXTENSIBLE
    unwrapping, and the decimate chain's anything-in/PCM16-out
    re-encode are corpus-pinned."""
    v = (asset_id // 5) % 3
    if v == 1:
        return encode_wav_float(asset_id)
    if v == 2:
        return encode_wav_extensible(asset_id)
    return encode_wav(asset_id)


_ENCODERS = {
    "bmp": encode_bmp,
    "ppm": encode_ppm,
    "gif": encode_gif,
    "tiff": encode_tiff,
    "wav": _encode_wav_robin,
    "png": encode_png,
    "jpeg": _encode_jpeg,
    "jpeg420": _encode_jpeg_420,
    "jpeg422": _encode_jpeg_422,
    "jpeg411": _encode_jpeg_411,
    "jpegprog": _encode_jpeg_progressive,
    "pngpal": encode_png_palette,
    "pngalpha": encode_png_alpha,
    "pngtrns": encode_png_trns,
    "ulaw": encode_wav_ulaw,
    "alaw": encode_wav_alaw,
    "adpcm": encode_wav_adpcm,
    "msadpcm": encode_wav_ms_adpcm,
    "wavext": encode_wav_extensible,
}

#: Formats whose payload is a RIFF/WAVE container (all decode through
#: :func:`decode_wav_bytes`; the audio pipeline stages match on these).
AUDIO_FORMATS = frozenset(
    {"wav", "ulaw", "alaw", "adpcm", "msadpcm", "wavext"}
)

DECODED_SCHEMA = (
    "asset_id long, format string, width int, height int, sample_rate int, "
    "n_values long, value_sum long, value_min long, value_max long, "
    "weighted_sum long"
)


def encode_assets(
    docs: DataFrame, fmts: tuple[str, ...] = ("bmp", "ppm", "wav")
) -> DataFrame:
    """Real encoded-media table: one asset per document, format round-robin
    on doc_id over ``fmts`` (default bmp/ppm/wav; pass ``("png",)`` for an
    all-PNG corpus), payload = real format bytes from the numpy encoders.
    ``mapInPandas`` so encoding runs executor-side over Arrow batches — the
    100 TB shape (payload generation/ingest never touches the driver)."""
    import pandas as pd

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmt = [fmts[int(a) % len(fmts)] for a in pdf["asset_id"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "format": fmt,
                    "content": [
                        _ENCODERS[f](int(a))
                        for f, a in zip(fmt, pdf["asset_id"])
                    ],
                }
            )

    from stockpulse_batch_realtime_etl_spark.sources.tables import fan_out

    return fan_out(docs.select(F.col("doc_id").alias("asset_id"))).mapInPandas(
        encode, "asset_id long, format string, content binary"
    )


def decoded_stats(assets: DataFrame) -> DataFrame:
    """REAL end-to-end decode: parse each binary payload with the numpy
    codecs (header fields come from the bytes, not from metadata) and
    reduce to per-asset stats.  ``weighted_sum`` = Σ v_i·(i+1) over the
    decoded value sequence pins the decoder's ORDER reconstruction — a
    kept padding byte, unflipped BMP row, or unswapped BGR channel moves
    it even when the value multiset is unchanged."""
    import pandas as pd

    cols = [f.split(" ")[0] for f in DECODED_SCHEMA.split(", ")]

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for aid, fmt, content in zip(
                pdf["asset_id"], pdf["format"], pdf["content"]
            ):
                b = bytes(content)
                if fmt in AUDIO_FORMATS:
                    d = decode_wav_bytes(b)
                    w = h = None
                    rate = d["sample_rate"]
                else:
                    d = decode_image_bytes(b)
                    w, h, rate = d["width"], d["height"], None
                v = d["vals"]
                idx = np.arange(1, len(v) + 1, dtype=np.int64)
                rows.append(
                    (
                        int(aid), fmt, w, h, rate, len(v), int(v.sum()),
                        int(v.min()), int(v.max()), int((v * idx).sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return assets.mapInPandas(stats, DECODED_SCHEMA)


DECODE_DLQ_SCHEMA = (
    "asset_id long, media_type string, status string, width int, "
    "height int, sample_rate int, n_vals long, val_sum long, "
    "error_class string, error string"
)


def decode_or_dlq(media: DataFrame, decoder=None) -> DataFrame:
    """The DLQ-or-decode seam for opaque media payloads — the media twin
    of ``sources/dlq.py``'s JSON split: every asset yields exactly one
    row, either ``status='decoded'`` with typed stats or
    ``status='dead_letter'`` carrying the exception class and message.
    The routing contract is BY EXCEPTION TYPE, the codec totality law the
    fuzz suite pins: ``ValueError`` = corrupt bytes, ``NotImplementedError``
    = honest format boundary (MP3/MP4/arithmetic JPEG while no media
    library is present); anything else propagates loudly — a decoder bug,
    not an input problem.

    ``decoder`` is the ONE dispatch point of the codec stack: the default
    is :func:`_try_real_decode`, and swapping in a real media library
    (PIL / soundfile / av) means passing one callable with the same
    ``(media_type, payload) -> dict`` contract here — nothing else in the
    Spark plumbing (schema, batching, routing) changes.  Pinned
    executable by ``test_decode_or_dlq_seam_and_library_swap_in``.

    A null ``asset_id`` is a pipeline contract violation, not a decode
    failure — the one-row-per-asset guarantee is keyed on it — so it is
    rejected up front with a loud batch-level error rather than routed
    to the DLQ (which would emit an unjoinable null-keyed row)."""
    import pandas as pd

    dec = decoder if decoder is not None else _try_real_decode
    cols = [f.split(" ")[0] for f in DECODE_DLQ_SCHEMA.split(", ")]

    def route(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if pdf["asset_id"].isna().any():
                raise ValueError(
                    "decode_or_dlq: null asset_id — the one-row-per-asset "
                    "contract requires a non-null key; fix the upstream "
                    "asset table, do not DLQ-route unkeyed rows"
                )
            rows = []
            for aid, mt, content in zip(
                pdf["asset_id"], pdf["media_type"], pdf["content"]
            ):
                try:
                    d = dec(mt, bytes(content))
                except (ValueError, NotImplementedError) as e:
                    rows.append(
                        (
                            int(aid), mt, "dead_letter", None, None, None,
                            None, None, type(e).__name__, str(e)[:200],
                        )
                    )
                    continue
                v = np.asarray(d.get("vals", []), dtype=np.int64)
                rows.append(
                    (
                        int(aid), mt, "decoded", d.get("width"),
                        d.get("height"), d.get("sample_rate"),
                        int(v.size), int(v.sum()) if v.size else 0,
                        None, None,
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(route, DECODE_DLQ_SCHEMA)


def _fake_dims(h: str) -> tuple[int, int]:
    """Deterministic pseudo width/height from the first 4 md5 nibbles."""
    return (
        64 + int(h[0], 16) * 16 + int(h[1], 16),
        64 + int(h[2], 16) * 16 + int(h[3], 16),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Per-asset features via Arrow-batched ``mapInPandas``.

    The pandas iterator shape is the production contract: each batch is a
    zero-copy Arrow block; features are computed columnar-ly per batch with
    no per-row Python except the byte hashing itself (which is the work).
    """
    import pandas as pd

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = pdf["content"].map(
                lambda b: hashlib.md5(bytes(b)).hexdigest()
            )
            dims = hashes.map(_fake_dims)
            is_img = pdf["media_type"] == "image"
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "byte_len": pdf["content"].map(len).astype("int64"),
                    "content_md5": hashes,
                    "width": [d[0] if i else None for d, i in zip(dims, is_img)],
                    "height": [d[1] if i else None for d, i in zip(dims, is_img)],
                    "duration_ms": [
                        None if i else 1000 + int(h[:4], 16)
                        for h, i in zip(hashes, is_img)
                    ],
                }
            )

    from stockpulse_batch_realtime_etl_spark.sources.tables import fan_out

    return fan_out(media).mapInPandas(features, FEATURE_SCHEMA)


def resize_images(media: DataFrame, max_px: int = 256) -> DataFrame:
    """Resize stub for OPAQUE payloads: passes bytes through ``mapInPandas``
    unchanged but stamps the target size — PIL plugs into the same batch
    loop for compressed formats.  :func:`resize_decoded` below is the REAL
    resize for the uncompressed formats this module can decode itself."""
    import pandas as pd

    schema = "asset_id long, media_type string, content binary, target_px int"

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[pdf["media_type"] == "image"][
                ["asset_id", "media_type", "content"]
            ].copy()
            out["target_px"] = max_px  # real path: PIL.Image.thumbnail here
            yield out

    return media.mapInPandas(resize, schema)


def resize_image_bytes(payload: bytes, max_px: int) -> bytes:
    """REAL thumbnail of an uncompressed image: decode (BMP or
    PPM/PGM), nearest-neighbor subsample so the longer edge is ≤
    ``max_px`` (aspect-preserving, PIL.thumbnail semantics), re-encode
    as PPM (RGB inputs) or PGM (grayscale, r14).

    Nearest-neighbor source index = ``floor(dst * src_dim / dst_dim)`` —
    pure integer arithmetic, so a downstream consumer (or the DuckDB
    oracle) can predict every output pixel from the input image exactly.
    """
    import numpy as np

    d = decode_image_bytes(payload)
    w, h = d["width"], d["height"]
    nch = len(d["vals"]) // (w * h)
    if nch not in (1, 3):
        raise NotImplementedError(f"resize of {nch}-channel image")
    # pure INTEGER arithmetic (no float scale): (w·max_px) // longer_edge —
    # bit-identical to the SQL oracle's replay at any parameterization
    edge = max(w, h)
    if edge <= max_px:
        nw, nh = w, h
    else:
        nw = max(1, (w * max_px) // edge)
        nh = max(1, (h * max_px) // edge)
    px = d["vals"].reshape(h, w, nch)
    rows = (np.arange(nh, dtype=np.int64) * h) // nh
    cols = (np.arange(nw, dtype=np.int64) * w) // nw
    out = px[rows][:, cols]
    magic = b"P6" if nch == 3 else b"P5"
    if int(out.max(initial=0)) > 255:
        # 16-bit sources re-encode at maxval 65535 (two-byte BIG-endian
        # netpbm) — truncating to 8 bits would silently corrupt (r15)
        return (
            magic + b"\n%d %d\n65535\n" % (nw, nh)
            + out.astype(">u2").tobytes()
        )
    return magic + b"\n%d %d\n255\n" % (nw, nh) + out.astype(
        np.uint8
    ).tobytes()


def resize_decoded(media: DataFrame, max_px: int = 16) -> DataFrame:
    """Real resize pipeline over uncompressed payloads: decode →
    nearest-neighbor thumbnail → re-encode (PPM), inside one Arrow
    ``mapInPandas`` pass.  Output payloads are themselves decodable, so
    the whole chain composes with :func:`decoded_stats` for end-to-end
    verification."""
    import pandas as pd

    schema = "asset_id long, format string, content binary"

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            imgs = pdf[~pdf["format"].isin(AUDIO_FORMATS)]
            yield pd.DataFrame(
                {
                    "asset_id": imgs["asset_id"],
                    "format": "ppm",
                    "content": [
                        resize_image_bytes(bytes(b), max_px)
                        for b in imgs["content"]
                    ],
                }
            )

    return media.mapInPandas(resize, schema)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame-sampling stub for video: emits ``n_frames`` evenly-spaced byte
    slices per asset (one output row per frame — the real implementation
    decodes actual frames with av inside the same loop).  Demonstrates the
    1→N explode shape of frame extraction under mapInPandas."""
    import pandas as pd

    schema = "asset_id long, frame_idx int, frame_bytes binary"

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vids = pdf[pdf["media_type"] == "video"]
            rows = []
            for aid, content in zip(vids["asset_id"], vids["content"]):
                b = bytes(content)
                step = max(1, len(b) // n_frames)
                for i in range(n_frames):
                    rows.append((aid, i, b[i * step : i * step + step]))
            yield pd.DataFrame(
                rows, columns=["asset_id", "frame_idx", "frame_bytes"]
            )

    return media.mapInPandas(frames, schema)


def _video_frames(asset_id: int) -> int:
    return 2 + asset_id % 5


def encode_y4m(asset_id: int) -> bytes:
    """Real YUV4MPEG2 (Y4M) uncompressed video: the standard raw-video
    interchange container (ffmpeg/mpv-readable).  ASCII stream header
    with W/H/frame-rate/colourspace tags, then per frame a ``FRAME\\n``
    marker + raw planes.  COLOURSPACE sub-robin ``(id // 3) % 3``
    (r15): 0 = C444, 1 = C420 (quarter-size chroma; falls back to C444
    when the corpus dims aren't both even), 2 = C422 (half-width
    chroma; falls back when the width is odd).  Frame f's STORED plane
    byte s is the deterministic ``(11·id + 5·f + 13·s) mod 256`` — the
    oracle replays the decoded FULL-RESOLUTION values by mapping each
    upsampled position back to its stored-stream index, so the
    nearest-neighbor chroma upsample itself is oracle-pinned."""
    import numpy as np

    w, h = _image_dims(asset_id)
    sub = (asset_id // 3) % 3
    if (sub == 1 and (w % 2 or h % 2)) or (sub == 2 and w % 2):
        sub = 0
    cspace, fsize = {
        0: (b"C444", w * h * 3),
        # rotate the real-world C420 SITING tag strings (same sample
        # counts, decode-identical) so all four parse paths are pinned
        1: ((b"C420", b"C420jpeg", b"C420mpeg2", b"C420paldv")[
            (asset_id // 9) % 4
        ], w * h + 2 * (w // 2) * (h // 2)),
        2: (b"C422", w * h + 2 * (w // 2) * h),
    }[sub]
    out = [b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 %s\n" % (w, h, cspace)]
    s = np.arange(fsize, dtype=np.int64)
    for f in range(_video_frames(asset_id)):
        vals = ((11 * asset_id + 5 * f + 13 * s) % 256).astype(np.uint8)
        out.append(b"FRAME\n" + vals.tobytes())
    return b"".join(out)


@_total_on_corrupt
def decode_y4m_bytes(payload: bytes) -> dict:
    """Parse a Y4M stream: header tag walk (W/H/C colourspace), then
    FRAME-marker-delimited raw planes → ``{width, height, frames}`` with
    ``frames`` a list of int64 value arrays at FULL resolution (C444
    planes pass through; C420* chroma planes are nearest-neighbor
    upsampled 2× both axes, siting-agnostic).  Other colourspaces raise
    ``NotImplementedError``, truncated frames raise ``ValueError``."""
    import numpy as np

    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(b"YUV4MPEG2"):
        raise NotImplementedError("not a YUV4MPEG2 payload")
    w = h = None
    cspace = "C420jpeg"  # Y4M default when the C tag is absent
    for tok in payload[:nl].split(b" ")[1:]:
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
        elif tok[:1] == b"C":
            cspace = tok.decode()
    if w is None or h is None:
        raise ValueError("Y4M header missing W/H")
    if w <= 0 or h <= 0:
        # a negative dimension makes fsize negative, and the frame walk's
        # pos = start + fsize would step BACKWARD — an infinite loop on
        # corrupt input (same class as the PPM negative-dimension decode)
        raise ValueError(f"Y4M non-positive dimensions {w}x{h}")
    _check_pixel_budget(w * h, "Y4M header")
    if cspace == "C444":
        sub = None
    elif cspace.startswith("C420"):
        # C420 / C420jpeg / C420mpeg2 / C420paldv differ only in chroma
        # SITING, not sample counts — nearest-neighbor replication below
        # is siting-agnostic.  Decoded frames are presented at FULL
        # resolution (chroma upsampled 2× both axes, the same convention
        # as the subsampled JPEG rungs) so C420 and C444 streams of the
        # same scene decode to comparable value sequences.
        if w % 2 or h % 2:
            raise ValueError(f"Y4M C420 requires even dims, got {w}x{h}")
        sub = (2, 2)
    elif cspace == "C422":
        # 4:2:2 (r15): chroma subsampled horizontally only — the
        # broadcast/capture interchange shape; NN-replicated 2x on x
        if w % 2:
            raise ValueError(f"Y4M C422 requires even width, got {w}x{h}")
        sub = (1, 2)
    else:
        raise NotImplementedError(
            f"Y4M colourspace {cspace} (C444, C420*, C422 only)"
        )
    if sub is None:
        fsize = w * h * 3
    else:
        fsize = w * h + 2 * (h // sub[0]) * (w // sub[1])
    pos, frames = nl + 1, []
    while pos < len(payload):
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or payload[pos : pos + 5] != b"FRAME":
            raise ValueError("Y4M malformed FRAME marker")
        start = fnl + 1
        if start + fsize > len(payload):
            raise ValueError("Y4M truncated frame")
        raw = np.frombuffer(payload, np.uint8, fsize, start).astype(np.int64)
        if sub is None:
            frames.append(raw)
        else:
            y = raw[: w * h]
            sy, sx = sub
            chh, cw = h // sy, w // sx
            u = raw[w * h : w * h + cw * chh].reshape(chh, cw)
            v = raw[w * h + cw * chh :].reshape(chh, cw)
            up = [
                np.repeat(np.repeat(c, sy, axis=0), sx, axis=1).reshape(-1)
                for c in (u, v)
            ]
            frames.append(np.concatenate([y, up[0], up[1]]))
        pos = start + fsize
    return {"width": w, "height": h, "frames": frames}


_ENCODERS["y4m"] = encode_y4m

SAMPLED_FRAME_SCHEMA = (
    "asset_id long, frame_idx int, width int, height int, "
    "n_values long, value_sum long, weighted_sum long"
)


def encode_gif_anim(asset_id: int) -> bytes:
    """ANIMATED GIF89a corpus encoder (r14): NETSCAPE2.0 loop app
    extension, then ``_video_frames(id)`` full-canvas frames.  Frame f's
    transmitted index at row-major k is (3·id + 5·k + 11·f) mod nc; odd
    frames are INTERLACED (per-frame interlace flags).  Every frame's
    GCE sets TRANSPARENCY on index (3·id) mod nc and disposal 1
    ("leave", ``(id//7)`` even) or 2 ("restore to background", odd) —
    with the LSD background (3·id + 7) mod nc.  Because consecutive
    frames' indices at a pixel differ by 11 (≢ 0 mod any corpus nc),
    a transparent pixel always resolves in ONE step: to frame f−1's
    index under disposal 1, to the background under disposal 2 or at
    f = 0 — so the composed frames stay oracle-replayable in closed
    form while genuinely exercising multi-frame composition."""
    import numpy as np

    w, h = _image_dims(asset_id)
    bits = 2 + asset_id % 7
    nc = 1 << bits
    pal = _gif_palette(asset_id, nc)
    t_idx = (3 * asset_id) % nc
    bg = (3 * asset_id + 7) % nc
    disposal = 1 if (asset_id // 7) % 2 == 0 else 2
    k = np.arange(w * h, dtype=np.int64)
    lsd_flags = 0x80 | ((bits - 1) << 4) | (bits - 1)
    parts = [
        b"GIF89a",
        struct.pack("<HHBBB", w, h, lsd_flags, bg, 0),
        pal.astype("uint8").tobytes(),
        # NETSCAPE2.0 loop-forever application extension (real writers
        # emit it; the decoder must walk it as a generic extension)
        b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00",
    ]
    for f in range(_video_frames(asset_id)):
        idx = ((3 * asset_id + 5 * k + 11 * f) % nc).reshape(h, w)
        interlaced = f % 2 == 1
        rows = idx[_gif_interlace_order(h), :] if interlaced else idx
        parts.append(
            b"\x21\xf9\x04"
            + bytes(((disposal << 2) | 0x01, 0, 0, t_idx))
            + b"\x00"
        )
        parts.append(
            struct.pack(
                "<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlaced else 0
            )
        )
        parts.append(bytes((bits,)))
        parts.append(_gif_data_subblocks(_lzw_encode(rows.reshape(-1), bits)))
    parts.append(b"\x3b")
    return b"".join(parts)


@_total_on_corrupt
def decode_gif_frames(payload: bytes) -> dict:
    """Decode an animated (or still) GIF into ``{width, height,
    frames}`` — ``frames`` is one COMPOSED int64 RGB canvas per image
    descriptor, applying the full GIF89a composition model: frames
    drawn at their (left, top) rect, GCE transparency leaving the
    underlying canvas visible, and disposal methods 0/1 (leave),
    2 (restore the frame's rect to the background color) and 3 (restore
    the rect to its pre-draw contents).  The canvas starts as the LSD
    background color, so a GLOBAL color table is required (honest
    ``NotImplementedError`` otherwise — without it the composition base
    is undefined); reserved disposal methods 4-7 and out-of-canvas
    frame rects dead-letter as corrupt.

    DOCUMENTED DIVERGENCE from renderer behavior (r14 ADVICE): real
    renderers treat the pre-first-frame canvas as TRANSPARENT and
    ignore the LSD background color, so first-frame transparent pixels
    (and disposal-2 restores) here show the background color where a
    browser would show the page behind the image.  The convention is
    deterministic, oracle-consistent, and the only self-contained
    choice for an engine that must emit concrete RGB for every pixel —
    but it is a composition-policy convention, not external pixel
    fidelity."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise NotImplementedError("not a GIF payload")
    w, h, flags, bg, _aspect = struct.unpack_from("<HHBBB", payload, 6)
    if w == 0 or h == 0:
        raise ValueError(f"GIF zero dimensions {w}x{h}")
    _check_pixel_budget(w * h, "GIF logical screen")
    pos = 13
    gpal = None
    if flags & 0x80:
        gsize = 2 << (flags & 7)
        if pos + gsize * 3 > len(payload):
            raise ValueError("GIF global color table truncated")
        gpal = np.frombuffer(payload, np.uint8, gsize * 3, pos).reshape(
            gsize, 3
        )
        pos += gsize * 3
    if gpal is None:
        raise NotImplementedError(
            "GIF animation without a global color table"
        )
    if bg >= len(gpal):
        raise ValueError("GIF background index outside the global color table")
    canvas = np.tile(gpal[bg].astype(np.int64), (h, w, 1))
    frames: list = []
    total_px = 0
    transp = None
    disposal = 0
    while True:
        if pos >= len(payload):
            raise ValueError("GIF stream truncated (no trailer)")
        marker = payload[pos]
        pos += 1
        if marker == 0x3B:  # trailer
            break
        if marker == 0x21:  # extension
            if pos >= len(payload):
                raise ValueError("GIF extension truncated")
            label = payload[pos]
            pos += 1
            body, pos = _gif_read_subblocks(payload, pos)
            if label == 0xF9:
                if len(body) < 1:
                    raise ValueError("GIF graphic control extension empty")
                disposal = (body[0] >> 2) & 0x07
                if disposal > 3:
                    raise ValueError(
                        f"GIF reserved disposal method {disposal}"
                    )
                if body[0] & 0x01:
                    if len(body) < 4:
                        raise ValueError(
                            "GIF graphic control extension truncated"
                        )
                    transp = body[3]
                else:
                    transp = None
            continue
        if marker != 0x2C:
            raise ValueError(f"unknown GIF block 0x{marker:02x}")
        left, top, iw, ih, iflags = struct.unpack_from(
            "<HHHHB", payload, pos
        )
        pos += 9
        if iw == 0 or ih == 0 or left + iw > w or top + ih > h:
            raise ValueError(
                f"GIF frame rect {iw}x{ih}@({left},{top}) outside "
                f"the {w}x{h} canvas"
            )
        pal = gpal
        if iflags & 0x80:
            lsize = 2 << (iflags & 7)
            if pos + lsize * 3 > len(payload):
                raise ValueError("GIF local color table truncated")
            pal = np.frombuffer(payload, np.uint8, lsize * 3, pos).reshape(
                lsize, 3
            )
            pos += lsize * 3
        if pos >= len(payload):
            raise ValueError("GIF image data truncated")
        min_code = payload[pos]
        pos += 1
        if not 2 <= min_code <= 8:
            raise ValueError(f"GIF LZW minimum code size {min_code}")
        stream, pos = _gif_read_subblocks(payload, pos)
        # one max-table-entry (4096 px) of slack past the declared
        # frame keeps any spec-tolerable trailing output decodable
        # while bounding LZW expansion
        idx = _lzw_decode(stream, min_code, limit=iw * ih + 4096)
        if len(idx) < iw * ih:
            raise ValueError(
                f"GIF pixel data short: {len(idx)} < {iw * ih}"
            )
        grid = np.asarray(idx[: iw * ih], np.int64).reshape(ih, iw)
        if iflags & 0x40:
            display = np.empty_like(grid)
            display[_gif_interlace_order(ih), :] = grid
            grid = display
        tmask = (grid == transp) if transp is not None else None
        visible = grid if tmask is None else grid[~tmask]
        if visible.size and int(visible.max()) >= len(pal):
            raise ValueError("GIF pixel index outside the color table")
        region = canvas[top : top + ih, left : left + iw]
        if disposal == 3:
            saved = region.copy()
        rgb = pal[np.minimum(grid, len(pal) - 1)].astype(np.int64)
        if tmask is not None:
            rgb = np.where(tmask[:, :, None], region, rgb)
        # retained-frames budget: one composed w×h canvas is kept per
        # image descriptor, so a tiny payload with many descriptors
        # would otherwise accumulate unboundedly — cap the SUM
        total_px += w * h
        _check_pixel_budget(
            total_px, "GIF animation frames total", FRAME_PIXEL_BUDGET
        )
        canvas[top : top + ih, left : left + iw] = rgb
        frames.append(canvas.reshape(-1).copy())
        if disposal == 2:
            canvas[top : top + ih, left : left + iw] = gpal[bg].astype(
                np.int64
            )
        elif disposal == 3:
            canvas[top : top + ih, left : left + iw] = saved
        transp = None
        disposal = 0
    if not frames:
        raise ValueError("GIF with no image data")
    return {"width": int(w), "height": int(h), "frames": frames}


def encode_tiff_pages(asset_id: int) -> bytes:
    """MULTI-PAGE TIFF corpus encoder (r14 — the scanned-document
    shape): ``_video_frames(id)`` chained IFDs, page f's RGB values
    (7·id + 13·i + 17·f) mod 256 with the compression cycling
    none/PackBits/LZW/Deflate by page — per-page codec independence is
    exercised inside every single asset.  Byte order by id parity."""
    import numpy as np

    w, h = _image_dims(asset_id)
    i = np.arange(w * h * 3, dtype=np.int64)
    pages = []
    for f in range(_video_frames(asset_id)):
        px = ((7 * asset_id + 13 * i + 17 * f) % 256).astype(
            np.uint8
        ).reshape(h, w, 3)
        pages.append((px, 2, (1, 32773, 5, 8)[f % 4]))
    return _encode_tiff_multipage(
        pages, "<" if asset_id % 2 == 0 else ">", 4
    )


def decode_video_bytes(payload: bytes) -> dict:
    """Signature dispatch for multi-frame media: Y4M streams, animated
    GIFs, or multi-page TIFFs → ``{width, height, frames}``."""
    if payload[:9] == b"YUV4MPEG2":
        return decode_y4m_bytes(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif_frames(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return decode_tiff_pages(payload)
    raise NotImplementedError("unknown video container")


_ENCODERS["gifanim"] = encode_gif_anim
_ENCODERS["tiffpages"] = encode_tiff_pages


def sampled_frame_stats(assets: DataFrame, every: int = 2) -> DataFrame:
    """REAL frame sampling: parse each multi-frame payload (Y4M stream
    or animated GIF, by signature), keep every ``every``-th frame,
    reduce each kept frame to stats (the position-weighted checksum
    again pins plane ORDER — and, for GIF, the composed-canvas
    semantics).  Same Arrow ``mapInPandas`` 1→N shape as the byte-slice
    stub, now over actual container parses — the video seam closes the
    way PNG closed images."""
    import pandas as pd

    cols = [f.split(" ")[0] for f in SAMPLED_FRAME_SCHEMA.split(", ")]

    def stats(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                d = decode_video_bytes(bytes(content))
                for idx, v in enumerate(d["frames"]):
                    if idx % every:
                        continue
                    pos = np.arange(1, len(v) + 1, dtype=np.int64)
                    rows.append(
                        (
                            int(aid), idx, d["width"], d["height"], len(v),
                            int(v.sum()), int((v * pos).sum()),
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    return assets.mapInPandas(stats, SAMPLED_FRAME_SCHEMA)


def resample_audio_bytes(payload: bytes, factor: int = 2) -> bytes:
    """REAL audio decimation of a PCM WAV: decode, keep every
    ``factor``-th sample (naive zero-phase decimation — documented: a
    production pipeline adds an anti-alias low-pass first; the container
    plumbing is identical), re-encode at ``rate // factor``.  Output is
    itself a valid WAV, so the chain composes with :func:`decoded_stats`
    exactly like the image resize chain."""
    import numpy as np

    d = decode_wav_bytes(payload)
    samples = d["vals"][::factor].astype("<i2")
    rate = d["sample_rate"] // factor
    data = samples.tobytes()
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16)
    return (
        struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + 8 + len(data), b"WAVE")
        + fmt
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


def decimate_audio(media: DataFrame, factor: int = 2) -> DataFrame:
    """decode → decimate → re-encode over WAV payloads in one Arrow
    ``mapInPandas`` pass (the audio twin of :func:`resize_decoded`)."""
    import pandas as pd

    schema = "asset_id long, format string, content binary"

    def run(batches):
        for pdf in batches:
            wavs = pdf[pdf["format"].isin(AUDIO_FORMATS)]
            yield pd.DataFrame(
                {
                    "asset_id": wavs["asset_id"],
                    # the SOURCE codec label survives the re-encode (the
                    # payload itself is plain PCM16 after resampling) so
                    # downstream stats stay attributable per codec path
                    "format": wavs["format"],
                    "content": [
                        resample_audio_bytes(bytes(b), factor)
                        for b in wavs["content"]
                    ],
                }
            )

    return media.mapInPandas(run, schema)
