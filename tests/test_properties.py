"""Property-based invariants (hypothesis): randomized corpora, exact laws.

Each property batches all generated docs into ONE small Spark job per
example; example counts are kept low because a Spark round-trip is ~0.5 s.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from stockpulse_batch_realtime_etl_spark.operators import pii, text

# word soup drawn from a small alphabet so duplicates/boilerplate happen
_WORD = st.text(alphabet="abcxyz", min_size=1, max_size=5)
_DOC = st.lists(_WORD, min_size=1, max_size=40).map(" ".join)


@settings(max_examples=10, deadline=None)
@given(st.lists(_DOC, min_size=1, max_size=8), st.integers(2, 7))
def test_segments_partition_every_token(spark, texts, seg_len):
    """doc_segments is a partition: re-joining a doc's segments in seg_idx
    order reconstructs the normalized text exactly (no token lost or
    duplicated, trailing partial kept)."""
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    segs: dict[int, list] = {}
    for r in text.doc_segments(docs, seg_len).collect():
        segs.setdefault(r.doc_id, []).append((r.seg_idx, r.segment))
    for i, t in enumerate(texts):
        norm = " ".join(t.split())
        joined = " ".join(s for _, s in sorted(segs.get(i, [])))
        assert joined == norm, (t, segs.get(i))


@settings(max_examples=10, deadline=None)
@given(st.lists(_DOC, min_size=1, max_size=6), st.randoms())
def test_pii_redaction_is_idempotent_and_clean(spark, texts, rnd):
    """redact ∘ redact = redact, and a redacted corpus scans PII-free —
    for text salted with randomized PII instances at random positions."""
    salted = []
    for t in texts:
        words = t.split()
        for planted in (
            f"u{rnd.randint(0, 999)}@ex{rnd.randint(0, 99)}.com",
            f"{rnd.randint(1, 255)}.{rnd.randint(0, 255)}.0.{rnd.randint(0, 255)}",
            f"{rnd.randint(100, 999)}-{rnd.randint(100, 999)}-{rnd.randint(1000, 9999)}",
        ):
            if rnd.random() < 0.7:
                words.insert(rnd.randint(0, len(words)), planted)
        salted.append(" ".join(words))
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(salted)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from pyspark.sql import functions as F

    once = docs.select("doc_id", pii.redact(F.col("text")).alias("r1"))
    twice = once.select("doc_id", "r1", pii.redact(F.col("r1")).alias("r2"))
    for r in twice.collect():
        assert r.r1 == r.r2
    rescan = pii.pii_scan(
        once.select(
            "doc_id", F.col("r1").alias("text"), F.lit("s").alias("source")
        )
    )
    assert rescan.filter(F.col("has_pii")).count() == 0


# --- PNG codec round trip (pure Python — no Spark, so examples are cheap) ---

@settings(max_examples=60, deadline=None)
@given(
    st.integers(1, 12),
    st.integers(1, 12),
    st.integers(0, 4),
    st.integers(0, 2**32 - 1),
)
def test_png_round_trip_random_images(w, h, filter_seed, pix_seed):
    """decode(encode(px)) == px for ARBITRARY pixel content, any dims ≥ 1,
    any per-row filter phase — the inverse law the oracle checks only for
    the synthetic generator."""
    import numpy as np

    from stockpulse_batch_realtime_etl_spark.operators import multimodal

    rng = np.random.default_rng(pix_seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    d = multimodal.decode_png_bytes(multimodal.encode_png_rgb(px, filter_seed))
    assert (d["width"], d["height"]) == (w, h)
    np.testing.assert_array_equal(
        d["vals"].reshape(h, w, 3), px.astype(np.int64)
    )


# --- GIF / TIFF container round trips (pure Python — cheap examples) --------

@settings(max_examples=60, deadline=None)
@given(
    st.integers(1, 12),
    st.integers(1, 12),
    st.integers(2, 8),
    st.booleans(),
    st.integers(0, 2**32 - 1),
)
def test_gif_round_trip_random_images(w, h, bits, interlaced, seed):
    """decode(encode(idx, pal)) reproduces pal[idx] for ARBITRARY index
    grids, RANDOM palettes, any dims >= 1, both interlace flags — the
    container-level generalization of the corpus closed-form check (the
    sf0.1 tail-width bug class lived exactly in alignments the fixed
    corpus ids did not hit).  A random transparent index + background
    (r14) must compose to pal[bg] at exactly the transparent pixels."""
    import numpy as np

    from stockpulse_batch_realtime_etl_spark.operators import multimodal

    rng = np.random.default_rng(seed)
    nc = 1 << bits
    idx = rng.integers(0, nc, size=(h, w)).astype(np.int64)
    pal = rng.integers(0, 256, size=(nc, 3)).astype(np.uint8)
    d = multimodal.decode_gif_bytes(
        multimodal._encode_gif_frame(idx, pal, interlaced, bits)
    )
    assert (d["width"], d["height"]) == (w, h)
    np.testing.assert_array_equal(
        d["vals"].reshape(h, w, 3), pal[idx].astype(np.int64)
    )
    t_idx = int(rng.integers(0, nc))
    bg = int(rng.integers(0, nc))
    d = multimodal.decode_gif_bytes(
        multimodal._encode_gif_frame(
            idx, pal, interlaced, bits, transparent_idx=t_idx, background=bg
        )
    )
    exp = pal[np.where(idx == t_idx, bg, idx)].astype(np.int64)
    np.testing.assert_array_equal(d["vals"].reshape(h, w, 3), exp)


@settings(max_examples=120, deadline=None)
@given(
    st.integers(1, 18),
    st.integers(1, 18),
    st.integers(1, 8),
    st.booleans(),
    st.booleans(),
    st.integers(0, 2**32 - 1),
)
def test_bmp8_round_trip_random_images(w, h, palbits, rle, runs, seed):
    """8-bit paletted BMP (r14) roundtrips for arbitrary index grids and
    RANDOM palettes, raw and RLE8, over run-heavy and run-free fields —
    the BGRX quad order, bottom-up flip, 4-byte index padding, and the
    RLE row/EOL/EOB walk all pinned by exact order equality."""
    import numpy as np

    from stockpulse_batch_realtime_etl_spark.operators import multimodal

    rng = np.random.default_rng(seed)
    npal = 1 << palbits
    pal = rng.integers(0, 256, size=(npal, 3)).astype(np.int64)
    hi = min(3, npal) if runs else npal
    idx = rng.integers(0, hi, size=(h, w)).astype(np.int64)
    d = multimodal.decode_image_bytes(multimodal._encode_bmp8(idx, pal, rle))
    assert (d["width"], d["height"]) == (w, h)
    np.testing.assert_array_equal(d["vals"].reshape(h, w, 3), pal[idx])


@settings(max_examples=200, deadline=None)
@given(
    st.integers(1, 12),
    st.integers(1, 12),
    st.integers(1, 15),
    st.booleans(),
    st.sampled_from([0, 1, 2]),
    st.sampled_from([1, 32773, 5, 8]),
    st.sampled_from([1, 2]),
    st.sampled_from([8, 16]),
    st.booleans(),
    st.integers(0, 2**32 - 1),
)
def test_tiff_round_trip_random_images(
    w, h, rps, big_endian, photometric, compression, predictor, depth,
    runs, seed,
):
    """decode(encode(px)) == px for arbitrary pixels, any dims >= 1,
    ANY RowsPerStrip (1 = one strip per row through rps > h = single
    strip), both byte orders, ALL THREE photometrics (0 = WhiteIsZero
    decodes INVERTED at the sample depth), all FOUR compressions
    (none / PackBits / LZW / Deflate over both run-heavy and run-free
    pixel fields), both predictors (mod-2^depth differencing), and BOTH
    sample depths (8/16-bit, r14)."""
    import numpy as np

    from stockpulse_batch_realtime_etl_spark.operators import multimodal

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if photometric == 2 else (h, w)
    maxv = (1 << depth) - 1
    dt = np.uint8 if depth == 8 else np.uint16
    if runs:  # tiny alphabet → long runs → replicate packets dominate
        px = rng.integers(0, 3, size=shape).astype(dt)
    else:
        px = rng.integers(0, maxv + 1, size=shape).astype(dt)
    d = multimodal.decode_tiff_bytes(
        multimodal._encode_tiff(
            px,
            ">" if big_endian else "<",
            rps,
            photometric=photometric,
            compression=compression,
            predictor=predictor,
        )
    )
    assert (d["width"], d["height"]) == (w, h)
    exp = px.astype(np.int64) if photometric != 0 else maxv - px
    np.testing.assert_array_equal(d["vals"].reshape(shape), exp)


@settings(max_examples=120, deadline=None)
@given(
    st.integers(1, 40),
    st.integers(1, 40),
    st.sampled_from([16, 32]),
    st.sampled_from([16, 32]),
    st.booleans(),
    st.sampled_from([0, 1, 2]),
    st.sampled_from([1, 32773, 5, 8]),
    st.sampled_from([1, 2]),
    st.integers(0, 2**32 - 1),
)
def test_tiff_tiled_round_trip_random_images(
    w, h, tw, tl, big_endian, photometric, compression, predictor, seed
):
    """TILED TIFF (tags 322-325) roundtrips for arbitrary pixels across
    single- and multi-tile grids (dims to 40 px so 16-px tiles span
    up to 3×3), all photometrics/compressions/predictors, both byte
    orders — edge-tile padding must be cropped, and the predictor must
    restart at each TILE row (not each image row)."""
    import numpy as np

    from stockpulse_batch_realtime_etl_spark.operators import multimodal

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if photometric == 2 else (h, w)
    px = rng.integers(0, 256, size=shape, dtype=np.uint8)
    d = multimodal.decode_tiff_bytes(
        multimodal._encode_tiff(
            px,
            ">" if big_endian else "<",
            4,
            photometric=photometric,
            compression=compression,
            predictor=predictor,
            tile=(tw, tl),
        )
    )
    assert (d["width"], d["height"]) == (w, h)
    exp = px.astype(np.int64) if photometric != 0 else 255 - px
    np.testing.assert_array_equal(d["vals"].reshape(shape), exp)


# --- JPEG entropy layer (pure Python — no Spark, examples are cheap) --------

#: every baseline MCU-interleave shape the decoder supports: grayscale,
#: 4:4:4, 4:2:2 (2×1 luma), 4:2:0 (2×2 luma), 4:1:1, and a 2×2×2 stress
#: shape with multi-block chroma
_MCU_SHAPES = ([1], [1, 1, 1], [2, 1, 1], [4, 1, 1], [2, 2, 1], [2, 2, 2])


def _huff_decode_tables():
    from stockpulse_batch_realtime_etl_spark.operators import jpeg

    dc = {
        (ln, code): sym
        for sym, (code, ln) in jpeg._canonical_codes(
            jpeg._DC_BITS, jpeg._DC_VALS
        ).items()
    }
    ac = {
        (ln, code): sym
        for sym, (code, ln) in jpeg._canonical_codes(
            jpeg._AC_BITS, jpeg._AC_VALS
        ).items()
    }
    return dc, ac


@settings(max_examples=60, deadline=None)
@given(
    st.sampled_from(_MCU_SHAPES),
    st.integers(1, 12),
    st.integers(0, 4),
    st.integers(0, 2**32 - 1),
)
def test_jpeg_entropy_round_trip_random_streams(shape, n_mcus, interval, seed):
    """decode_scan(encode_scan_with_restarts(blocks)) == blocks exactly,
    for ARBITRARY sparse coefficient content over every supported MCU
    shape and restart cadence (0 = no DRI) — the randomized
    generalization of the fixed-seed coefficient-layer tests: Huffman
    magnitude categories up to ±500, DC diffs across predictor resets,
    run/ZRL/EOB (incl. all-zero blocks), byte stuffing, RSTn resync."""
    import numpy as np

    from stockpulse_batch_realtime_etl_spark.operators import jpeg

    rng = np.random.default_rng(seed)
    comps = []
    for per_mcu in shape:
        blocks = []
        for _ in range(n_mcus * per_mcu):
            zz = np.zeros(64, dtype=np.int64)
            nz = int(rng.integers(0, 12))
            if nz:
                pos = rng.choice(64, size=nz, replace=False)
                zz[pos] = rng.integers(-500, 501, size=nz)
            blocks.append(zz)
        comps.append(blocks)
    data = jpeg.encode_scan_with_restarts(comps, list(shape), interval)
    dc, ac = _huff_decode_tables()
    ncomp = len(shape)
    out = jpeg.decode_scan(
        data + b"\xff\xd9",
        0,
        n_mcus,
        ncomp,
        [dc] * ncomp,
        [ac] * ncomp,
        restart_interval=interval,
        mcu_blocks=list(shape),
    )
    for ci in range(ncomp):
        for b in range(len(comps[ci])):
            np.testing.assert_array_equal(out[ci][b], comps[ci][b])


def _mutate(payload: bytearray, mode: str, rng) -> bytes:
    """Shared corrupt-input mutation for the codec fuzz properties —
    truncation, byte flips, junk insertion (which can synthesize '-'
    before a dimension digit, the negative-dimension class)."""
    if mode == "truncate":
        payload = payload[: int(rng.integers(0, len(payload)))]
    elif mode == "flip":
        i = int(rng.integers(0, len(payload)))
        payload[i] = int(rng.integers(0, 256))
    else:
        i = int(rng.integers(0, len(payload) + 1))
        junk = rng.integers(0, 256, size=int(rng.integers(1, 8)))
        payload[i:i] = bytes(junk.tolist())
    return bytes(payload)


def _sane_image(d: dict) -> None:
    """Success-branch invariants: a decode that 'succeeds' on corrupt
    bytes must still be structurally sane (a negative-width garbage dict
    once passed the bare isinstance check — fuzz-caught)."""
    assert d["width"] >= 0 and d["height"] >= 0, d
    n = d["width"] * d["height"]
    # 1=gray, 2=gray+alpha, 3=RGB, 4=RGBA channels
    assert len(d["vals"]) in (n, n * 2, n * 3, n * 4), (
        d["width"], d["height"], len(d["vals"]),
    )


@settings(max_examples=150, deadline=None)
@given(
    st.integers(0, 499),
    st.sampled_from(["444", "420", "422", "411", "prog"]),
    st.sampled_from(["truncate", "flip", "insert"]),
    st.integers(0, 2**32 - 1),
)
def test_jpeg_decoder_total_on_corrupt_inputs(asset_id, variant, mode, seed):
    """decode_jpeg_bytes is TOTAL on corrupt bytes: truncations, byte
    flips, and junk insertions over every encoder variant either still
    decode to a structurally sane dict (a flip in entropy data can be
    valid) or raise the module's unified ValueError /
    NotImplementedError — never an uncontrolled
    IndexError/KeyError/struct.error, because the mapInPandas codec seam
    routes failures to the DLQ by exception type."""
    import numpy as np

    from stockpulse_batch_realtime_etl_spark.operators import jpeg
    from stockpulse_batch_realtime_etl_spark.operators import multimodal

    enc = {
        "444": multimodal._encode_jpeg,
        "420": multimodal._encode_jpeg_420,
        "422": multimodal._encode_jpeg_422,
        "411": multimodal._encode_jpeg_411,
        "prog": multimodal._encode_jpeg_progressive,
    }[variant]
    rng = np.random.default_rng(seed)
    payload = _mutate(bytearray(enc(asset_id)), mode, rng)
    try:
        d = jpeg.decode_jpeg_bytes(payload)
    except (ValueError, NotImplementedError):
        pass
    else:
        _sane_image(d)


@settings(max_examples=150, deadline=None)
@given(
    st.integers(0, 499),
    st.sampled_from(
        ["png", "pngpal", "png16", "pngalpha", "pngtrns", "wav", "wavf",
         "ulaw", "alaw", "adpcm", "adpcm2", "msadpcm", "msadpcm2",
         "wavext", "y4m", "ppm", "bmp", "gif", "tiff", "gifanim",
         "tiffpages"]
    ),
    st.sampled_from(["truncate", "flip", "insert"]),
    st.integers(0, 2**32 - 1),
)
def test_codec_decoders_total_on_corrupt_inputs(asset_id, codec, mode, seed):
    """Same totality law as the JPEG fuzz, for every other byte-level
    codec: corrupt bytes either decode or raise the unified ValueError /
    NotImplementedError — no leaked struct.error/zlib.error/IndexError,
    and no hang (a truncated PPM header used to spin the token scan
    forever)."""
    import numpy as np

    from stockpulse_batch_realtime_etl_spark.operators import multimodal as mm

    enc = {
        "png": mm.encode_png,
        "pngpal": mm.encode_png_palette,
        "png16": mm.encode_png16,
        "pngalpha": mm.encode_png_alpha,
        "pngtrns": mm.encode_png_trns,
        "wav": mm.encode_wav,
        "wavf": mm.encode_wav_float,
        "ulaw": mm.encode_wav_ulaw,
        "alaw": mm.encode_wav_alaw,
        "adpcm": mm.encode_wav_adpcm,
        "adpcm2": mm.encode_wav_adpcm_stereo,
        "msadpcm": mm.encode_wav_ms_adpcm,
        "msadpcm2": mm.encode_wav_ms_adpcm_stereo,
        "wavext": mm.encode_wav_extensible,
        "y4m": mm.encode_y4m,
        "ppm": mm.encode_ppm,
        "bmp": mm.encode_bmp,
        "gif": mm.encode_gif,
        "tiff": mm.encode_tiff,
        "gifanim": mm.encode_gif_anim,
        "tiffpages": mm.encode_tiff_pages,
    }[codec]
    dec = {
        "png": mm.decode_png_bytes,
        "pngpal": mm.decode_image_bytes,
        "png16": mm.decode_png_bytes,
        "pngalpha": mm.decode_png_bytes,
        "pngtrns": mm.decode_image_bytes,
        "wav": mm.decode_wav_bytes,
        "wavf": mm.decode_wav_bytes,
        "ulaw": mm.decode_wav_bytes,
        "alaw": mm.decode_wav_bytes,
        "adpcm": mm.decode_wav_bytes,
        "adpcm2": mm.decode_wav_bytes,
        "msadpcm": mm.decode_wav_bytes,
        "msadpcm2": mm.decode_wav_bytes,
        "wavext": mm.decode_wav_bytes,
        "y4m": mm.decode_y4m_bytes,
        "ppm": mm.decode_image_bytes,
        "bmp": mm.decode_image_bytes,
        "gif": mm.decode_image_bytes,
        "tiff": mm.decode_image_bytes,
        "gifanim": mm.decode_gif_frames,
        "tiffpages": mm.decode_tiff_pages,
    }[codec]
    rng = np.random.default_rng(seed)
    payload = _mutate(bytearray(enc(asset_id)), mode, rng)
    try:
        d = dec(payload)
    except (ValueError, NotImplementedError):
        return
    if codec in ("wav", "wavf", "ulaw", "alaw", "adpcm", "adpcm2",
                 "msadpcm", "msadpcm2", "wavext"):
        assert d["sample_rate"] is not None and len(d["vals"]) >= 0
    elif codec in ("y4m", "gifanim"):
        assert d["width"] > 0 and d["height"] > 0
        for f in d["frames"]:
            assert len(f) == d["width"] * d["height"] * 3
    elif codec == "tiffpages":
        # pages may legitimately differ in dims/channels after mutation
        assert d["width"] > 0 and d["height"] > 0 and len(d["frames"]) >= 1
        for f in d["frames"]:
            assert len(f) > 0
    else:
        _sane_image(d)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(1, 40),
    st.integers(1, 24),
    st.integers(0, 3),
    st.integers(0, 2**32 - 1),
)
def test_jpeg_grayscale_file_round_trip_random_dims(w, h, interval, seed):
    """Full-FILE law for single-component baseline JPEG: random dims
    (partial edge blocks both axes), random restart cadence (incl. enough
    intervals to wrap RSTn past RST7 at DRI=1), random per-block constant
    values — decode maps pixel (x,y) to block (y//8)·⌈w/8⌉ + x//8 on the
    T.81 A.2.2 non-interleaved grid, exactly."""
    import numpy as np

    from stockpulse_batch_realtime_etl_spark.operators import jpeg

    rng = np.random.default_rng(seed)
    cw, ch = (w + 7) // 8, (h + 7) // 8
    vals = rng.integers(0, 256, size=cw * ch).astype(np.int64)
    blocks = jpeg._block_constant_coeffs(vals)
    payload = jpeg.encode_baseline_jpeg(
        [blocks], w, h, restart_interval=interval
    )
    d = jpeg.decode_jpeg_bytes(payload)
    assert (d["width"], d["height"]) == (w, h)
    y_idx, x_idx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    exp = vals[(y_idx // 8) * cw + (x_idx // 8)]
    np.testing.assert_array_equal(d["vals"].reshape(h, w), exp)


@settings(max_examples=6, deadline=None)
@given(st.lists(_DOC, min_size=2, max_size=8), st.integers(0, 10**6))
def test_bm25_matches_pure_python_reference(spark, texts, seed):
    """Spark BM25 == an independent pure-Python implementation (same
    formula, same rounding points) on randomized corpora."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from stockpulse_batch_realtime_etl_spark.operators.text import bm25_scores

    def r6(x: float) -> float:
        # Spark's round(double, 6) is HALF_UP on the shortest decimal repr
        # (BigDecimal.valueOf); Python's round() is half-even on the exact
        # binary value — mirror Spark to avoid boundary-double flakes.
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    terms = ("a", "ab", "xyz")
    k1, b = 1.2, 0.75
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r.doc_id: (r.score, r.n_terms)
        for r in bm25_scores(docs, terms, k1, b, k=100).collect()
    }

    toks = [(" ".join(t.split())).split(" ") for t in texts]
    dls = [len([w for w in tk if w]) for tk in toks]
    n = len(texts)
    avgdl = sum(dls) / n
    df = {
        q: sum(1 for tk in toks if q in tk)
        for q in terms
    }
    want = {}
    for i, tk in enumerate(toks):
        total, hit = 0.0, 0
        for q in terms:
            tf = tk.count(q)
            if tf == 0:
                continue
            idf = math.log(1.0 + (float(n) - df[q] + 0.5) / (df[q] + 0.5))
            s = idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * dls[i] / avgdl)
            )
            total += r6(s)
            hit += 1
        if hit:
            want[i] = (r6(total), hit)
    assert {k: (r6(v[0]), v[1]) for k, v in got.items()} == want


#: winnowing corpus with NON-ASCII mixed in: "é"/"ß" (BMP) and "💡"
#: (astral) force the vectorized path's ord() fallback and pin that
#: Spark's split('')+ascii and Python's per-code-point ord agree — the
#: branch an all-ASCII corpus would leave dead
_WINNOW_WORD = st.text(alphabet="abcxyzéß💡", min_size=1, max_size=5)
_WINNOW_DOC = st.lists(_WINNOW_WORD, min_size=1, max_size=40).map(" ".join)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(_WINNOW_DOC, min_size=1, max_size=6),
    st.integers(2, 5),
    st.integers(1, 6),
    st.sampled_from([1_000_003, (1 << 31) + 11]),
)
def test_winnowing_matches_pure_python_reference(spark, texts, k, w, mod):
    """winnowed_fingerprints == the Schleimer/Wilkerson/Aiken selection
    computed sequentially in pure Python (rightmost minimum of every
    w-window of Karp–Rabin k-gram hashes), and kgram_fingerprints == the
    0-mod-p sample of the same hashes — on randomized corpora, for BOTH
    order-key branches (packed-long for mod < 2³⁰, derived-width string
    fallback above)."""
    base, p = 257, 8

    def ref_hashes(t: str) -> list[int]:
        s = " ".join(t.lower().split())  # dedup._norm_text
        codes = [ord(c) for c in s]
        m = len(s) - k + 1
        out = []
        for i in range(max(0, m)):
            h = codes[i] % mod
            for off in range(1, k):
                h = (h * base + codes[i + off]) % mod
            out.append(h)
        return out

    def ref_winnow(hashes: list[int]) -> set[tuple[int, int]]:
        m = len(hashes)
        if not m:
            return set()
        win = min(w, m)
        sel = set()
        for e in range(win, m + 1):
            best = min(
                range(e - win + 1, e + 1),
                key=lambda pos: (hashes[pos - 1], -pos),
            )
            sel.add((best, hashes[best - 1]))
        return sel

    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from stockpulse_batch_realtime_etl_spark.operators.text import (
        kgram_fingerprints,
        winnowed_fingerprints,
        winnowed_fingerprints_expr,
    )

    hashes = {i: ref_hashes(t) for i, t in enumerate(texts)}

    for impl in (winnowed_fingerprints, winnowed_fingerprints_expr):
        got_w: dict[int, set] = {i: set() for i in hashes}
        for r in impl(docs, k, w, base, mod).collect():
            got_w[r.doc_id].add((r.pos, r.fp))
        for i in hashes:
            assert got_w[i] == ref_winnow(hashes[i]), (
                impl.__name__,
                texts[i],
                k,
                w,
                mod,
            )

    got_k: dict[int, set] = {i: set() for i in hashes}
    for r in kgram_fingerprints(docs, k, p, base, mod).collect():
        got_k[r.doc_id].add((r.pos, r.fp))
    for i, hs in hashes.items():
        want = {
            (pos + 1, h) for pos, h in enumerate(hs) if h % p == 0
        }
        assert got_k[i] == want, (texts[i], k, mod)


# --- media transform chains (pure Python — no Spark) -------------------------

@settings(max_examples=60, deadline=None)
@given(
    st.integers(1, 24),
    st.integers(1, 24),
    st.integers(1, 20),
    st.integers(0, 2**32 - 1),
)
def test_resize_chain_laws(w, h, max_px, seed):
    """resize_image_bytes over ARBITRARY pixels: the output decodes, dims
    obey the aspect-preserving ≤ max_px law, pixels equal the integer
    nearest-neighbor reference, and the transform is IDEMPOTENT at the
    byte level (a second resize at the same bound is exactly a no-op) —
    the property a thumbnail cache relies on."""
    import numpy as np

    from stockpulse_batch_realtime_etl_spark.operators import multimodal as mm

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    payload = b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()
    out = mm.resize_image_bytes(payload, max_px)
    d = mm.decode_image_bytes(out)
    edge = max(w, h)
    if edge <= max_px:
        nw, nh = w, h
    else:
        nw = max(1, (w * max_px) // edge)
        nh = max(1, (h * max_px) // edge)
        assert max(nw, nh) <= max_px
    assert (d["width"], d["height"]) == (nw, nh)
    rows = (np.arange(nh) * h) // nh
    cols = (np.arange(nw) * w) // nw
    np.testing.assert_array_equal(
        d["vals"].reshape(nh, nw, 3), px[rows][:, cols].astype(np.int64)
    )
    assert mm.resize_image_bytes(out, max_px) == out


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 499), st.integers(1, 8))
def test_resample_audio_keeps_every_factorth_sample(asset_id, factor):
    """resample_audio_bytes == vals[::factor] at rate//factor, and the
    output is itself a decodable WAV (the chain-composability contract
    decoded_stats relies on)."""
    import numpy as np

    from stockpulse_batch_realtime_etl_spark.operators import multimodal as mm

    payload = mm.encode_wav(asset_id)
    src = mm.decode_wav_bytes(payload)
    out = mm.decode_wav_bytes(mm.resample_audio_bytes(payload, factor))
    assert out["sample_rate"] == src["sample_rate"] // factor
    np.testing.assert_array_equal(out["vals"], src["vals"][::factor])


# --- DLQ split conservation over fuzzed records ------------------------------

_JSONISH = st.one_of(
    # structurally valid JSON with randomized field presence/typing
    st.fixed_dictionaries(
        {},
        optional={
            "symbol": st.one_of(st.none(), st.text(max_size=6), st.integers()),
            "price": st.one_of(
                st.none(), st.floats(allow_nan=False), st.text(max_size=5)
            ),
            "close": st.one_of(st.none(), st.floats(allow_nan=False)),
            "volume": st.one_of(st.none(), st.integers(), st.text(max_size=4)),
            "event_time": st.one_of(
                st.none(),
                st.just("2024-01-15T12:05:00+00:00"),
                st.text(max_size=10),
            ),
        },
    ).map(lambda d: __import__("json").dumps(d)),
    # raw junk: truncations, non-JSON, control bytes
    st.text(max_size=30),
    st.just('{"symbol": "GOOG", "price":'),
)


@settings(max_examples=8, deadline=None)
@given(st.lists(_JSONISH, min_size=1, max_size=20))
def test_dlq_split_conserves_every_record(spark, values):
    """split_raw_stream NEVER drops or duplicates a record, whatever the
    bytes: |ticks| + |failed| == |input| (the consumer-never-crashes law,
    here over fuzzed record shapes instead of the six fixture rows), and
    every dead-lettered row carries its raw value verbatim."""
    from stockpulse_batch_realtime_etl_spark.sources.dlq import (
        split_raw_stream,
    )

    raw = spark.createDataFrame(
        [(v, "stock.ticks.v1", i % 3, i) for i, v in enumerate(values)],
        "value string, topic string, partition int, offset long",
    )
    split = split_raw_stream(raw)
    n_ticks, n_failed = split.ticks.count(), split.failed.count()
    assert n_ticks + n_failed == len(values), values
    by_offset = {r.offset_id: r for r in split.failed.collect()}
    for off, r in by_offset.items():
        assert r.raw_value == values[off], (off, values[off])


#: word soup with case and punctuation so the ^[a-z]+$ train filter and
#: the tie-break both get exercised
_BPE_WORD = st.text(alphabet="aabbcXY.z", min_size=1, max_size=6)
_BPE_DOC = st.lists(_BPE_WORD, min_size=1, max_size=25).map(" ".join)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(_BPE_DOC, min_size=1, max_size=5),
    st.integers(1, 4),
    st.sampled_from([0, 2]),
)
def test_bpe_learned_merges_match_pure_python_reference(
    spark, texts, n_merges, checkpoint_every
):
    """bpe_learn_merges == classic sequential BPE (Sennrich '16) run in
    pure Python: same word-frequency table (^[a-z]+$ whitespace tokens),
    same best-pair rule (max count, then lexicographically smallest pair),
    same left-greedy re-tokenize scan — for randomized corpora, with and
    without the checkpoint_every replay cut (which must not change the
    learned merges)."""
    from collections import Counter
    import re

    freq: Counter = Counter()
    for t in texts:
        for wrd in t.strip().split():
            if re.fullmatch("[a-z]+", wrd):
                freq[wrd] += 1
    seqs = {w: list(w) for w in freq}
    want = []
    for step in range(1, n_merges + 1):
        cnt: Counter = Counter()
        for w, syms in seqs.items():
            for a, b in zip(syms, syms[1:]):
                cnt[(a, b)] += freq[w]
        if not cnt:
            break
        (l, r), c = min(
            cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        want.append((step, l, r, l + r, c))
        for w, syms in seqs.items():
            acc: list = []
            for s in syms:
                if acc and acc[-1] == l and s == r:
                    acc[-1] = l + r
                else:
                    acc.append(s)
            seqs[w] = acc

    from stockpulse_batch_realtime_etl_spark.operators.text import (
        bpe_learn_merges,
    )

    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = [
        (r.step, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in bpe_learn_merges(
            docs, n_merges, checkpoint_every
        ).collect()
    ]
    assert got == want, (texts, n_merges)


@settings(max_examples=6, deadline=None)
@given(st.lists(_DOC, min_size=2, max_size=10))
def test_incremental_dedup_consistent_with_exact_and_lsh(spark, texts):
    """exact_dup ⇔ a base doc shares the normalized fingerprint;
    near_dup ⇒ an LSH candidate pair crossing the split exists;
    is_kept ⇔ neither flag."""
    from stockpulse_batch_realtime_etl_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    split = len(texts) // 2
    out = {r.doc_id: r for r in dedup.incremental_dedup(docs, split).collect()}
    fps = {r.doc_id: r.fingerprint for r in dedup.doc_fingerprints(docs).collect()}
    base_fps = {fp for d, fp in fps.items() if d < split}
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(docs).collect()
    }
    cross = {b for (a, b) in pairs if a < split <= b} | {
        a for (a, b) in pairs if b < split <= a
    }
    for d, r in out.items():
        assert d >= split
        assert r.exact_dup == (fps[d] in base_fps)
        assert r.near_dup == (d in cross)
        assert r.is_kept == (not r.exact_dup and not r.near_dup)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(1, 5),
    st.booleans(),
    st.integers(0, 2**32 - 1),
)
def test_tiff_multipage_round_trip_random_pages(n_pages, big_endian, seed):
    """Multi-page TIFF chain roundtrips with per-page INDEPENDENT
    photometrics and compressions (dims uniform across the chain — a
    mixed-dims chain dead-letters per the r15 one-dims-per-asset
    contract, pinned below) — each page's decode equals its own pixels
    (WhiteIsZero pages inverted), in chain order."""
    import numpy as np

    from stockpulse_batch_realtime_etl_spark.operators import multimodal

    rng = np.random.default_rng(seed)
    w, h = int(rng.integers(1, 15)), int(rng.integers(1, 15))
    pages = []
    for _ in range(n_pages):
        photo = int(rng.choice([0, 1, 2]))
        comp = int(rng.choice([1, 32773, 5, 8]))
        shape = (h, w, 3) if photo == 2 else (h, w)
        pages.append(
            (rng.integers(0, 256, shape).astype(np.uint8), photo, comp)
        )
    d = multimodal.decode_tiff_pages(
        multimodal._encode_tiff_multipage(
            pages, ">" if big_endian else "<", 4
        )
    )
    assert len(d["frames"]) == n_pages
    assert (d["width"], d["height"]) == (
        pages[0][0].shape[1], pages[0][0].shape[0]
    )
    for f, (px, photo, comp) in enumerate(pages):
        exp = px.astype(np.int64) if photo != 0 else 255 - px.astype(np.int64)
        np.testing.assert_array_equal(d["frames"][f], exp.reshape(-1))
    # mixed-dims chains dead-letter (spec-valid TIFF the one-dims
    # frames contract cannot represent — r15)
    if n_pages >= 2:
        mixed = list(pages)
        px0, photo0, comp0 = mixed[0]
        grown = np.concatenate([px0, px0[-1:]], axis=0)
        mixed[0] = (grown, photo0, comp0)
        with pytest.raises(NotImplementedError, match="disagree"):
            multimodal.decode_tiff_pages(
                multimodal._encode_tiff_multipage(
                    mixed, ">" if big_endian else "<", 4
                )
            )


#: (symbol, second offset, price, volume) — offsets unique across the whole
#: list so open/close have no event_time ties (tie order is unspecified)
_TICKS = st.lists(
    st.tuples(
        st.sampled_from(["AAA", "BBB"]),
        st.integers(0, 30 * 60),
        st.integers(100, 50_000).map(lambda c: c / 100),
        st.none() | st.integers(0, 1000),
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda r: r[1],
)


@settings(max_examples=8, deadline=None)
@given(_TICKS, st.integers(1, 30))
def test_bar_merge_map_agrees_with_tick_aggregates(spark, rows, minutes):
    """``_BAR_MERGE`` over finer bars equals ``_BAR_AGGS`` over their ticks:
    the pane-merged sliding bars equal a direct sliding-window aggregate,
    and a bar summary equals one aggregate of the window's ticks."""
    import datetime as dt

    from pyspark.sql import functions as F

    from stockpulse_batch_realtime_etl_spark.operators import serving
    from stockpulse_batch_realtime_etl_spark.operators.ohlcv import (
        BAR_COLUMNS,
        bar_agg_exprs,
        ohlcv_bars,
        sliding_bars,
    )

    t0 = dt.datetime(2024, 1, 15, 12, 0)
    ticks = [(s, p, v, t0 + dt.timedelta(seconds=o)) for s, o, p, v in rows]
    schema = "symbol string, price double, volume long, event_time timestamp"
    t = spark.createDataFrame(ticks, schema)

    direct = (
        t.groupBy(
            "symbol",
            F.expr("window(event_time, '5 minutes', '1 minute') AS w"),
        )
        .agg(*bar_agg_exprs())
        .selectExpr(
            "symbol", "w.start AS window_start", "w.end AS window_end", *BAR_COLUMNS
        )
    )
    assert sorted(sliding_bars(t, 5, 1).collect()) == sorted(direct.collect())

    def minute(x):
        return x.replace(second=0, microsecond=0)

    cutoff = max(minute(r[3]) for r in ticks) - dt.timedelta(minutes=minutes)
    sym = ticks[0][0]
    in_window = [r for r in ticks if r[0] == sym and minute(r[3]) >= cutoff]
    expected = (
        spark.createDataFrame(in_window, schema)
        .groupBy("symbol")
        .agg(*bar_agg_exprs())
        .collect()
    )
    got = serving.bar_summary(ohlcv_bars(t), sym, minutes).select(
        "symbol", *BAR_COLUMNS
    )
    assert got.collect() == expected
