"""Baseline JPEG codec (operators/multimodal.py::decode_jpeg_pixels /
encode_jpeg): round-trips, AC/ZRL paths, restart markers, honest-stub
rejections. No Spark session needed — pure codec tests."""

from __future__ import annotations

import numpy as np
import pytest

from corintick_spark.operators import multimodal as M


def _const_block_image(w: int, h: int, seed: int) -> bytes:
    bw = w // 8
    px = bytearray()
    for p in range(w * h):
        x, y = p % w, p // w
        px.append((seed + ((y // 8) * bw + x // 8) * 17) % 256)
    return bytes(px)


def test_gray_constant_blocks_roundtrip_exact():
    for w, h, seed in ((8, 8, 0), (24, 16, 37), (32, 8, 255)):
        px = _const_block_image(w, h, seed)
        got = M.decode_jpeg_pixels(M.encode_jpeg(w, h, px, channels=1))
        assert got == (w, h, 1, px)


def test_rgb_gray_valued_constant_blocks_roundtrip_exact():
    w, h = 16, 16
    gray = _const_block_image(w, h, 91)
    px = bytes(v for g in gray for v in (g, g, g))
    got = M.decode_jpeg_pixels(M.encode_jpeg(w, h, px, channels=3))
    assert got == (w, h, 3, px)


def test_restart_markers_every_interval():
    w, h = 32, 16  # 8 MCUs
    px = _const_block_image(w, h, 123)
    for interval in (1, 2, 3, 7):
        b = M.encode_jpeg(w, h, px, channels=1, restart_interval=interval)
        assert M.decode_jpeg_pixels(b) == (w, h, 1, px)
    # DRI present for interval>0
    assert b"\xff\xdd" in M.encode_jpeg(w, h, px, 1, restart_interval=2)


def test_ac_coefficients_match_reference_pipeline():
    """Non-constant blocks exercise AC run-length + magnitude codes; the
    decoder must equal the FDCT->round->IDCT reference computed with the
    same orthonormal matrix (identical float ops -> exact equality)."""
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(16, 24)).astype(np.uint8)
    got = M.decode_jpeg_pixels(M.encode_jpeg(24, 16, img.tobytes(), 1))
    arr = np.frombuffer(got[3], dtype=np.uint8).reshape(16, 24).astype(int)
    m = M._dct_matrix()
    for by in range(2):
        for bx in range(3):
            blk = img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8].astype(float)
            q = np.rint(m @ (blk - 128.0) @ m.T)
            ref = np.clip(np.rint(m.T @ q @ m + 128.0), 0, 255)
            assert (arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == ref).all()


def test_zrl_path_long_zero_runs():
    """A block with energy ONLY in the last zigzag position forces >16
    zero runs (ZRL codes). Build it by crafting pixels from a known
    coefficient matrix."""
    m = M._dct_matrix()
    coeff = np.zeros((8, 8))
    coeff[7, 7] = 40.0  # last zigzag position
    spatial = np.clip(np.rint(m.T @ coeff @ m + 128.0), 0, 255).astype(np.uint8)
    got = M.decode_jpeg_pixels(M.encode_jpeg(8, 8, spatial.tobytes(), 1))
    arr = np.frombuffer(got[3], dtype=np.uint8).reshape(8, 8).astype(float)
    requant = np.rint(m @ (arr - 128.0) @ m.T)
    # round-trip re-quantizes to the same coefficient matrix
    reref = np.rint(m @ (spatial.astype(float) - 128.0) @ m.T)
    assert (requant == reref).all()


def test_quant_table_applied():
    w, h = 8, 8
    px = _const_block_image(w, h, 200)  # constant 200 -> DC 8*(200-128)=576
    q = [64] * 64  # DC quantizes to round(576/64)=9 -> dequant 576 exact
    got = M.decode_jpeg_pixels(M.encode_jpeg(w, h, px, 1, quant=q))
    assert got == (w, h, 1, px)


def test_non_jpeg_and_null_return_none():
    assert M.decode_jpeg_pixels(None) is None
    assert M.decode_jpeg_pixels(b"") is None
    assert M.decode_jpeg_pixels(b"\x89PNG\r\n\x1a\n") is None
    assert M.decode_jpeg_pixels(b"\xff\xd8") is None  # SOI alone


def test_arithmetic_rejected_factor5_malformed():
    px = _const_block_image(8, 8, 10)
    # flip SOF0 (0xC0) to SOF9 (arithmetic sequential) — still a stub
    b = bytearray(M.encode_jpeg(8, 8, px, channels=1))
    i = bytes(b).find(b"\xff\xc0")
    b[i + 1] = 0xC9
    with pytest.raises(NotImplementedError, match="SOF"):
        M.decode_jpeg_pixels(bytes(b))
    # sampling factor 5 is outside T.81's legal 1-4 range -> malformed
    b = bytearray(M.encode_jpeg(8, 8, px, channels=1))
    i = bytes(b).find(b"\xff\xc0")
    # SOF payload: len(2) prec(1) h(2) w(2) ncomp(1) then [id, samp, tq]
    b[i + 2 + 2 + 1 + 4 + 1 + 1] = 0x55
    with pytest.raises(ValueError, match="1-4"):
        M.decode_jpeg_pixels(bytes(b))


def test_factor4_sampling_roundtrip():
    """Sampling factors up to 4 (round 8): 4:1:1 and other factor-4 (and
    factor-3) sets round-trip on sampling-grid-constant tiles; random
    4:1:1 content matches the numpy reference exactly."""
    w, h = 64, 32
    px = _const_tile_rgb(w, h, 32)
    for s in ([(4, 1), (1, 1), (1, 1)],   # 4:1:1
              [(4, 4), (1, 1), (1, 1)],
              [(4, 2), (2, 1), (1, 1)],   # mixed divisor set
              [(4, 1), (2, 1), (1, 1)]):
        got = M.decode_jpeg_pixels(M.encode_jpeg(w, h, px, 3, sampling=s))
        assert got == (w, h, 3, px), s
    got = M.decode_jpeg_pixels(
        M.encode_jpeg(w, h, px, 3, sampling=[(4, 1), (1, 1), (1, 1)],
                      restart_interval=1)
    )
    assert got == (w, h, 3, px)
    # factor-3 luma (legal, non-power-of-two)
    w3, h3 = 48, 8
    px3 = _const_tile_rgb(w3, h3, 24 if w3 % 24 == 0 else 8)
    got = M.decode_jpeg_pixels(
        M.encode_jpeg(w3, h3, px3, 3, sampling=[(3, 1), (1, 1), (1, 1)])
    )
    assert got == (w3, h3, 3, px3)

    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, size=(16, 32, 3)).astype(np.uint8)
    got = M.decode_jpeg_pixels(
        M.encode_jpeg(32, 16, img.tobytes(), 3,
                      sampling=[(4, 1), (1, 1), (1, 1)])
    )
    m = M._dct_matrix()
    r, g, b = (img[..., c].astype(float) for c in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b

    def roundtrip(p):
        out = np.zeros_like(p)
        for by in range(p.shape[0] // 8):
            for bx in range(p.shape[1] // 8):
                blk = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                qk = np.rint(m @ blk @ m.T)
                out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    m.T @ qk @ m + 128.0
                )
        return out

    yr = roundtrip(y)
    cbd = cb.reshape(16, 1, 8, 4).mean(axis=(1, 3))
    crd = cr.reshape(16, 1, 8, 4).mean(axis=(1, 3))
    cbr = np.repeat(roundtrip(cbd), 4, 1)
    crr = np.repeat(roundtrip(crd), 4, 1)
    rr = yr + 1.402 * (crr - 128.0)
    gg = yr - 0.344136 * (cbr - 128.0) - 0.714136 * (crr - 128.0)
    bb = yr + 1.772 * (cbr - 128.0)
    ref = np.clip(np.rint(np.stack([rr, gg, bb], -1)), 0, 255)
    arr = np.frombuffer(got[3], dtype=np.uint8).reshape(16, 32, 3)
    assert (arr.astype(float) == ref).all()


def _const_tile_rgb(w, h, tile):
    """RGB bytes with constant `tile`x`tile` gray tiles (value varies per
    tile) — constant over every sampling grid, so subsampled encodes
    round-trip bit-exactly."""
    px = bytearray()
    for p in range(w * h):
        x, y = p % w, p // w
        v = ((y // tile) * (w // tile) + x // tile) * 53 % 256
        px += bytes((v, v, v))
    return bytes(px)


def test_chroma_subsampled_constant_tiles_roundtrip_exact():
    # 16x16 constant tiles are constant over every chroma grid: box-mean
    # downsample and nearest upsample are both identity on them
    w, h = 32, 16
    px = _const_tile_rgb(w, h, 16)
    for s in ([(2, 2), (1, 1), (1, 1)],   # 4:2:0
              [(2, 1), (1, 1), (1, 1)],   # 4:2:2
              [(1, 2), (1, 1), (1, 1)]):  # 4:4:0
        got = M.decode_jpeg_pixels(M.encode_jpeg(w, h, px, 3, sampling=s))
        assert got == (w, h, 3, px), s
    # with restart markers (restart cadence is per MCU, not per block)
    got = M.decode_jpeg_pixels(
        M.encode_jpeg(w, h, px, 3, sampling=[(2, 2), (1, 1), (1, 1)],
                      restart_interval=1)
    )
    assert got == (w, h, 3, px)


def test_chroma_420_matches_numpy_reference():
    """Random RGB through 4:2:0: decode must equal the numpy reference
    (box-mean downsample -> FDCT -> round -> IDCT -> nearest upsample ->
    YCbCr->RGB, identical float ops -> exact equality)."""
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(16, 32, 3)).astype(np.uint8)
    got = M.decode_jpeg_pixels(
        M.encode_jpeg(32, 16, img.tobytes(), 3,
                      sampling=[(2, 2), (1, 1), (1, 1)])
    )
    arr = np.frombuffer(got[3], dtype=np.uint8).reshape(16, 32, 3).astype(float)

    m = M._dct_matrix()
    r = img[..., 0].astype(float)
    g = img[..., 1].astype(float)
    b = img[..., 2].astype(float)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b

    def roundtrip(p):
        out = np.zeros_like(p)
        for by in range(p.shape[0] // 8):
            for bx in range(p.shape[1] // 8):
                blk = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                qk = np.rint(m @ blk @ m.T)
                out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    m.T @ qk @ m + 128.0
                )
        return out

    yr = roundtrip(y)
    cbd = cb.reshape(8, 2, 16, 2).mean(axis=(1, 3))
    crd = cr.reshape(8, 2, 16, 2).mean(axis=(1, 3))
    cbr = np.repeat(np.repeat(roundtrip(cbd), 2, 0), 2, 1)
    crr = np.repeat(np.repeat(roundtrip(crd), 2, 0), 2, 1)
    rr = yr + 1.402 * (crr - 128.0)
    gg = yr - 0.344136 * (cbr - 128.0) - 0.714136 * (crr - 128.0)
    bb = yr + 1.772 * (cbr - 128.0)
    ref = np.clip(np.rint(np.stack([rr, gg, bb], -1)), 0, 255)
    assert (arr == ref).all()


def _prog_equals_baseline(img, channels, dc_al):
    h, w = img.shape[0], img.shape[1]
    base = M.decode_jpeg_pixels(M.encode_jpeg(w, h, img.tobytes(), channels))
    prog = M.decode_jpeg_pixels(
        M.encode_jpeg_progressive(w, h, img.tobytes(), channels, dc_al=dc_al)
    )
    return base == prog


def test_progressive_constant_blocks_roundtrip_exact():
    # constant blocks: DC-only payload — the scans are exactly the two DC
    # pass types (first + successive-approximation refinement) plus
    # all-EOB-run AC scans; must be bit-exact like the baseline path
    for w, h, v in ((8, 8, 0), (24, 16, 123), (16, 8, 255)):
        px = _const_block_image(w, h, v)
        got = M.decode_jpeg_pixels(
            M.encode_jpeg_progressive(w, h, px, channels=1, dc_al=1)
        )
        assert got == (w, h, 1, px)


def test_progressive_equals_baseline_gray_and_rgb():
    """Progressive scans reconstruct the SAME quantized coefficients the
    baseline stream carries, so the decoded pixels must be byte-identical
    to the baseline decode — across dc_al depths and both color modes."""
    rng = np.random.RandomState(7)
    gray = rng.randint(0, 256, size=(16, 24)).astype(np.uint8)
    for dc_al in (0, 1, 2, 3):
        assert _prog_equals_baseline(gray, 1, dc_al)
    rgb = rng.randint(0, 256, size=(16, 16, 3)).astype(np.uint8)
    assert _prog_equals_baseline(rgb, 3, 1)


def test_progressive_eobrun_and_zrl():
    # mostly-empty image: 31 of 32 blocks are flat (long EOB runs) and the
    # busy block has energy only at the last zigzag position (ZRL codes)
    m = M._dct_matrix()
    coeff = np.zeros((8, 8))
    coeff[7, 7] = 40.0
    sp = np.clip(np.rint(m.T @ coeff @ m + 128.0), 0, 255).astype(np.uint8)
    big = np.tile(np.full((8, 8), 128, dtype=np.uint8), (4, 8))
    big[24:32, 56:64] = sp
    assert _prog_equals_baseline(big, 1, 1)


def test_progressive_ac_refinement_equals_baseline():
    """AC successive-approximation refinement (T.81 G.1.2.3): progressive
    streams with ac_al refinement scans must decode byte-identically to
    the baseline stream — across planes, color modes, and quant tables
    (bigger coefficients span more bit planes)."""
    rng = np.random.RandomState(17)
    gray = rng.randint(0, 256, size=(16, 24)).astype(np.uint8)
    base = M.decode_jpeg_pixels(M.encode_jpeg(24, 16, gray.tobytes(), 1))
    for ac_al in (1, 2, 3):
        prog = M.decode_jpeg_pixels(
            M.encode_jpeg_progressive(
                24, 16, gray.tobytes(), 1, dc_al=1, ac_al=ac_al
            )
        )
        assert prog == base, ac_al
    rgb = rng.randint(0, 256, size=(16, 16, 3)).astype(np.uint8)
    base = M.decode_jpeg_pixels(M.encode_jpeg(16, 16, rgb.tobytes(), 3))
    assert base == M.decode_jpeg_pixels(
        M.encode_jpeg_progressive(16, 16, rgb.tobytes(), 3, dc_al=2, ac_al=2)
    )
    q = [2] * 64
    base = M.decode_jpeg_pixels(M.encode_jpeg(16, 16, gray[:, :16].tobytes(), 1, quant=q))
    assert base == M.decode_jpeg_pixels(
        M.encode_jpeg_progressive(
            16, 16, gray[:, :16].tobytes(), 1, quant=q, dc_al=1, ac_al=2
        )
    )


def test_progressive_ac_refinement_eobrun_corrections():
    """Sparse blocks force the hard interleavings: EOB runs whose member
    blocks carry correction bits, ZRL skips crossing already-significant
    coefficients, and corrections trailing the last newly-significant
    coefficient of a block."""
    m = M._dct_matrix()
    coeff = np.zeros((8, 8))
    coeff[0, 3] = 5.0
    coeff[7, 7] = 40.0
    sp = np.clip(np.rint(m.T @ coeff @ m + 128.0), 0, 255).astype(np.uint8)
    big = np.tile(np.full((8, 8), 128, dtype=np.uint8), (4, 8))
    big[0:8, 0:8] = sp
    big[24:32, 56:64] = sp
    base = M.decode_jpeg_pixels(M.encode_jpeg(64, 32, big.tobytes(), 1))
    for ac_al in (1, 2):
        prog = M.decode_jpeg_pixels(
            M.encode_jpeg_progressive(64, 32, big.tobytes(), 1,
                                      dc_al=1, ac_al=ac_al)
        )
        assert prog == base, ac_al


def test_dispatcher_routes_jpeg(spark):
    import pyspark.sql.functions as F

    px = _const_block_image(8, 8, 50)
    payload = M.encode_jpeg(8, 8, px, channels=1)
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    row = M.decode_image_pixels(df).collect()[0]
    assert (row.width, row.height, row.channels) == (8, 8, 1)
    assert row.px_sum == sum(px)
    assert row.px_wsum == sum(k * v for k, v in enumerate(px))


def test_g711_expand_landmarks_and_roundtrip_monotonicity():
    """G.711 expansion: canonical landmark values from the public CCITT
    spec, full-range sanity (µ-law covers ±32124, A-law ±32256), and
    per-polarity monotonicity of the decoded magnitudes."""
    from corintick_spark.operators.multimodal import alaw_expand, ulaw_expand

    assert ulaw_expand(0xFF) == 0 and ulaw_expand(0x7F) == 0
    assert ulaw_expand(0x00) == -32124 and ulaw_expand(0x80) == 32124
    assert alaw_expand(0x55) == -8 and alaw_expand(0xD5) == 8
    assert alaw_expand(0x2A) == -32256 and alaw_expand(0xAA) == 32256
    u = [ulaw_expand(b) for b in range(256)]
    a = [alaw_expand(b) for b in range(256)]
    assert min(u) == -32124 and max(u) == 32124
    assert min(a) == -32256 and max(a) == 32256
    # byte order within one sign half is monotone in magnitude
    neg_u = [ulaw_expand(b) for b in range(0x00, 0x80)]   # negative half
    assert all(x < y for x, y in zip(neg_u, neg_u[1:]))
    pos_a = [alaw_expand(b ^ 0x00) for b in range(0xD5, 0xD5)]  # trivial
    # A-law positive magnitudes ordered by segment/mantissa after the
    # xor-0x55 toggle: check via sorted set size (all 256 distinct except
    # the two zero-adjacent codes)
    assert len(set(u)) == 255  # +0 and -0 collapse
    assert len(set(a)) == 256  # A-law has no negative zero


def test_wav_g711_decode_through_pcm_reader():
    """decode_wav_pcm routes format tags 7/6 through the G.711 expanders
    and still rejects genuinely unsupported formats."""
    import struct

    import pytest

    from corintick_spark.operators.multimodal import (
        alaw_expand,
        decode_wav_pcm,
        ulaw_expand,
    )

    def wav(tag, data):
        fmt = struct.pack("<HHIIHH", tag, 1, 8000, 8000, 1, 8)
        body = (
            b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
            + (b"\x00" if len(data) % 2 else b"")
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    payload = bytes(range(0, 250, 7))
    rate, ch, samples = decode_wav_pcm(wav(7, payload))
    assert (rate, ch) == (8000, 1)
    assert samples == [ulaw_expand(b) for b in payload]
    _, _, samples_a = decode_wav_pcm(wav(6, payload))
    assert samples_a == [alaw_expand(b) for b in payload]
    with pytest.raises(NotImplementedError, match="G.711|PCM"):
        decode_wav_pcm(wav(3, payload))  # IEEE float tag


def test_restart_after_ff_flush_byte():
    """ADVICE r6: when the encoder's pre-restart flush byte is 0xFF, its
    stuffed 0x00 sits exactly at the byte boundary and the restart
    handler must step past it to find the RSTn marker (the old
    aligned_marker saw the 0x00 and died with 'unexpected marker inside
    entropy data'). The gradient below is the first deterministic image
    (found by scanning base/step grids) whose restart_interval=1 stream
    contains FF 00 FF D0 — pin that it still does, then decode and check
    every block against the FDCT->round->IDCT reference."""
    img = ((3 * np.arange(16 * 8).reshape(8, 16)) % 256).astype(np.uint8)
    b = M.encode_jpeg(16, 8, img.tobytes(), channels=1, restart_interval=1)
    assert any(
        bytes([0xFF, 0x00, 0xFF, 0xD0 + n]) in b for n in range(8)
    ), "payload no longer triggers the stuffed-pad-before-RST case"
    got = M.decode_jpeg_pixels(b)
    assert got[:3] == (16, 8, 1)
    arr = np.frombuffer(got[3], dtype=np.uint8).reshape(8, 16).astype(int)
    m = M._dct_matrix()
    for bx in range(2):
        blk = img[:, bx * 8 : bx * 8 + 8].astype(float)
        q = np.rint(m @ (blk - 128.0) @ m.T)
        ref = np.clip(np.rint(m.T @ q @ m + 128.0), 0, 255)
        assert (arr[:, bx * 8 : bx * 8 + 8] == ref).all()


def test_png_palette_roundtrip_all_filters():
    """Palette PNG (color type 3): filters run on the 1-byte index stream
    (bpp=1 for Sub/Average/Paeth), then PLTE expansion to RGB."""
    pal = bytes(
        v for j in range(16)
        for v in ((j * 17) % 256, (j * 31) % 256, (j * 53) % 256)
    )
    w, h = 11, 9
    idx = bytes(((x * 3 + y * 5) % 16) for y in range(h) for x in range(w))
    expect = bytes(v for i in idx for v in pal[i * 3 : i * 3 + 3])
    for f in (None, lambda y: y % 5):
        got = M.decode_png_pixels(
            M.encode_png_palette(w, h, idx, pal, filter_for_row=f)
        )
        assert got == (w, h, 3, expect)


def test_png_palette_trns_now_real():
    """Round 8 graduated palette tRNS from stub to RGBA expansion — a
    single-entry tRNS makes index 0 translucent, everything else opaque."""
    import struct
    import zlib

    pal = bytes(48)
    b = bytearray(M.encode_png_palette(4, 4, bytes(16), pal))
    i = bytes(b).find(b"IDAT") - 4
    trns = (
        struct.pack(">I", 1) + b"tRNS" + b"\x80"
        + struct.pack(">I", zlib.crc32(b"tRNS\x80"))
    )
    got = M.decode_png_pixels(bytes(b[:i]) + trns + bytes(b[i:]))
    assert got == (4, 4, 4, bytes([0, 0, 0, 0x80]) * 16)


def test_gif_interlaced_roundtrip():
    """Interlaced GIF: the 4-pass deinterlace must reproduce the raster
    decode exactly — including heights where passes 1/2 are empty."""
    pal8 = bytes(
        v for j in range(8) for v in ((j * 30) % 256, (j * 60) % 256, (j * 90) % 256)
    )
    for w, h in ((13, 11), (5, 2), (4, 3), (7, 16), (3, 1)):
        idx = [((x + y * 2) % 8) for y in range(h) for x in range(w)]
        plain = M.decode_gif_pixels(M.encode_gif(w, h, idx, pal8))
        inter = M.decode_gif_pixels(
            M.encode_gif(w, h, idx, pal8, interlace=True)
        )
        assert inter == plain, (w, h)


def test_bmp32_roundtrip_all_variants():
    """32-bit BMP: BI_RGB and standard-mask BI_BITFIELDS, bottom-up and
    top-down, must all reproduce the RGBA bytes exactly."""
    w, h = 5, 4
    rgba = bytes(
        (x * 37 + y * 11 + c * 7) % 256
        for y in range(h) for x in range(w) for c in range(4)
    )
    for bf in (False, True):
        for td in (False, True):
            got = M.decode_bmp_pixels(
                M.encode_bmp32(w, h, rgba, top_down=td, bitfields=bf)
            )
            assert got == (w, h, 4, rgba), (bf, td)
    # exotic bitfield masks now route through the general path (round 8):
    # byte-reversed RGBX masks re-read the same payload with R and B
    # swapped, and the missing alpha mask drops the fourth channel
    import struct

    b = bytearray(M.encode_bmp32(w, h, rgba, bitfields=True))
    struct.pack_into("<III", b, 54, 0x000000FF, 0x0000FF00, 0x00FF0000)
    got = M.decode_bmp_pixels(bytes(b))
    assert got[:3] == (w, h, 3)
    for p in range(w * h):
        # disk bytes are B,G,R,A; reversed masks read them as R,G,B
        assert got[3][3 * p : 3 * p + 3] == bytes(
            [rgba[4 * p + 2], rgba[4 * p + 1], rgba[4 * p]]
        )


def test_bmp_rle8_runs_and_absolute():
    """RLE8 BMP: encoded-run rows and word-aligned absolute-mode rows
    decode identically through the BGRX palette (bottom-up storage)."""
    pal = bytes((j * 19) % 256 for j in range(16 * 3))
    w, h = 7, 6
    idx = bytes(((x // 2 + y) % 16) for y in range(h) for x in range(w))
    expect = bytes(v for i in idx for v in pal[i * 3 : i * 3 + 3])
    assert M.decode_bmp_pixels(M.encode_bmp_rle8(w, h, idx, pal)) == (
        w, h, 3, expect,
    )
    assert M.decode_bmp_pixels(
        M.encode_bmp_rle8(w, h, idx, pal, absolute_rows={1, 3, 5})
    ) == (w, h, 3, expect)


def test_bmp_unsupported_depths_still_stub():
    import struct

    px = bytes((k * 5) % 256 for k in range(6 * 4 * 3))
    b = bytearray(M.encode_bmp(6, 4, px))
    struct.pack_into("<H", b, 28, 2)  # 2-bit: not a real BMP depth
    with pytest.raises(NotImplementedError, match="bpp=2"):
        M.decode_bmp_pixels(bytes(b))


def _wav(fmt_tag, channels, rate, bits, data):
    import struct

    block = channels * (bits // 8)
    fmt = struct.pack("<HHIIHH", fmt_tag, channels, rate,
                      rate * block, block, bits)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
            + (b"\x00" if len(data) % 2 else b""))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_pcm24_sign_extension():
    from corintick_spark.operators.multimodal import decode_wav_pcm

    vals = [0, 1, -1, 8388607, -8388608, 0x123456, -0x123456]
    data = b"".join(int(v & 0xFFFFFF).to_bytes(3, "little") for v in vals)
    rate, ch, samples = decode_wav_pcm(_wav(1, 1, 16000, 24, data))
    assert (rate, ch) == (16000, 1)
    assert samples == vals


def test_wav_float32_landmarks():
    import math
    import struct

    from corintick_spark.operators.multimodal import decode_wav_pcm

    xs = [0.0, 1.0, -1.0, 0.5, -0.5, 2.0, -2.0, float("nan"), 1e-8]
    data = struct.pack(f"<{len(xs)}f", *xs)
    _, _, samples = decode_wav_pcm(_wav(3, 1, 8000, 32, data))
    # scale by 32767, round half away from zero, clip to int16 range
    assert samples[0] == 0
    assert samples[1] == 32767 and samples[2] == -32767
    assert samples[3] == math.floor(0.5 * 32767 + 0.5) == 16384
    assert samples[4] == -16384
    assert samples[5] == 32767 and samples[6] == -32768  # clipped
    assert samples[7] == 0  # NaN sanitized
    assert samples[8] == 0  # rounds to zero


def test_wav_ms_adpcm_decode():
    """MS-ADPCM (round 8, format tag 2): header emits sample2 then
    sample1, nibbles decode HIGH-first through the 7 coefficient pairs
    with C-truncating-division prediction (spec/ffmpeg convention,
    ADVICE r8) and adapting delta (floored at 16); multi-block streams
    reset per block."""
    import random
    import struct

    import pytest as _pytest

    from corintick_spark.operators.multimodal import (
        _MS_ADAPT, _MS_COEF, decode_wav_pcm,
    )

    def wav_ms(data, ba, channels=1):
        fmt = struct.pack("<HHIIHH", 2, channels, 8000, 4000, ba, 4)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data
                + (b"\x00" if len(data) % 2 else b""))
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def ref(blocks, ba):
        out = []
        for boff in range(0, len(blocks), ba):
            blk = blocks[boff : boff + ba]
            if len(blk) < 7:
                break
            c1, c2 = _MS_COEF[blk[0]]
            delta, s1, s2 = struct.unpack_from("<hhh", blk, 1)
            out += [s2, s1]
            for byte in blk[7:]:
                for nib in (byte >> 4, byte & 15):
                    snib = nib - 16 if nib >= 8 else nib
                    # C integer division truncates toward zero (Python
                    # // floors, so spell the truncation out)
                    acc = s1 * c1 + s2 * c2
                    trunc = acc // 256 if acc >= 0 else -((-acc) // 256)
                    pred = trunc + snib * delta
                    pred = max(-32768, min(32767, pred))
                    s2, s1 = s1, pred
                    delta = max(16, _MS_ADAPT[nib] * delta // 256)
                    out.append(pred)
        return out

    rng = random.Random(11)
    for _ in range(10):
        nblocks = rng.randint(1, 3)
        nbytes = rng.randint(1, 12)
        ba = 7 + nbytes
        data = b""
        for _b in range(nblocks):
            data += struct.pack(
                "<Bhhh", rng.randint(0, 6), rng.randint(16, 2000),
                rng.randint(-32768, 32767), rng.randint(-32768, 32767),
            )
            data += bytes(rng.randint(0, 255) for _ in range(nbytes))
        rate, ch, samples = decode_wav_pcm(wav_ms(data, ba))
        assert (rate, ch) == (8000, 1)
        assert samples == ref(data, ba)

    # negative predictor sums exercise the truncation-toward-zero path
    data = struct.pack("<Bhhh", 1, 16, -32768, 32767) + bytes([0x18, 0x7F])
    _, _, samples = decode_wav_pcm(wav_ms(data, 11))
    assert samples == ref(data, 11)

    # pin the division convention itself (ADVICE r8): coefficient pair 5
    # is (460, -208); s1=0, s2=1 gives acc = -208, not divisible by 256,
    # so truncation emits 0 where the old floor convention emitted -1.
    data = struct.pack("<Bhhh", 5, 16, 0, 1) + bytes([0x00])
    _, _, samples = decode_wav_pcm(wav_ms(data, 8))
    assert samples[:3] == [1, 0, 0]  # s2, s1, trunc(-208/256) + 0*delta

    # a truncated trailing block drops cleanly
    _, _, samples = decode_wav_pcm(wav_ms(data + data[:5], 11))
    assert samples == ref(data + data[:5], 11)

    # predictor index past the 7 coefficient pairs is malformed
    bad = struct.pack("<Bhhh", 7, 16, 0, 0) + bytes(2)
    with _pytest.raises(ValueError, match="predictor"):
        decode_wav_pcm(wav_ms(bad, 9))

    # more than two ADPCM channels stays a named stub
    with _pytest.raises(NotImplementedError, match="mono/stereo"):
        decode_wav_pcm(wav_ms(bytes(32), 32, channels=3))


def test_bmp_rle8_truncated_absolute_mode_clean():
    """ADVICE r7: a stream truncated inside an absolute-mode payload used
    to RESIZE the index bytearray (short-slice assignment) and IndexError
    in palette expansion; the decoder's malformed-input posture is a clean
    None (or a successfully-decoded prefix), never a crash."""
    pal = bytes((j * 19) % 256 for j in range(16 * 3))
    w, h = 7, 6
    idx = bytes(((x // 2 + y) % 16) for y in range(h) for x in range(w))
    b = M.encode_bmp_rle8(w, h, idx, pal, absolute_rows=set(range(h)))
    for cut in range(1, 40):
        out = M.decode_bmp_pixels(b[:-cut])  # must not raise
        assert out is None or (out[0], out[1], out[2]) == (w, h, 3)


def test_png16_roundtrip_all_filters_and_channels():
    """16-bit PNG (round 8): every channel count x all five filters must
    reproduce the big-endian sample stream exactly — the filter offset is
    channels*2 bytes (the spec's depth-16 subtlety; offset 1 or channels
    would corrupt every Sub/Average/Paeth row)."""
    w, h = 5, 7
    for ch in (1, 2, 3, 4):
        samples = [
            (x * 12345 + y * 331 + c * 77 + 9) % 65536
            for y in range(h) for x in range(w) for c in range(ch)
        ]
        be = b"".join(v.to_bytes(2, "big") for v in samples)
        for f in range(5):
            b = M.encode_png(
                w, h, be, channels=ch,
                filter_for_row=lambda y, f=f: (y + f) % 5, depth=16,
            )
            assert M.decode_png_pixels(b) == (w, h, ch, be), (ch, f)


def test_png16_palette_still_stub():
    import struct

    idx = bytes(p % 4 for p in range(6 * 4))
    pal = bytes(range(12))
    b = bytearray(M.encode_png_palette(6, 4, idx, pal))
    struct.pack_into("B", b, 24, 16)  # depth byte inside IHDR
    with pytest.raises((NotImplementedError, Exception)):
        M.decode_png_pixels(bytes(b))


def test_gif_anim_compositor_differential():
    """decode_gif_frames vs a straight-line reference compositor:
    transparency pass-through, disposal 1 (leave) / 2 (restore-to-bg) /
    3 (restore-to-previous), a sub-rectangle placement, and an
    interlaced frame, all in one stream."""
    pal = bytes(j * 30 + c for j in range(8) for c in range(3))
    w, h, t = 6, 5, 5

    def color(i):
        return pal[3 * i : 3 * i + 3]

    f0 = dict(left=0, top=0, iw=w, ih=h, disposal=1, transparent=None,
              indices=[(p * 3) % 8 for p in range(w * h)])
    f1 = dict(left=1, top=1, iw=w - 2, ih=h - 2, disposal=2, transparent=t,
              indices=[(q * 5 + 1) % 8 for q in range((w - 2) * (h - 2))])
    f2 = dict(left=0, top=0, iw=w, ih=2, disposal=3, transparent=None,
              indices=[(r * 7 + 2) % 8 for r in range(w * 2)])
    f3 = dict(left=0, top=0, iw=w, ih=h, disposal=0, transparent=None,
              indices=[(p + 4) % 8 for p in range(w * h)], interlace=True)
    got = M.decode_gif_frames(M.encode_gif_anim(w, h, [f0, f1, f2, f3], pal))
    assert got is not None and (got[0], got[1], got[2]) == (w, h, 3)
    frames = got[3]
    assert len(frames) == 4

    canvas = bytearray(color(0) * (w * h))
    exp = []
    for p, i in enumerate(f0["indices"]):
        canvas[3 * p : 3 * p + 3] = color(i)
    exp.append(bytes(canvas))
    for yy in range(h - 2):
        for xx in range(w - 2):
            i = f1["indices"][yy * (w - 2) + xx]
            if i == t:
                continue
            d = ((yy + 1) * w + xx + 1) * 3
            canvas[d : d + 3] = color(i)
    exp.append(bytes(canvas))
    for yy in range(h - 2):  # disposal 2: rect back to background
        for xx in range(w - 2):
            d = ((yy + 1) * w + xx + 1) * 3
            canvas[d : d + 3] = color(0)
    before = bytes(canvas)
    for yy in range(2):
        for xx in range(w):
            d = (yy * w + xx) * 3
            canvas[d : d + 3] = color(f2["indices"][yy * w + xx])
    exp.append(bytes(canvas))
    canvas = bytearray(before)  # disposal 3: restore to previous
    for p, i in enumerate(f3["indices"]):
        canvas[3 * p : 3 * p + 3] = color(i)
    exp.append(bytes(canvas))
    assert frames == exp


def test_gif_single_image_still_returns_one_frame():
    pal = bytes(j * 30 + c for j in range(8) for c in range(3))
    idx = [(p * 3) % 8 for p in range(24)]
    b = M.encode_gif(6, 4, idx, pal)
    got = M.decode_gif_frames(b)
    assert got is not None and got[2] == 3 and len(got[3]) == 1
    single = M.decode_gif_pixels(b)
    assert single is not None and got[3][0] == single[3]


def test_png_adam7_roundtrip():
    """Adam7 interlace (round 8): seven independently-filtered passes
    reassemble to the natural raster for every channel count/depth and
    odd sizes (incl. sizes with empty passes)."""
    for ch, depth in [(1, 8), (3, 8), (4, 8), (1, 16), (3, 16)]:
        for (w, h) in [(1, 1), (2, 3), (7, 5), (8, 8), (9, 10), (16, 3)]:
            n = w * h * ch * (depth // 8)
            px = bytes((k * 37 + ch * 11 + depth) % 256 for k in range(n))
            b = M.encode_png(
                w, h, px, channels=ch, filter_for_row=lambda y: y % 5,
                depth=depth, interlace=True,
            )
            assert M.decode_png_pixels(b) == (w, h, ch, px), (ch, depth, w, h)


def test_png_trns_rgba_expansion():
    """Palette transparency (round 8): tRNS alphas attach per entry,
    entries past the chunk length default opaque, output becomes RGBA."""
    pal = bytes(
        v for j in range(8) for v in ((j * 17) % 256, (j * 31) % 256, (j * 53) % 256)
    )
    trns = bytes([255, 128, 0, 7])
    w, h = 6, 5
    idx = bytes((p * 3) % 8 for p in range(w * h))
    b = M.encode_png_palette(w, h, idx, pal, filter_for_row=lambda y: y % 5, trns=trns)
    exp = bytearray()
    for i in idx:
        exp += pal[3 * i : 3 * i + 3] + bytes([trns[i] if i < len(trns) else 255])
    assert M.decode_png_pixels(b) == (w, h, 4, bytes(exp))


def test_png_color_key_trns():
    """Color-key tRNS (round 8): gray/RGB pixels matching the key get
    alpha 0, everything else full opacity — at depth 8 AND 16, filtered,
    sequential and Adam7; only low `depth` bits of the stored key count."""
    import struct
    import zlib

    # gray8: key value planted at exactly one pixel
    w, h = 6, 5
    px = bytes((3 * p + 1) % 256 for p in range(w * h))
    b = M.encode_png(w, h, px, 1, filter_for_row=lambda y: y % 5,
                     trns_key=(px[7],))
    exp = b"".join(bytes([v, 0 if v == px[7] else 255]) for v in px)
    assert M.decode_png_pixels(b) == (w, h, 2, exp)

    # RGB8: all three samples must match
    px = bytes((p * 7 + c * 5) % 256 for p in range(w * h) for c in range(3))
    key = tuple(px[9:12])
    b = M.encode_png(w, h, px, 3, trns_key=key)
    got = M.decode_png_pixels(b)
    assert got[:3] == (w, h, 4)
    out = got[3]
    for p in range(w * h):
        a = out[4 * p + 3]
        assert out[4 * p : 4 * p + 3] == px[3 * p : 3 * p + 3]
        assert a == (0 if tuple(px[3 * p : 3 * p + 3]) == key else 255)

    # gray16 Adam7: 2-byte samples, 2-byte alpha
    vals = [(p * 1031 + 5) % 65536 for p in range(w * h)]
    px = b"".join(struct.pack(">H", v) for v in vals)
    b = M.encode_png(w, h, px, 1, depth=16, interlace=True,
                     trns_key=(vals[13],))
    got = M.decode_png_pixels(b)
    assert got[:3] == (w, h, 2)
    out = got[3]
    for p, v in enumerate(vals):
        assert (out[4 * p] << 8) | out[4 * p + 1] == v
        alpha = (out[4 * p + 2], out[4 * p + 3])
        assert alpha == ((0, 0) if v == vals[13] else (255, 255))

    # stored key uses only the low `depth` bits (spec 11.3.2)
    raw = bytearray(M.encode_png(2, 1, bytes([9, 10]), 1))
    i = bytes(raw).find(b"IDAT") - 4
    body = struct.pack(">H", 0x0109)  # low byte 9
    chunk = struct.pack(">I", 2) + b"tRNS" + body + struct.pack(
        ">I", zlib.crc32(b"tRNS" + body))
    got = M.decode_png_pixels(bytes(raw[:i]) + chunk + bytes(raw[i:]))
    assert got == (2, 1, 2, bytes([9, 0, 10, 255]))

    # tRNS on alpha-bearing color types is spec-invalid -> ValueError
    raw = bytearray(M.encode_png(2, 1, bytes(8), 4))
    i = bytes(raw).find(b"IDAT") - 4
    body = struct.pack(">H", 0)
    chunk = struct.pack(">I", 2) + b"tRNS" + body + struct.pack(
        ">I", zlib.crc32(b"tRNS" + body))
    with pytest.raises(ValueError, match="alpha-bearing"):
        M.decode_png_pixels(bytes(raw[:i]) + chunk + bytes(raw[i:]))
    # and the encoder refuses a key on alpha-bearing channel counts
    with pytest.raises(ValueError, match="gray/RGB"):
        M.encode_png(2, 1, bytes(8), 4, trns_key=(0, 0, 0, 0))


def test_bmp_lowbit_roundtrip():
    """1/4-bit palette BMPs: MSB-first packing, 32-bit row alignment,
    both orientations, odd widths crossing byte boundaries."""
    for bpp, ncol in [(1, 2), (4, 16)]:
        pal = bytes((j * 19 + c * 7) % 256 for j in range(ncol) for c in range(3))
        for (w, h) in [(1, 1), (7, 3), (9, 4), (13, 5), (33, 3)]:
            idx = bytes((x * 3 + y) % ncol for y in range(h) for x in range(w))
            exp = bytes(v for i in idx for v in pal[i * 3 : i * 3 + 3])
            for td in (False, True):
                got = M.decode_bmp_pixels(
                    M.encode_bmp_lowbit(w, h, idx, pal, bpp, top_down=td)
                )
                assert got == (w, h, 3, exp), (bpp, w, h, td)


def test_bmp16_roundtrip_555_565():
    def up5(v):
        return (v << 3) | (v >> 2)

    def up6(v):
        return (v << 2) | (v >> 4)

    for fmt in ("555", "565"):
        for (w, h) in [(1, 1), (3, 2), (5, 4), (8, 3)]:
            vals = [(x * 257 + y * 1031 + 7) % 65536 for y in range(h) for x in range(w)]
            if fmt == "555":
                vals = [v & 0x7FFF for v in vals]
            exp = bytearray()
            for v in vals:
                if fmt == "565":
                    exp += bytes([up5((v >> 11) & 31), up6((v >> 5) & 63), up5(v & 31)])
                else:
                    exp += bytes([up5((v >> 10) & 31), up5((v >> 5) & 31), up5(v & 31)])
            for td in (False, True):
                got = M.decode_bmp_pixels(M.encode_bmp16(w, h, vals, fmt, top_down=td))
                assert got == (w, h, 3, bytes(exp)), (fmt, w, h, td)
    # exotic 16-bit masks route through the general path (round 8):
    # swapped 565 reads the same payload with R and B exchanged
    import struct
    vals = [(x * 257 + 7) % 65536 for x in range(6)]
    b = bytearray(M.encode_bmp16(3, 2, vals, "565"))
    struct.pack_into("<III", b, 54, 0x001F, 0x07E0, 0xF800)
    got = M.decode_bmp_pixels(bytes(b))
    assert got[:3] == (3, 2, 3)
    base = M.decode_bmp_pixels(M.encode_bmp16(3, 2, vals, "565"))[3]
    for p in range(6):
        assert got[3][3 * p : 3 * p + 3] == bytes(
            [base[3 * p + 2], base[3 * p + 1], base[3 * p]]
        )


def test_bmp_bitfields_general():
    """Arbitrary contiguous BI_BITFIELDS masks (round 8): bit-replicated
    upscale at any width, optional V4 alpha channel, both orientations;
    overlapping or non-contiguous masks raise (spec-malformed)."""
    def rep(v, width):
        if width >= 8:
            return v >> (width - 8)
        res, filled = 0, 0
        while filled < 8:
            res = (res << width) | v
            filled += width
        return res >> (filled - 8)

    cases = [
        (16, (0x001F, 0x07E0, 0xF800), 0, (5, 6, 5)),
        (16, (0x0F00, 0x00F0, 0x000F), 0xF000, (4, 4, 4, 4)),
        (32, (0x3FF00000, 0x000FFC00, 0x000003FF), 0xC0000000,
         (10, 10, 10, 2)),
        (32, (0x000000FF, 0x0000FF00, 0x00FF0000), 0, (8, 8, 8)),
    ]
    w, h = 5, 4
    for bpp, masks, am, widths in cases:
        shifts = [
            (m & -m).bit_length() - 1
            for m in list(masks) + ([am] if am else [])
        ]
        comps_all, vals = [], []
        for p in range(w * h):
            comps = [(p * 3 + c * 7 + 1) % (1 << widths[c])
                     for c in range(len(widths))]
            comps_all.append(comps)
            vals.append(sum(c << s for c, s in zip(comps, shifts)))
        for td in (False, True):
            got = M.decode_bmp_pixels(
                M.encode_bmp_masks(w, h, vals, bpp, masks, am, top_down=td)
            )
            ch = len(widths)
            assert got[:3] == (w, h, ch), (bpp, masks, td)
            for p in range(w * h):
                for c in range(ch):
                    assert got[3][p * ch + c] == rep(
                        comps_all[p][c], widths[c]
                    ), (bpp, p, c, td)
    with pytest.raises(ValueError, match="overlap"):
        M.decode_bmp_pixels(
            M.encode_bmp_masks(2, 2, [0] * 4, 16, (0x00FF, 0x0FF0, 0xF000))
        )
    with pytest.raises(ValueError, match="contiguous"):
        M.decode_bmp_pixels(
            M.encode_bmp_masks(2, 2, [0] * 4, 16, (0x00C3, 0x0300, 0xF000))
        )


def test_bmp_rle4_runs_absolute_truncation():
    pal = bytes((j * 19) % 256 for j in range(16 * 3))
    w, h = 9, 6
    idx = bytes(((x // 2 + y) % 16) for y in range(h) for x in range(w))
    exp = bytes(v for i in idx for v in pal[i * 3 : i * 3 + 3])
    assert M.decode_bmp_pixels(M.encode_bmp_rle4(w, h, idx, pal)) == (w, h, 3, exp)
    assert M.decode_bmp_pixels(
        M.encode_bmp_rle4(w, h, idx, pal, absolute_rows={1, 3, 5})
    ) == (w, h, 3, exp)
    # alternating-nibble runs — the RLE4-specific encoding
    idx2 = bytes((x % 2) * 5 + 2 for y in range(h) for x in range(w))
    exp2 = bytes(v for i in idx2 for v in pal[i * 3 : i * 3 + 3])
    assert M.decode_bmp_pixels(M.encode_bmp_rle4(w, h, idx2, pal)) == (w, h, 3, exp2)
    b = M.encode_bmp_rle4(w, h, idx, pal, absolute_rows=set(range(h)))
    for cut in range(1, 30):
        out = M.decode_bmp_pixels(b[:-cut])
        assert out is None or (out[0], out[1], out[2]) == (w, h, 3)


def test_png_subbyte_palette_roundtrip():
    """1/2/4-bit palette PNGs (round 8): filters run on the PACKED byte
    stream (offset unit 1 byte), indices unpack MSB-first per scanline —
    per PASS scanline under Adam7; tRNS still expands RGBA."""
    pal16 = bytes(
        v for j in range(16) for v in ((j * 17) % 256, (j * 31) % 256, (j * 53) % 256)
    )
    for depth in (1, 2, 4):
        ncol = 1 << depth
        p = pal16[: 3 * ncol]
        for (w, h) in [(1, 1), (3, 2), (7, 5), (9, 4), (17, 6)]:
            idx = bytes((x * 3 + y) % ncol for y in range(h) for x in range(w))
            exp = bytes(v for i in idx for v in p[3 * i : 3 * i + 3])
            for il in (False, True):
                b = M.encode_png_palette(
                    w, h, idx, p, filter_for_row=lambda y: y % 5,
                    interlace=il, depth=depth,
                )
                assert M.decode_png_pixels(b) == (w, h, 3, exp), (depth, w, h, il)
    trns = bytes([10, 200, 255])
    idx = bytes((x + y) % 4 for y in range(4) for x in range(9))
    b = M.encode_png_palette(9, 4, idx, pal16[:12], trns=trns, depth=2)
    exp = bytearray()
    for i in idx:
        exp += pal16[3 * i : 3 * i + 3] + bytes([trns[i] if i < len(trns) else 255])
    assert M.decode_png_pixels(b) == (9, 4, 4, bytes(exp))


def test_wav_float64_landmarks():
    import struct

    from corintick_spark.operators.multimodal import decode_wav_pcm

    xs = [0.0, 1.0, -1.0, 0.25, 2.0, -3.0, float("nan"), 1e-9]
    data = struct.pack(f"<{len(xs)}d", *xs)
    _, _, s = decode_wav_pcm(_wav(3, 1, 8000, 64, data))
    assert s == [0, 32767, -32767, 8192, 32767, -32768, 0, 0]


def test_wav_ima_adpcm_blocks_and_stubs():
    """IMA ADPCM (round 8): multi-block streams decode with per-block
    header resets (predictor emitted as sample 0 of each block); a
    truncated trailing block drops cleanly."""
    import struct

    from corintick_spark.operators.multimodal import (
        _IMA_INDEX_ADJ, _IMA_STEPS, decode_wav_pcm,
    )

    def wav_adpcm(data, ba):
        fmt = struct.pack("<HHIIHH", 0x11, 1, 8000, 8000, ba, 4)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data
                + (b"\x00" if len(data) % 2 else b""))
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def ref(blocks, ba):
        out = []
        for boff in range(0, len(blocks), ba):
            blk = blocks[boff : boff + ba]
            if len(blk) < 4:
                break
            pred = struct.unpack_from("<h", blk, 0)[0]
            idx = min(88, blk[2])
            out.append(pred)
            for byte in blk[4:]:
                for nib in (byte & 15, byte >> 4):
                    st = _IMA_STEPS[idx]
                    d = st >> 3
                    if nib & 1:
                        d += st >> 2
                    if nib & 2:
                        d += st >> 1
                    if nib & 4:
                        d += st
                    pred = pred - d if nib & 8 else pred + d
                    pred = max(-32768, min(32767, pred))
                    idx = max(0, min(88, idx + _IMA_INDEX_ADJ[nib & 7]))
                    out.append(pred)
        return out

    import random

    rng = random.Random(7)
    for _ in range(10):
        nblocks, ba = rng.randint(1, 3), 4 + rng.randint(1, 12)
        data = b""
        for _b in range(nblocks):
            data += struct.pack("<hBB", rng.randint(-2048, 2047),
                                rng.randint(0, 88), 0)
            data += bytes(rng.randrange(256) for _ in range(ba - 4))
        _, _, s = decode_wav_pcm(wav_adpcm(data, ba))
        assert s == ref(data, ba)
    # truncated trailing block (fewer than 4 header bytes) drops cleanly
    _, _, s = decode_wav_pcm(wav_adpcm(data + b"\x01\x02", ba))
    assert s == ref(data, ba)


def test_wav_ima_adpcm_stereo():
    """Stereo IMA ADPCM (round 8): per-channel 4-byte headers, nibble
    payload in alternating 4-byte channel groups, output frames
    interleaving L/R — each channel must decode exactly as the same
    nibble stream would mono."""
    import random
    import struct

    from corintick_spark.operators.multimodal import decode_wav_pcm

    def wav_adpcm(data, ba, channels):
        fmt = struct.pack("<HHIIHH", 0x11, channels, 8000, 8000, ba, 4)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data
                + (b"\x00" if len(data) % 2 else b""))
        return b"RIFF" + struct.pack("<I", len(body)) + body

    rng = random.Random(13)
    for _ in range(6):
        ngroups = rng.randint(1, 4)
        headers, payload_l, payload_r = [], b"", b""
        for c in range(2):
            headers.append(struct.pack(
                "<hBB", rng.randint(-2048, 2047), rng.randint(0, 88), 0
            ))
        for _g in range(ngroups):
            payload_l += bytes(rng.randrange(256) for _ in range(4))
            payload_r += bytes(rng.randrange(256) for _ in range(4))
        inter = b"".join(
            payload_l[4 * g : 4 * g + 4] + payload_r[4 * g : 4 * g + 4]
            for g in range(ngroups)
        )
        ba = 8 + len(inter)
        data = headers[0] + headers[1] + inter
        rate, nch, stereo = decode_wav_pcm(wav_adpcm(data, ba, 2))
        assert (rate, nch) == (8000, 2)
        # per-channel reference: decode each channel's stream as mono
        for c, payload in ((0, payload_l), (1, payload_r)):
            mono_data = headers[c] + payload
            _, _, mono = decode_wav_pcm(
                wav_adpcm(mono_data, 4 + len(payload), 1)
            )
            assert stereo[c::2] == mono, c


def test_wav_ms_adpcm_stereo():
    """Stereo MS-ADPCM (round 8): interleaved header fields, HIGH
    nibble = left / LOW nibble = right, output frames starting
    sample2[L], sample2[R], sample1[L], sample1[R] — each channel must
    decode exactly as its own nibble stream would mono."""
    import random
    import struct

    from corintick_spark.operators.multimodal import decode_wav_pcm

    def wav_ms(data, ba, channels):
        fmt = struct.pack("<HHIIHH", 2, channels, 8000, 4000, ba, 4)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data
                + (b"\x00" if len(data) % 2 else b""))
        return b"RIFF" + struct.pack("<I", len(body)) + body

    rng = random.Random(17)
    for _ in range(6):
        nbytes = rng.randint(1, 10)
        ips = [rng.randint(0, 6) for _ in range(2)]
        deltas = [rng.randint(16, 2000) for _ in range(2)]
        s1s = [rng.randint(-32768, 32767) for _ in range(2)]
        s2s = [rng.randint(-32768, 32767) for _ in range(2)]
        payload = bytes(rng.randrange(256) for _ in range(nbytes))
        data = (
            bytes(ips) + struct.pack("<2h", *deltas)
            + struct.pack("<2h", *s1s) + struct.pack("<2h", *s2s)
            + payload
        )
        ba = 14 + nbytes
        rate, nch, stereo = decode_wav_pcm(wav_ms(data, ba, 2))
        assert (rate, nch) == (8000, 2)
        # per-channel reference: channel c's nibbles are the HIGH (c=0)
        # or LOW (c=1) nibble of every payload byte; repack as a mono
        # stream (two nibbles per byte, high first)
        for c in range(2):
            nibs = [
                (byte >> 4) if c == 0 else (byte & 0x0F)
                for byte in payload
            ]
            if len(nibs) % 2:
                nibs.append(0)
            mono_payload = bytes(
                (nibs[2 * i] << 4) | nibs[2 * i + 1]
                for i in range(len(nibs) // 2)
            )
            mono_data = (
                bytes([ips[c]])
                + struct.pack("<hhh", deltas[c], s1s[c], s2s[c])
                + mono_payload
            )
            _, _, mono = decode_wav_pcm(
                wav_ms(mono_data, 7 + len(mono_payload), 1)
            )
            # stereo emits len(payload) nibble samples per channel...
            # channel c gets one sample per payload byte
            assert stereo[c::2][: 2 + len(payload)] == mono[: 2 + len(payload)], c


def test_progressive_restart_intervals_match_no_restart():
    """Round 8: progressive streams WITH restart markers (DRI + RSTn in
    every scan — DC first/refine, AC first/refine) decode byte-identically
    to the same image without restarts, across channel counts, point
    transforms, and restart cadences (incl. interval 1 — a marker between
    every pair of MCUs — and the all-ones-flush stuffed-pad boundary)."""
    import itertools

    for ch, dc_al, ac_al, ri in itertools.product((1, 3), (0, 2), (0, 1), (1, 3)):
        w, h = 24, 16
        px = bytes((k * 37 + ch * 11 + dc_al * 5 + ac_al * 3) % 256
                   for k in range(w * h * ch))
        a = M.decode_jpeg_pixels(M.encode_jpeg_progressive(
            w, h, px, channels=ch, dc_al=dc_al, ac_al=ac_al))
        b = M.decode_jpeg_pixels(M.encode_jpeg_progressive(
            w, h, px, channels=ch, dc_al=dc_al, ac_al=ac_al,
            restart_interval=ri))
        assert a == b, (ch, dc_al, ac_al, ri)


def test_jpeg12_extended_sequential():
    """12-bit JPEG (round 8, SOF1): Pq=1 16-bit quant tables, 2048 level
    shift, custom wide-category Huffman tables, restarts; the canonical
    8-bit output downscales by >> 4. SOF0 with 12-bit precision is
    spec-malformed."""
    import struct

    import numpy as np

    # constant blocks with quant DC=8: every output byte is gray >> 4
    for w, h, ri in [(8, 8, 0), (24, 16, 2)]:
        nbx = w // 8
        q = [8] + [1] * 63
        q[1] = 300  # 16-bit entry on an always-zero slot
        samples = [
            (97 + ((y // 8) * nbx + x // 8) * 251) % 4096
            for y in range(h) for x in range(w)
        ]
        got = M.decode_jpeg_pixels(
            M.encode_jpeg12(w, h, samples, quant=q, restart_interval=ri)
        )
        assert got[:3] == (w, h, 1), (w, h, ri)
        for y in range(h):
            for x in range(w):
                g = (97 + ((y // 8) * nbx + x // 8) * 251) % 4096
                assert got[3][y * w + x] == g >> 4, (w, h, ri, y, x)

    # AC-content round trip: decode must equal the encoder's own
    # quantize->dequantize reconstruction (pins extend/category widths
    # past the 8-bit range and the wide Huffman tables)
    import random

    rng = random.Random(5)
    m = M._dct_matrix()
    zz = M._JPEG_ZIGZAG
    w = h = 16
    plane = np.zeros((h, w))
    for by in range(2):
        for bx in range(2):
            block = np.zeros(64)
            block[0] = rng.randint(-2000, 2000)
            for k in rng.sample(range(1, 64), 12):
                block[zz[k]] = rng.randint(-4000, 4000)
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                m.T @ block.reshape(8, 8) @ m + 2048.0
            )
    samples = np.clip(np.rint(plane), 0, 4095).astype(int).flatten().tolist()
    got = M.decode_jpeg_pixels(M.encode_jpeg12(w, h, samples, restart_interval=1))
    arr = np.array(samples, dtype=np.float64).reshape(h, w)
    ref = np.zeros((h, w))
    for by in range(2):
        for bx in range(2):
            blk = arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 2048.0
            qc = np.rint(m @ blk @ m.T)
            ref[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                m.T @ qc @ m + 2048.0
            )
    exp = (
        (np.clip(np.rint(ref), 0, 4095).astype(np.int64) >> 4)
        .astype(np.uint8).tobytes()
    )
    assert got == (w, h, 1, exp)

    # SOF0 claiming 12-bit precision is malformed (baseline is 8-bit)
    b = bytearray(M.encode_jpeg12(8, 8, [0] * 64))
    sof = bytes(b).find(b"\xff\xc1")
    b[sof + 1] = 0xC0
    with pytest.raises(ValueError, match="8-bit by spec"):
        M.decode_jpeg_pixels(bytes(b))

    # unsupported precision stays a named stub
    b = bytearray(M.encode_jpeg12(8, 8, [0] * 64))
    b[sof + 4] = 16
    with pytest.raises(NotImplementedError, match="precision"):
        M.decode_jpeg_pixels(bytes(b))


def test_jpeg_lossless_all_predictors():
    """Lossless JPEG (round 8, SOF3): every predictor (1-7), precision
    8/12/16, point transforms, category-16 wrap-around diffs, RGB
    pass-through (no color transform), and the named stubs."""
    import random
    import struct

    rng = random.Random(42)
    for precision in (8, 12, 16):
        for pred in range(1, 8):
            pt = rng.choice([0, 1, 2])
            w, h = rng.randint(1, 9), rng.randint(1, 7)
            maxv = (1 << (precision - pt)) - 1
            samples = [rng.randint(0, maxv) for _ in range(w * h)]
            got = M.decode_jpeg_pixels(
                M.encode_jpeg_lossless(w, h, samples, precision, pred, pt)
            )
            shift = precision - 8
            exp = bytes(
                (((s << pt) & 0xFFFF) >> shift) & 0xFF for s in samples
            )
            assert got == (w, h, 1, exp), (precision, pred, pt)

    # RGB components carry NO color transform
    w, h = 6, 5
    px = [tuple(rng.randint(0, 255) for _ in range(3)) for _ in range(w * h)]
    got = M.decode_jpeg_pixels(
        M.encode_jpeg_lossless(w, h, px, 8, predictor=4, channels=3)
    )
    assert got == (w, h, 3, bytes(v for tup in px for v in tup))

    # diffs of exactly -32768 use SSSS category 16 (no extra bits) and
    # reconstruction wraps mod 65536
    samples = [0, 32768, 0, 65535, 1] * 4
    got = M.decode_jpeg_pixels(M.encode_jpeg_lossless(5, 4, samples, 16))
    assert got[3] == bytes(s >> 8 for s in samples)

    # restart markers in a lossless stream stay a named stub
    raw = bytearray(M.encode_jpeg_lossless(4, 4, [0] * 16, 8))
    dri = struct.pack(">BBHH", 0xFF, 0xDD, 4, 2)
    i = bytes(raw).find(b"\xff\xda")
    with pytest.raises(NotImplementedError, match="restart"):
        M.decode_jpeg_pixels(bytes(raw[:i]) + dri + bytes(raw[i:]))

    # subsampled lossless components stay a named stub
    raw = bytearray(M.encode_jpeg_lossless(8, 8, [0] * 64, 8))
    i = bytes(raw).find(b"\xff\xc3")
    raw[i + 2 + 2 + 1 + 4 + 1 + 1] = 0x22
    with pytest.raises(NotImplementedError, match="non-subsampled"):
        M.decode_jpeg_pixels(bytes(raw))


def test_progressive_subsampled_equals_baseline():
    """Subsampled progressive JPEG (round 8): with identical content and
    sampling, the multi-scan decode must equal the baseline decode
    byte-for-byte — across DC/AC refinement depths and restart cadences.
    The baseline subsampled path is itself pinned against the numpy
    reference, so equality transfers that adjudication."""
    rng = np.random.RandomState(7)
    for s, (w, h) in [([(2, 2), (1, 1), (1, 1)], (32, 16)),
                      ([(2, 1), (1, 1), (1, 1)], (32, 16)),
                      ([(4, 1), (1, 1), (1, 1)], (64, 16)),
                      ([(4, 2), (2, 1), (1, 1)], (64, 32))]:
        img = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        base = M.decode_jpeg_pixels(
            M.encode_jpeg(w, h, img.tobytes(), 3, sampling=s)
        )
        for dc_al, ac_al, ri in [(1, 0, 0), (2, 1, 0), (1, 1, 3)]:
            prog = M.decode_jpeg_pixels(M.encode_jpeg_progressive(
                w, h, img.tobytes(), 3, dc_al=dc_al, ac_al=ac_al,
                restart_interval=ri, sampling=s,
            ))
            assert prog == base, (s, dc_al, ac_al, ri)


def test_png_gray_lowbit_roundtrip():
    """Sub-byte grayscale PNG (round 8, depths 1/2/4): packed MSB-first
    scanlines un-filter at byte offset 1, samples bit-replicate to 8
    bits (1-bit -> 0/255, 2-bit -> v*85, 4-bit -> v*17), sequential and
    Adam7, with color-key tRNS compared at RAW sample depth."""
    def rep(v, d):
        r, f = 0, 0
        while f < 8:
            r = (r << d) | v
            f += d
        return r

    for depth in (1, 2, 4):
        ncol = 1 << depth
        for (w, h) in [(1, 1), (7, 3), (9, 4), (13, 5)]:
            vals = bytes((x * 3 + y) % ncol for y in range(h) for x in range(w))
            exp = bytes(rep(v, depth) for v in vals)
            for il in (False, True):
                for f in (None, lambda y: y % 5):
                    got = M.decode_png_pixels(M.encode_png_gray_lowbit(
                        w, h, vals, depth, filter_for_row=f, interlace=il))
                    assert got == (w, h, 1, exp), (depth, w, h, il)
            key = vals[len(vals) // 2]
            got = M.decode_png_pixels(
                M.encode_png_gray_lowbit(w, h, vals, depth, trns_key=key)
            )
            assert got[:3] == (w, h, 2)
            for i, v in enumerate(vals):
                assert got[3][2 * i] == rep(v, depth)
                assert got[3][2 * i + 1] == (0 if v == key else 255)

    # sub-byte RGB is spec-invalid
    import struct
    raw = bytearray(M.encode_png_gray_lowbit(4, 4, bytes(16), 4))
    raw[8 + 8 + 9] = 2  # IHDR color-type byte
    with pytest.raises(ValueError, match="depth/color"):
        M.decode_png_pixels(bytes(raw))


def test_image_dispatch_gif_poster_frame():
    """Corpus-scan dispatch (round 8): a GIF whose first frame is a
    sub-rectangle (animation) composites its poster frame through the
    multi-frame decoder instead of failing the scan; full-frame-first
    GIFs keep the strict static decode; non-image bytes stay None."""
    pal = bytes(
        v for j in range(8)
        for v in ((j * 17) % 256, (j * 31) % 256, (j * 53) % 256)
    )
    frames = [
        {"indices": [3] * 4, "left": 1, "top": 1, "iw": 2, "ih": 2},
        {"indices": [5] * 4, "left": 0, "top": 0, "iw": 2, "ih": 2},
    ]
    b = M.encode_gif_anim(6, 4, frames, pal)
    with pytest.raises(NotImplementedError):
        M.decode_gif_pixels(b)  # the strict tier still refuses sub-rects
    g = M.decode_gif_frames(b)
    assert M._decode_any_image(b) == (g[0], g[1], g[2], g[3][0])
    assert M._decode_any_image(b"not an image") is None
    assert M._decode_any_image(None) is None


def test_image_dispatch_null_propagates_malformed():
    """ADVICE r8: a payload whose magic bytes pass but whose body is
    truncated or corrupt nulls out of the corpus-scan dispatch instead
    of aborting the task; the strict per-codec decoders keep raising."""
    good = M.encode_png(3, 2, bytes(range(18)))
    assert M._decode_any_image(good) is not None

    # truncated inside IHDR: strict decoder raises, dispatch nulls
    trunc = good[:20]
    with pytest.raises(Exception):
        M.decode_png_pixels(trunc)
    assert M._decode_any_image(trunc) is None

    # corrupt zlib stream inside IDAT
    corrupt = bytearray(good)
    corrupt[-20] ^= 0xFF
    with pytest.raises(Exception):
        M.decode_png_pixels(bytes(corrupt))
    assert M._decode_any_image(bytes(corrupt)) is None

    # truncated BMP and JPEG payloads null out the same way
    bmp = M.encode_bmp(3, 2, bytes(range(18)))
    assert M._decode_any_image(bmp[:18]) is None
    jpg = M.encode_jpeg(8, 8, bytes(range(64)), channels=1)
    assert M._decode_any_image(jpg[: len(jpg) // 2]) is None


def test_png_chunk_before_ihdr_rejected():
    """ADVICE r8: tRNS/PLTE/IDAT arriving before IHDR is a spec-invalid
    chunk ordering (PNG spec 5.6) — the strict decoder now raises
    instead of silently stashing a stale chunk for later
    re-interpretation; the dispatch path nulls it."""
    import struct
    import zlib

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    good = M.encode_png(3, 2, bytes(range(18)))
    rest = good[8:]  # IHDR + IDAT + IEND, in order
    for early in (
        chunk(b"tRNS", struct.pack(">H", 7)),
        chunk(b"PLTE", bytes(9)),
        chunk(b"IDAT", zlib.compress(bytes(7))),
    ):
        bad = b"\x89PNG\r\n\x1a\n" + early + rest
        with pytest.raises(ValueError, match="before IHDR"):
            M.decode_png_pixels(bad)
        assert M._decode_any_image(bad) is None


def test_audio_resample_linear_math():
    """Linear resample (round 9, verdict r8 item 6): output frame j is
    trunc((x[p]*(out-rem) + x[p+1]*rem)/out) with p+1 clamped at the
    tail — identity at equal rates, exact midpoints at 12k->8k, hold at
    the clamp, and C-truncation (not floor) on negative midpoints."""
    import struct

    from corintick_spark.operators.multimodal import decode_wav_pcm

    def wav(rate, vals, channels=1):
        data = struct.pack(f"<{len(vals)}h", *vals)
        block = channels * 2
        fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block,
                          block, 16)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def ref(vals, ch, in_rate, out_rate):
        nf = len(vals) // ch
        n_out = (nf * out_rate) // in_rate
        rz = []
        for j in range(n_out):
            pos = j * in_rate
            p, rem = pos // out_rate, pos % out_rate
            p1 = min(p + 1, nf - 1)
            for c in range(ch):
                num = (vals[p * ch + c] * (out_rate - rem)
                       + vals[p1 * ch + c] * rem)
                rz.append(num // out_rate if num >= 0
                          else -((-num) // out_rate))
        return rz

    # identity rate: rem is always 0, output == input (mono and stereo)
    for ch in (1, 2):
        vals = [(k * 7) % 4096 - 2048 for k in range(10 * ch)]
        _, _, samples = decode_wav_pcm(wav(8000, vals, ch))
        assert ref(samples, ch, 8000, 8000) == vals

    # 12k -> 8k: every odd output frame is a true midpoint, truncated
    assert ref([0, 100, 301], 1, 12000, 8000) == [0, 200]
    # ... and truncation goes toward zero on negative midpoints (floor
    # would give -101)
    assert ref([0, -101, -100], 1, 12000, 8000) == [0, -100]

    # 3k -> 8k upsample: interior frames interpolate with 3000/8000
    # steps; past the last input frame the clamp HOLDS the tail value
    got = ref([80, -80], 1, 3000, 8000)
    assert got == [
        80,                                   # pos 0
        (80 * 5000 + -80 * 3000) // 8000,     # pos 3/8
        (80 * 2000 + -80 * 6000) // 8000,     # pos 6/8
        -80,                                  # pos 9/8 -> both clamped
        -80,                                  # pos 12/8 -> clamped
    ]

    # stereo interleave: each channel interpolates independently
    vals = [10, -1000, 90, 1000, 170, -1000]  # L: 10,90,170  R: ±1000
    got = ref(vals, 2, 12000, 8000)
    assert got == [10, -1000, (90 + 170) // 2, 0]


def test_audio_resample_nearest_math():
    """Audio resample (round 8): output frame j takes input frame
    j*in_rate//out_rate per channel — down/identity/up, mono and
    stereo, with the interleave preserved."""
    import struct

    from corintick_spark.operators.multimodal import decode_wav_pcm

    def wav(rate, vals, channels=1):
        data = struct.pack(f"<{len(vals)}h", *vals)
        block = channels * 2
        fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block,
                          block, 16)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def ref(vals, ch, in_rate, out_rate):
        nf = len(vals) // ch
        n_out = (nf * out_rate) // in_rate
        return [
            vals[(j * in_rate // out_rate) * ch + c]
            for j in range(n_out) for c in range(ch)
        ]

    for in_rate, ch in [(16000, 1), (16000, 2), (8000, 1), (4000, 2)]:
        vals = [(k * 7) % 4096 - 2048 for k in range(12 * ch)]
        rate, got_ch, samples = decode_wav_pcm(wav(in_rate, vals, ch))
        assert (rate, got_ch) == (in_rate, ch)
        out = ref(samples, ch, in_rate, 8000)
        if in_rate == 8000:
            assert out == vals  # identity
        elif in_rate == 16000 and ch == 1:
            assert out == vals[::2]  # 2:1 decimation
        elif in_rate == 4000:
            # 1:2 upsample duplicates every frame
            nf = len(vals) // ch
            exp = []
            for j in range(nf * 2):
                src = j // 2
                exp.extend(vals[src * ch : src * ch + ch])
            assert out == exp


def _dhash_planted(m, s=1):
    """9x8 base image whose dHash is exactly m (bit k = r*8+c drives the
    sign of the adjacent-cell step), integer-upscaled by s and returned
    as RGB bytes (r=g=b so the BT.601 luma is the planted value)."""
    base = []
    for r in range(8):
        row = [128]
        for c in range(8):
            k = r * 8 + c
            row.append(row[-1] - 7 if (m >> k) & 1 else row[-1] + 7)
        base.append(row)
    w, h = 9 * s, 8 * s
    px = bytearray()
    for y in range(h):
        for x in range(w):
            v = base[y // s][x // s]
            px += bytes((v, v, v))
    return w, h, bytes(px)


def test_dhash_planted_reencode_and_upscale_invariance():
    """dHash (round 9, verdict r8 item 3): the planted comparison
    pattern IS the hash (bit-exact); PNG and BMP encodings of the same
    pixels hash identically, as do integer-upscaled copies (the exact
    area-average collapses s x s blocks back to the base grid)."""
    from corintick_spark.operators.multimodal import dhash64

    for m in (0, 1, 0x5A5A_1234_DEAD_77, (1 << 62) | 0xF0F0, 40):
        for s in (1, 2, 3):
            w, h, px = _dhash_planted(m, s)
            assert dhash64(px, w, h, 3) == m, (hex(m), s)
            # re-encoding invariance: decode(PNG) == decode(BMP) == planted
            for enc in (M.encode_png, M.encode_bmp):
                got = M._decode_any_image(enc(w, h, px))
                assert got is not None
                assert dhash64(got[3], got[0], got[1], got[2]) == m

    # bit 63 wraps into the sign bit but survives the int64 round-trip
    m = 1 << 63
    w, h, px = _dhash_planted(m, 1)
    assert dhash64(px, w, h, 3) == m - (1 << 64)


def _phash_planted(seed, w=32, h=32):
    """Smooth planted content with NONZERO amplitude in every low-freq
    DCT slot (the regime pHash is built for — every coefficient sits
    far from the median, so small pixel noise can't flip bits while
    distinct seeds differ in many slots). Amplitudes come from a
    Lehmer-style integer walk, so seed distinctness doesn't hinge on a
    small modulus. Shared by the unit test and the dedup_image_phash
    query's payload generator."""
    import math

    v = (seed * 2654435761 + 97) % (2**31)
    amps = {}
    for u in range(8):
        for p in range(8):
            if u == 0 and p == 0:
                continue
            v = (v * 1103515245 + 12345) % (2**31)
            t = v % 11 - 5
            if t >= 0:
                t += 1
            amps[(u, p)] = 2 * t
    cos_x = [[math.cos(math.pi * (2 * x + 1) * u / (2 * w))
              for x in range(w)] for u in range(8)]
    cos_y = [[math.cos(math.pi * (2 * y + 1) * p / (2 * h))
              for y in range(h)] for p in range(8)]
    out = bytearray()
    for y in range(h):
        for x in range(w):
            val = 128.0
            for (u, p), av in amps.items():
                val += av * cos_x[u][x] * cos_y[p][y]
            out.append(min(255, max(0, int(round(val)))))
    return bytes(out)


def test_phash_near_duplicate_behavior():
    """pHash: identical pixels -> identical hash; a perturbed copy (40
    pixels shifted by ±7) stays within a small Hamming ball; distinct
    planted contents land far away; integer upscale is hash-invariant."""
    from corintick_spark.operators.multimodal import phash64

    w = h = 32
    a = _phash_planted(1)
    pa = phash64(a, w, h, 1)
    assert pa == phash64(bytes(a), w, h, 1)

    b = bytearray(a)
    for t in range(40):
        i = (9973 + t * 613) % len(b)
        b[i] = min(255, max(0, b[i] + (7 if t % 2 else -7)))
    d_near = bin((pa ^ phash64(bytes(b), w, h, 1)) & (2**64 - 1)).count("1")
    assert d_near <= 6, d_near

    for s in (2, 3, 7, 19):
        d_far = bin(
            (pa ^ phash64(_phash_planted(s), w, h, 1)) & (2**64 - 1)
        ).count("1")
        assert d_far > 6, (s, d_far)

    # 2x integer upscale: area-average collapses it back, hash unchanged
    up = bytearray()
    for y in range(2 * h):
        for x in range(2 * w):
            up.append(a[(y // 2) * w + (x // 2)])
    assert phash64(bytes(up), 2 * w, 2 * h, 1) == pa


def test_classify_image_payload_classes():
    """Ingest-audit classifier (round 9): ok / corrupt / stub /
    not_image, with stats only for ok rows and stubs distinguished from
    corruption (the honest-stub posture stays visible in scan output)."""
    import struct

    from corintick_spark.operators.multimodal import _classify_image_payload

    px = bytes(range(18))
    ok = M.encode_png(3, 2, px)
    assert _classify_image_payload(ok)[1] == "ok"
    assert _classify_image_payload(M.encode_bmp(3, 2, px))[1] == "ok"
    assert _classify_image_payload(ok[:20]) == (None, "corrupt")
    inflated = bytearray(ok)
    inflated[20:24] = struct.pack(">I", 200)
    assert _classify_image_payload(bytes(inflated)) == (None, "corrupt")
    stub = (b"\xff\xd8\xff\xc9" + (9).to_bytes(2, "big") + bytes([8])
            + (8).to_bytes(2, "big") * 2 + bytes([1]))
    assert _classify_image_payload(stub) == (None, "stub")
    assert _classify_image_payload(b"plain text") == (None, "not_image")
    assert _classify_image_payload(None) == (None, "not_image")


def test_phash128_identity_and_block_axes():
    """phash128 (round 9): deterministic, upscale-invariant, and the
    thresholded block really is 8 rows (vertical freq) x 16 cols
    (horizontal freq) — content with ONLY horizontal frequencies 8-15
    must flip bits the 64-bit hash cannot see."""
    import math

    from corintick_spark.operators.multimodal import phash64, phash128

    w = h = 32
    # smooth content with a strong horizontal frequency 12 component
    px = bytes(
        min(255, max(0, int(round(
            128 + 40 * math.cos(math.pi * (2 * x + 1) * 12 / 64)
        ))))
        for y in range(h) for x in range(w)
    )
    lo, hi = phash128(px, w, h, 1)
    assert (lo, hi) == phash128(bytes(px), w, h, 1)

    # 2x integer upscale: hash-invariant
    up = bytearray()
    for y in range(2 * h):
        for x in range(2 * w):
            up.append(px[(y // 2) * w + (x // 2)])
    assert phash128(bytes(up), 2 * w, 2 * h, 1) == (lo, hi)

    # axis pinning: an independent numpy reference must reproduce every
    # bit — a transposed block (8x16 vs 16x8) or wrong bit layout
    # mismatches immediately on full-spectrum content
    import numpy as np
    import random

    rng = random.Random(3)
    for _ in range(4):
        content = bytes(rng.randrange(40, 216) for _ in range(w * h))
        g = np.frombuffer(content, dtype=np.uint8).astype(float)
        g = g.reshape(h, w)
        k = np.arange(32)
        basis = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / 64)
        basis *= np.sqrt(2.0 / 32)
        basis[0, :] = np.sqrt(1.0 / 32)
        coeffs = (basis @ g @ basis.T)[:8, :16].ravel()
        avg = (coeffs.sum() - coeffs[0]) / 127.0
        want = 0
        for i, v in enumerate(coeffs):
            if v > avg:
                want |= 1 << i
        lo2, hi2 = phash128(content, w, h, 1)
        got = (lo2 & (2**64 - 1)) | ((hi2 & (2**64 - 1)) << 64)
        assert got == want

    assert phash64(px, w, h, 1) is not None  # smoke: 64-bit path intact


def test_classify_audio_payload_classes():
    """Audio ingest-audit classifier (round 9): ok / corrupt / stub /
    not_audio, with stubs (MP3-in-WAV, >2-channel ADPCM) distinguished
    from corruption (spec-malformed MS-ADPCM predictor index)."""
    import struct

    from corintick_spark.operators.multimodal import _classify_audio_payload

    def wav(tag, ch, bits, data, ba):
        fmt = struct.pack("<HHIIHH", tag, ch, 8000, 8000, ba, bits)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data
                + (b"\x00" if len(data) % 2 else b""))
        return b"RIFF" + struct.pack("<I", len(body)) + body

    ok = wav(1, 1, 16, struct.pack("<3h", 5, -6, 7), 2)
    m, st = _classify_audio_payload(ok)
    assert st == "ok" and m[2] == [5, -6, 7]
    bad = struct.pack("<Bhhh", 7, 16, 0, 0) + bytes(2)
    assert _classify_audio_payload(wav(2, 1, 4, bad, 9)) == (None, "corrupt")
    assert _classify_audio_payload(wav(85, 1, 0, bytes(8), 1)) == (None, "stub")
    assert _classify_audio_payload(
        wav(0x11, 3, 4, bytes(16), 16)
    ) == (None, "stub")
    assert _classify_audio_payload(b"plain text") == (None, "not_audio")
    assert _classify_audio_payload(None) == (None, "not_audio")


def test_hash_gray_alpha_and_16bit_invariance():
    """ADVICE r9 (high + medium): gray+alpha (PNG color type 4, ch=2)
    must hash by the GRAY sample — the old RGB branch read past the
    buffer on the last pixel and used alpha as luma — and a 16-bit
    re-encode of the same image (2 big-endian bytes per sample) must
    hash identically to the 8-bit one (high-byte normalization)."""
    from corintick_spark.operators.multimodal import dhash64, phash64

    w = h = 32
    a = _phash_planted(5)
    d8, p8 = dhash64(a, w, h, 1), phash64(a, w, h, 1)

    # gray+alpha, varying alpha so any alpha leakage flips bits
    ga = bytearray()
    for i, v in enumerate(a):
        ga += bytes((v, (i * 37) % 256))
    got = M._decode_any_image(M.encode_png(w, h, bytes(ga), channels=2))
    assert got is not None and got[2] == 2
    assert dhash64(got[3], got[0], got[1], got[2]) == d8
    assert phash64(got[3], got[0], got[1], got[2]) == p8

    # ADVICE repro shape: a tiny ch=2 image must not IndexError
    tiny = bytes(range(32))  # 4x4 gray+alpha
    assert dhash64(tiny, 4, 4, 2) == dhash64(tiny[0::2], 4, 4, 1)

    # 16-bit gray: sample v*257 (the canonical 8->16 expansion)
    px16 = b"".join(bytes((v, v)) for v in a)
    got16 = M._decode_any_image(
        M.encode_png(w, h, px16, channels=1, depth=16)
    )
    assert got16 is not None and len(got16[3]) == 2 * w * h
    assert dhash64(got16[3], got16[0], got16[1], got16[2]) == d8
    assert phash64(got16[3], got16[0], got16[1], got16[2]) == p8

    # 16-bit gray+alpha: both normalizations composed
    ga16 = b"".join(bytes((v, v, 255, 0)) for v in a)
    gotga = M._decode_any_image(
        M.encode_png(w, h, ga16, channels=2, depth=16)
    )
    assert gotga is not None
    assert dhash64(gotga[3], gotga[0], gotga[1], gotga[2]) == d8

    # malformed buffer length is a loud decoder-bug signal, not a hash
    import pytest

    with pytest.raises(ValueError):
        M._gray_int(bytes(10), 3, 2, 2)


def test_video_phash_corrupt_gif_skips_row(spark):
    """ADVICE r9 (medium): phash_video_frames carries the corpus-scan
    posture — a GIF whose magic passes but whose body is corrupt (or
    whose header claims a pathological canvas) contributes no rows
    instead of aborting the scan task."""
    import struct

    palette = bytes(v for v in range(256) for _ in range(3))
    frames = [
        {"left": 0, "top": 0, "iw": 32, "ih": 32,
         "indices": list(_phash_planted(3)), "disposal": 0,
         "transparent": None}
        for _ in range(2)
    ]
    good = M.encode_gif_anim(32, 32, frames, palette)

    truncated = good[:40]
    huge = bytearray(good)
    huge[6:10] = struct.pack("<HH", 65535, 65535)  # corrupt-dimension bound
    flipped = bytearray(good)
    flipped[len(good) // 2] ^= 0xFF

    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(truncated)),
         (3, bytes(huge)), (4, bytes(flipped)),
         (5, b"not a gif"), (6, None)],
        "doc_id long, payload binary",
    )
    rows = M.phash_video_frames(df).collect()
    by_doc = {r.doc_id for r in rows}
    assert 1 in by_doc                      # the good clip decodes
    assert len([r for r in rows if r.doc_id == 1]) == 2
    assert by_doc - {1, 4} <= set()         # corrupt rows skip, never raise


def test_decode_errors_excludes_memoryerror():
    """ADVICE r9 (low): MemoryError must fail the task loudly, not be
    reclassified as per-row corpus corruption."""
    assert MemoryError not in M._decode_errors()
    assert NotImplementedError in M._decode_errors()


def test_audio_fp64_invariances():
    """audio_fp64 (round 10, verdict r9 item 3): amplitude scale and
    16<->24-bit transcode are exactly fingerprint-invariant; linear
    resampling stays within the Hamming ball; float32 re-encode lands
    within 1 bit; too-short streams return None; stereo fingerprints
    channel 0 only."""
    from corintick_spark.operators.multimodal import (
        audio_fp64, decode_wav_pcm, encode_wav_pcm,
    )

    def planted(g):
        v = (g * 2654435761 + 97) % (2**31)
        a, x = 2048, []
        for _ in range(65):
            x += [a] * 40
            v = (v * 1103515245 + 12345) % (2**31)
            a += 16 if (v >> 16) & 1 else -16
        return x

    def resample(x, in_rate, out_rate):
        out = []
        for j in range((len(x) * out_rate) // in_rate):
            pos = j * in_rate
            p, rem = pos // out_rate, pos % out_rate
            p1 = min(p + 1, len(x) - 1)
            num = x[p] * (out_rate - rem) + x[p1] * rem
            out.append(num // out_rate if num >= 0 else -((-num) // out_rate))
        return out

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    x = planted(7)
    f0 = audio_fp64(x)
    assert f0 == audio_fp64([3 * v for v in x])          # amplitude scale
    assert f0 == audio_fp64([256 * v for v in x])        # bit-depth scale
    assert ham(f0, audio_fp64(resample(x, 12000, 8000))) <= 4
    assert ham(f0, audio_fp64(resample(x, 12000, 6000))) <= 4
    for g in (1, 2, 9):                                   # distinct content far
        assert ham(f0, audio_fp64(planted(g * 31 + 11))) > 8

    # round-trips through the WAV encoders reproduce the fingerprint
    r16 = decode_wav_pcm(encode_wav_pcm(12000, 1, x, 16))
    assert audio_fp64(r16[2], r16[1]) == f0
    r24 = decode_wav_pcm(encode_wav_pcm(12000, 1, [v * 256 for v in x], 24))
    assert audio_fp64(r24[2], r24[1]) == f0
    rf = decode_wav_pcm(encode_wav_pcm(12000, 1, x, 32))
    assert ham(f0, audio_fp64(rf[2], rf[1])) <= 1         # float rounding

    # stereo: channel 1 carries garbage — fingerprint must ignore it
    inter = []
    for k, v in enumerate(x):
        inter += [v, (k * 7919) % 4096 - 2048]
    assert audio_fp64(inter, channels=2) == f0

    assert audio_fp64(list(range(64))) is None            # too short
    # negative 24-bit samples survive the encoder's two's complement
    neg = decode_wav_pcm(encode_wav_pcm(8000, 1, [-5, -300000, 7], 24))
    assert neg[2] == [-5, -300000, 7]


def test_video_phash128_corrupt_gif_skips_row(spark):
    """phash128_video_frames (round 10) carries the same corpus-scan
    posture as the 64-bit scan: corrupt/truncated/pathological GIFs
    contribute no rows instead of aborting the task, and good clips
    emit one two-word signature per frame."""
    import struct

    palette = bytes(v for v in range(256) for _ in range(3))
    frames = [
        {"left": 0, "top": 0, "iw": 32, "ih": 32,
         "indices": list(_phash_planted(3)), "disposal": 0,
         "transparent": None}
        for _ in range(2)
    ]
    good = M.encode_gif_anim(32, 32, frames, palette)
    huge = bytearray(good)
    huge[6:10] = struct.pack("<HH", 65535, 65535)

    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(good[:40])),
         (3, bytes(huge)), (4, b"not a gif"), (5, None)],
        "doc_id long, payload binary",
    )
    rows = M.phash128_video_frames(df).collect()
    assert {r.doc_id for r in rows} == {1}
    assert len(rows) == 2
    # identical frames -> identical signatures; words match phash128
    # applied to the composited frame
    w, h, ch, decoded = M.decode_gif_frames(bytes(good))
    lo, hi = M.phash128(decoded[0], w, h, ch)
    for r in rows:
        assert (r.phash0, r.phash1) == (lo, hi)


def test_audio_fp_words_invariances():
    """audio_fp_words (round 10): words=1 reproduces audio_fp64
    exactly; amplitude/bit-depth transcode is exactly invariant at any
    width; bit k of the multi-word fingerprint lives in word k//64 at
    position k%64; too-short streams (any empty frame) return None;
    stereo uses channel 0 only."""
    from corintick_spark.operators.multimodal import (
        audio_fp64, audio_fp_words,
    )

    def planted(g):
        from corintick_spark.queries.llm import _audio_129_base

        return _audio_129_base(g)

    x = planted(7)
    assert audio_fp_words(x, words=1) == [audio_fp64(x)]

    w2 = audio_fp_words(x, words=2)
    assert len(w2) == 2
    assert w2 == audio_fp_words([3 * v for v in x], words=2)
    assert w2 == audio_fp_words([256 * v for v in x], words=2)
    assert w2 != audio_fp_words(planted(8), words=2)

    # stereo: garbage on channel 1 must not perturb the fingerprint
    inter = []
    for k, v in enumerate(x):
        inter += [v, (k * 7919) % 4096 - 2048]
    assert audio_fp_words(inter, channels=2, words=2) == w2

    assert audio_fp_words(list(range(128)), words=2) is None


def test_jpeg_named_stubs_12bit_progressive_and_multiscan_sequential():
    """Two stubs the shared DCT decoder keeps: a progressive frame at 12-bit
    precision, and a 3-component sequential stream whose scan names only
    one component (a multi-scan sequential stream). A merged scan loop
    would otherwise accept the second one and decode one plane silently.
    The ingest classifier reports both as 'stub', not 'corrupt'."""
    from corintick_spark.operators.multimodal import _classify_image_payload

    px = _const_block_image(16, 16, 10)
    b = bytearray(M.encode_jpeg_progressive(16, 16, px, channels=1))
    i = bytes(b).find(b"\xff\xc2")
    b[i + 4] = 12  # SOF2 sample precision P
    with pytest.raises(NotImplementedError, match="precision"):
        M.decode_jpeg_pixels(bytes(b))
    assert _classify_image_payload(bytes(b)) == (None, "stub")

    rgb = bytes(v for g in px for v in (g, g, g))
    b = M.encode_jpeg(16, 16, rgb, channels=3)
    i = b.find(b"\xff\xda")
    seglen = int.from_bytes(b[i + 2 : i + 4], "big")
    # Ns=1: component 1 with table slots 0/0, Ss=0, Se=63, Ah=Al=0
    sos = b"\xff\xda" + (8).to_bytes(2, "big") + bytes([1, 1, 0x00, 0, 63, 0])
    b = b[:i] + sos + b[i + 2 + seglen :]
    with pytest.raises(NotImplementedError, match="single-scan"):
        M.decode_jpeg_pixels(b)
    assert _classify_image_payload(b) == (None, "stub")


def test_jpeg_mutations_raise_only_decode_errors():
    """Truncated and byte-overwritten streams of every JPEG process must
    decode or raise one of _decode_errors() — the classes the corpus scan
    turns into a null row. Anything else would abort a scan task.
    Covers baseline gray with restarts, baseline 4:2:0, progressive gray
    with restarts and both refinements, progressive RGB, 12-bit and
    lossless; truncation points are thinned to keep the test fast."""
    import random

    rng = np.random.RandomState(4)
    gray = rng.randint(0, 256, size=(16, 16)).astype(np.uint8).tobytes()
    rgb = rng.randint(0, 256, size=(16, 16, 3)).astype(np.uint8).tobytes()
    streams = [
        M.encode_jpeg(16, 16, gray, 1, restart_interval=1),
        M.encode_jpeg(16, 16, rgb, 3, sampling=[(2, 2), (1, 1), (1, 1)]),
        M.encode_jpeg_progressive(16, 16, gray, 1, dc_al=1, ac_al=1,
                                  restart_interval=1),
        M.encode_jpeg_progressive(16, 16, rgb, 3, dc_al=1, ac_al=1),
        M.encode_jpeg12(16, 16, [(v * 16 + 5) % 4096 for v in gray]),
        M.encode_jpeg_lossless(8, 8, list(gray[:64]), 8, predictor=4),
    ]
    errors = M._decode_errors()
    for si, b in enumerate(streams):
        assert M.decode_jpeg_pixels(b) is not None, si
        cuts = range(0, len(b), 3)
        rnd = random.Random(si)
        overwrites = []
        for _ in range(200):
            bb = bytearray(b)
            bb[rnd.randrange(len(b))] = rnd.randrange(256)
            overwrites.append(bytes(bb))
        for bb in [b[:t] for t in cuts] + overwrites:
            try:
                M.decode_jpeg_pixels(bb)
            except errors:
                pass
