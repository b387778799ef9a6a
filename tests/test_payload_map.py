"""The per-payload row map (operators/multimodal.py::_map_payloads) and the
hash pipelines that share code through it.

Pins the helper's row and type rules (null payload or None result -> null
row, list result -> 0..n rows, empty output -> empty frame with the
schema's columns, Int64 / Float64 / object columns), and pins the merged
pHash and audio-fingerprint pipelines bit for bit against frozen copies
of the separate implementations they replaced.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd
import pytest

from corintick_spark.operators import multimodal as M


def _frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def _collect(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_null_payload_and_none_result_give_null_rows(spark):
    def fn(b):
        if b is None or b == b"skip":
            return None
        return len(b), len(b) / 2, b.decode()

    df = _frame(spark, [(1, b"abc"), (2, None), (3, b"skip")])
    out = M._map_payloads(df, fn, "doc_id long, n long, half double, s string")
    assert out.columns == ["doc_id", "n", "half", "s"]
    assert _collect(out) == [
        (1, 3, 1.5, "abc"),
        (2, None, None, None),
        (3, None, None, None),
    ]


def test_list_result_gives_zero_or_more_rows_per_document(spark):
    def frames(b):
        return [(k, bytes(b[k : k + 1])) for k in range(len(b or b""))]

    df = _frame(spark, [(1, b"xy"), (2, b""), (3, None), (4, b"z")])
    out = M._map_payloads(df, frames, "doc_id long, idx long, frame binary")
    assert [(i, k, bytes(f)) for i, k, f in _collect(out)] == [
        (1, 0, b"x"), (1, 1, b"y"), (4, 0, b"z"),
    ]


def test_zero_output_rows_give_an_empty_frame_with_the_schema(spark):
    schema = "doc_id long, idx long, score double, tag string, raw binary"
    df = _frame(spark, [(i, bytes([i])) for i in range(20)]).repartition(3)
    out = M._map_payloads(df, lambda b: [], schema)
    assert out.columns == ["doc_id", "idx", "score", "tag", "raw"]
    assert out.collect() == []
    # one batch empty, the other not: the types still line up
    some = M._map_payloads(
        df, lambda b: [(1, 0.5, "t", b)] if b[0] == 7 else [], schema
    )
    assert [tuple(r)[:4] for r in some.collect()] == [(7, 1, 0.5, "t")]


def test_column_types_follow_the_ddl():
    ints = M._column([1, None, -(2**63)], "long")
    assert str(ints.dtype) == "Int64"
    assert ints.isna().tolist() == [False, True, False]

    floats = M._column([1.25, None, float("nan"), float("inf")], "double")
    assert str(floats.dtype) == "Float64"
    # None is NULL; a computed NaN stays a NaN value, as column arithmetic
    # leaves it (pd.array(..., dtype="Float64") would turn it into NULL)
    assert floats._mask.tolist() == [False, True, False, False]
    assert math.isnan(floats._data[2]) and floats._data[3] == math.inf

    objs = M._column(["a", None], "string")
    assert objs.dtype == object and objs.tolist() == ["a", None]
    assert M._column([], "binary").dtype == object


def test_double_nan_and_null_survive_to_spark(spark):
    df = _frame(spark, [(1, b"n"), (2, b"x"), (3, None)])
    out = M._map_payloads(
        df,
        lambda b: None if b is None else (float("nan") if b == b"n" else 2.0,),
        "doc_id long, v double",
    )
    got = dict(_collect(out))
    assert math.isnan(got[1]) and got[2] == 2.0 and got[3] is None


def test_id_column_may_be_the_mapped_column(spark):
    d = spark.range(5).withColumnRenamed("id", "doc_id")
    out = M._map_payloads(
        d, lambda i: (bytes([i]) * i,), "doc_id long, payload binary",
        "doc_id", "doc_id",
    )
    assert [(i, bytes(p)) for i, p in _collect(out)] == [
        (i, bytes([i]) * i) for i in range(5)
    ]


def test_audio_meta_duration_matches_pandas_column_rounding(spark):
    """duration_us keeps numpy's round-to-6-places, which differs from
    Python's round() at ties, and a zero rate still yields inf / NaN."""
    pairs = [(f, r) for f in (1, 3, 7, 11, 441, 99991) for r in (3, 7, 48000, 96000)]
    pairs += [(0, 0), (5, 0)]

    def wav(frames, rate):  # header only: the data chunk size sets frames
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        return (
            b"RIFF" + struct.pack("<I", 36) + b"WAVE" + b"fmt "
            + struct.pack("<I", 16) + fmt + b"data" + struct.pack("<I", 2 * frames)
        )

    df = _frame(spark, [(k, wav(f, r)) for k, (f, r) in enumerate(pairs)])
    got = {r.doc_id: r.duration_us for r in M.decode_audio_meta(df).collect()}
    frames = pd.array([f for f, _ in pairs], dtype="Int64").astype("Float64")
    rates = pd.array([r for _, r in pairs], dtype="Int64").astype("Float64")
    want = (frames * 1_000_000.0 / rates).round(6).to_numpy(dtype="float64")
    for k, w in enumerate(want):
        assert got[k] == w or (math.isnan(got[k]) and math.isnan(w)), (pairs[k], got[k], w)


# --- frozen copies of the pipelines before they were merged -------------


def _phash_reference(px, w, h, ch, cols, size=32):
    gray = np.asarray(M._gray_int(px, w, h, ch), dtype=np.float64).reshape(h, w)
    if h % size == 0 and w % size == 0:
        cells = gray.reshape(size, h // size, size, w // size).mean(axis=(1, 3))
    else:
        cells = np.zeros((size, size), dtype=np.float64)
        for r in range(size):
            y0 = r * h // size
            y1 = max(y0 + 1, (r + 1) * h // size)
            for c in range(size):
                x0 = c * w // size
                x1 = max(x0 + 1, (c + 1) * w // size)
                cells[r, c] = gray[y0:y1, x0:x1].mean()
    k = np.arange(size)
    basis = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * size))
    basis *= np.sqrt(2.0 / size)
    basis[0, :] = np.sqrt(1.0 / size)
    block = (basis @ cells @ basis.T)[:8, :cols].ravel()
    if cols == 8:
        avg = float((block.sum() - block[0]) / 63.0)
    else:
        avg = float((block.sum() - block[0]) / (block.size - 1))
    hv = 0
    for i, v in enumerate(block):
        if v > avg:
            hv |= 1 << i
    words = [(hv >> (64 * j)) & (2**64 - 1) for j in range(cols // 8)]
    return [v - (1 << 64) if v >= 1 << 63 else v for v in words]


def _audio_fp64_reference(samples, channels=1):
    if channels > 1:
        samples = samples[0::channels]
    n = len(samples)
    if n < 65:
        return None
    bounds = [k * n // 65 for k in range(66)]
    energies, lens = [], []
    for k in range(65):
        seg = samples[bounds[k] : bounds[k + 1]]
        energies.append(sum(x * x for x in seg))
        lens.append(len(seg))
    hv = 0
    for k in range(64):
        if energies[k + 1] * lens[k] > energies[k] * lens[k + 1]:
            hv |= 1 << k
    return hv - (1 << 64) if hv >= 1 << 63 else hv


def _planted_images():
    rng = np.random.default_rng(7)
    out = []
    for w, h, ch in [(32, 32, 1), (64, 32, 3), (33, 35, 1), (17, 9, 3),
                     (40, 40, 2), (96, 64, 4), (31, 47, 3), (8, 8, 1)]:
        smooth = np.add.outer(np.arange(h) * 3, np.arange(w) * 5) % 256
        for noise in (0, 9, 60):
            base = np.repeat(smooth[:, :, None], ch, axis=2).astype(int)
            base += rng.integers(-noise, noise + 1, size=base.shape)
            out.append((bytes(np.clip(base, 0, 255).astype(np.uint8)), w, h, ch))
    # the planted pHash corpus images (PNG round trip)
    for i in (0, 1, 5, 9, 402):
        g, r = divmod(i, 4)
        px = M.decode_png_pixels(
            M.encode_png(32, 32, bytes((g * 31 + k * (r + 1)) % 256 for k in range(1024)), 1)
        )
        out.append((px[3], px[0], px[1], px[2]))
    return out


def test_phash64_and_phash128_keep_their_bits():
    for px, w, h, ch in _planted_images():
        assert M.phash64(px, w, h, ch) == _phash_reference(px, w, h, ch, 8)[0]
        assert list(M.phash128(px, w, h, ch)) == _phash_reference(px, w, h, ch, 16)
        assert M.phash64(px, w, h, ch, size=16) == _phash_reference(px, w, h, ch, 8, 16)[0]


@pytest.mark.parametrize("n", [0, 1, 64, 65, 66, 129, 130, 260, 1000, 4097])
@pytest.mark.parametrize("channels", [1, 2])
def test_audio_fp_words_one_word_is_the_64bit_fingerprint(n, channels):
    samples = [((k * 7919) % 4001 - 2000) * (1 + (k // 37) % 5) for k in range(n * channels)]
    want = _audio_fp64_reference(samples, channels)
    got = M.audio_fp_words(samples, channels, 1)
    assert (got if got is None else got[0]) == want
    assert (want is None) == (n < 65)


def test_gif_interlace_order_round_trips():
    for h in range(1, 20):
        rows = M._gif_interlace_rows(h)
        assert sorted(rows) == list(range(h))
        assert rows[: (h + 7) // 8] == list(range(0, h, 8))
        idx = list(range(3 * h))
        assert M._gif_deinterlace(M._gif_interlace(idx, 3, h), 3, h) == idx
    pal = bytes(j * 30 + c for j in range(8) for c in range(3))
    idx = [(k * 5) % 8 for k in range(5 * 11)]
    plain = M.decode_gif_pixels(M.encode_gif(5, 11, idx, pal))
    assert M.decode_gif_pixels(M.encode_gif(5, 11, idx, pal, interlace=True)) == plain


def test_decode_any_image_is_the_classified_decode():
    png = M.encode_png(3, 2, bytes(range(18)))
    stub = b"\xff\xd8\xff\xc9" + (9).to_bytes(2, "big") + bytes([8]) + (8).to_bytes(2, "big") * 2 + bytes([1])
    for b in [png, png[:20], M.encode_bmp(3, 2, bytes(range(18))), stub,
              b"plain text", b"", None]:
        assert M._decode_any_image(b) == M._classify_image_payload(b)[0]
