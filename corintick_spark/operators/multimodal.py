"""Multimodal column support: opaque binary payloads + typed metadata.

Design (SURVEY.md / north_star "multimodal columns"): media travels as a
``binary`` column next to typed metadata columns; decode / feature-extract /
resize / frame-sample run as Arrow-batched functions over ``mapInPandas``.

Decoding is REAL and dependency-free (pure-stdlib ``struct``/``zlib``
spec-derived parsers, rounds 5-10), not stubbed:

- **Image headers**: width/height/format for PNG/JPEG/GIF/BMP
  (``parse_image_header``).
- **Image pixels**: PNG (all filter types; 1/2/4/8/16-bit gray, palette,
  gray+alpha, RGB(A), tRNS color-key, Adam7 interlace), BMP (24/32-bit,
  16-bit and arbitrary BI_BITFIELDS masks, 1/4/8-bit palette, RLE4/RLE8),
  GIF (LZW, interlace, animation frame compositing with disposal methods),
  JPEG (Huffman-coded sequential SOF0/SOF1 at 8 or 12 bits, progressive
  SOF2 and lossless SOF3; restart markers; 4:4:4/4:2:0/4:2:2/4:1:1
  chroma subsampling).
- **Audio samples**: WAV PCM 8/16/24-bit, IEEE float32/float64, G.711
  mu/A-law, mono/stereo IMA and MS ADPCM (``decode_wav_pcm``), plus linear
  resampling and perceptual fingerprints over the decoded samples.
- **Video**: frame extraction and per-frame perceptual hashing over the
  repo's frame-container layout (``phash_video_frames``).

Honest NAMED stubs remain for variants whose correctness cannot be
verified in this container — each raises ``NotImplementedError`` naming
the variant (never silent corruption): arithmetic-coded / hierarchical /
12-bit-progressive / multi-scan-sequential JPEG, >2-channel ADPCM,
MP3-in-WAV. Corpus-scan entry points classify these per ROW (see
``_decode_errors`` / the ingest-audit queries) so one exotic or corrupt
file cannot abort a 100 TB scan, while the per-codec decoders stay strict.

Scale notes: binary payloads make rows wide — repartition so batches stay
within executor memory (``target_rows_per_batch``), and never collect
payloads to the driver. mapInPandas streams Arrow record batches, so peak
memory is one batch per core, not one partition. Downstream dedup joins
shuffle (id, signature) rows only — payload bytes never cross a shuffle.
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
import pyspark.sql.functions as F


def _column(values: "list", ddl_type: str):
    """One output column of :func:`_map_payloads`, typed from its DDL
    type: ``long`` -> nullable Int64, ``double`` -> nullable Float64
    (None is NULL and a computed NaN stays NaN, as pandas column
    arithmetic leaves it), anything else an object column."""
    if ddl_type == "long":
        return pd.array(values, dtype="Int64")
    if ddl_type == "double":
        mask = np.array([v is None for v in values], dtype=bool)
        data = np.array([0.0 if v is None else v for v in values], dtype="float64")
        return pd.arrays.FloatingArray(data, mask)
    return pd.Series(values, dtype=object)


def _map_payloads(
    df: DataFrame,
    fn,
    schema: str,
    id_col: str = "doc_id",
    payload: str = "payload",
) -> DataFrame:
    """The one per-payload row map behind every multimodal operator and
    planted-corpus builder: ``fn`` maps each value of ``payload`` (None
    included) to the output columns that follow the id in the DDL
    ``schema``. What ``fn`` returns sets the rows:

    - a tuple: one row;
    - None: one row of nulls (a null payload or undecodable value);
    - a list of tuples: zero or more rows, each carrying the id (the
      per-frame operators; an empty list skips the document).

    Nothing is caught here, so each ``fn`` keeps its operator's posture
    (strict, null-propagating or classifying). Arrow-batched
    ``mapInPandas``: peak memory is one batch per core, and the only
    per-row Python is ``fn`` itself. ``payload`` may name the id column
    (the builders map ``doc_id`` to bytes)."""
    cols = [c.split() for c in schema.split(",")]
    (id_name, _), out = cols[0], cols[1:]
    nulls = (None,) * len(out)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, rows = [], []
            for i, v in zip(
                pdf[id_col].astype("int64").tolist(), pdf[payload].tolist()
            ):
                r = fn(v)
                if isinstance(r, list):
                    ids += [i] * len(r)
                    rows += r
                else:
                    ids.append(i)
                    rows.append(nulls if r is None else r)
            vals = list(zip(*rows)) if rows else [()] * len(out)
            yield pd.DataFrame(
                {
                    id_name: np.array(ids, dtype="int64"),
                    **{
                        name: _column(list(v), typ)
                        for (name, typ), v in zip(out, vals)
                    },
                }
            )

    prepared = df.select(*dict.fromkeys((id_col, payload)))
    return prepared.mapInPandas(batches, schema=schema)


DECODE_SCHEMA = (
    "doc_id long, n_bytes long, width long, height long, format string"
)


def parse_image_header(b: bytes | None) -> tuple[int, int, str] | None:
    """Dependency-free (width, height, format) from real image bytes.

    Pure-``struct`` header parsing — no PIL/libvips needed — covering the
    formats that dominate web-crawl corpora:

    - PNG: 8-byte signature, then the IHDR chunk's big-endian width/height
      (PNG spec §11.2.2 — IHDR is required to be first).
    - JPEG: walk the marker segments to the first SOFn frame header
      (0xC0–0xCF minus the non-frame C4/C8/CC) and read its big-endian
      height/width.
    - GIF: 6-byte version signature then little-endian logical-screen size.
    - BMP: BITMAPINFOHEADER little-endian signed width/height at 18/22.

    Returns None for unrecognized/truncated payloads.
    """
    import struct

    if b is None or len(b) < 12:
        return None
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        if len(b) >= 24 and b[12:16] == b"IHDR":
            w, h = struct.unpack(">II", b[16:24])
            return (w, h, "png")
        return None
    if b[:2] == b"\xff\xd8":  # JPEG SOI
        off = 2
        while off + 4 <= len(b):
            if b[off] != 0xFF:
                return None
            marker = b[off + 1]
            if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
                off += 2  # standalone markers have no length field
                continue
            if off + 4 > len(b):
                return None
            (seg_len,) = struct.unpack(">H", b[off + 2 : off + 4])
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if off + 9 > len(b):
                    return None
                h, w = struct.unpack(">HH", b[off + 5 : off + 9])
                return (w, h, "jpeg")
            off += 2 + seg_len
        return None
    if b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])
        return (w, h, "gif")
    if b[:2] == b"BM" and len(b) >= 26:
        w, h = struct.unpack("<ii", b[18:26])
        return (w, abs(h), "bmp")  # negative height = top-down DIB
    return None


def attach_payload(df: DataFrame, text: str = "text", out: str = "payload") -> DataFrame:
    """Demo payload: utf-8 bytes of the text column (stands in for real media
    bytes; schema/partitioning behavior is identical)."""
    return df.withColumn(out, F.encode(F.col(text), "utf-8"))


def decode_image_meta(
    df: DataFrame,
    id_col: str = "doc_id",
    payload: str = "payload",
    fake: bool = False,
    on_unknown: str = "error",
    target_rows_per_batch: int = 1024,
) -> DataFrame:
    """Extract (width, height, format) from an image payload column.

    ``fake=False`` is REAL for PNG/JPEG/GIF/BMP: dimensions come from a
    dependency-free header parse (:func:`parse_image_header`) — no PIL
    needed. Payloads in other formats hit ``on_unknown``:

    - ``"error"`` (default): NotImplementedError naming the stub — pixel
      decoding of further formats needs PIL/libvips, absent here;
    - ``"null"``: null metadata, the 100 TB posture (one exotic blob must
      not kill a corpus-wide scan). NULL payloads always null-propagate.

    ``fake=True`` keeps the deterministic byte-length pseudo-metadata for
    exercising the plumbing with non-image payloads (e.g. text bytes).
    """

    def meta(b):
        # null payloads (a 100 TB corpus has them) must null-propagate
        # through the metadata, not TypeError the batch
        n = None if b is None else len(b)
        if fake:
            if n is None:
                return None, None, None, "fake/raw"
            return n, n % 640 + 1, n % 480 + 1, "fake/raw"
        m = parse_image_header(b)
        if m is None and b is not None and on_unknown == "error":
            raise NotImplementedError(
                "unrecognized image payload (not PNG/JPEG/GIF/BMP); "
                "full decoding requires PIL/libvips (not in "
                "container) — pass on_unknown='null' to skip"
            )
        return None if n is None else (n, *(m or (None, None, None)))

    return _map_payloads(df, meta, DECODE_SCHEMA, id_col, payload)


def frame_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    payload: str = "payload",
    every_n: int = 10,
    fake: bool = False,
) -> DataFrame:
    """Sample every-Nth 'frame' of a video payload → one row per frame.

    Stub codec: with fake=True, frames are fixed-size byte slices; real
    implementation would use pyav/ffmpeg (not in container). Like every
    operator here it goes through :func:`_map_payloads`, so the only
    per-blob Python is the codec call itself (here a byte slice), which
    is inherent to opaque binary payloads.
    """
    schema = "doc_id long, frame_idx long, frame binary"
    chunk = max(1, every_n) * 16

    def frames(b):
        if not fake:
            raise NotImplementedError(
                "video decoding requires pyav/ffmpeg (not in container); "
                "pass fake=True to exercise the plumbing"
            )
        return [
            (k, bytes(b[off : off + 16]))
            for k, off in enumerate(range(0, len(b), chunk))
        ]

    return _map_payloads(df, frames, schema, id_col, payload)


AUDIO_SCHEMA = (
    "doc_id long, n_bytes long, sample_rate long, channels long,"
    " bits long, n_frames long, duration_us double"
)


def parse_wav_header(b: bytes | None) -> tuple[int, int, int, int] | None:
    """REAL dependency-free WAV (RIFF) header parse — same posture as
    :func:`parse_image_header`: the metadata tier of audio decode needs no
    audio library, just the container spec (RIFF 1991, public knowledge).

    Walks the chunk list: ``RIFF<size>WAVE``, then ``fmt `` (PCM layout:
    format/channels at 0/2, sample rate at 4, block align at 12, bits at
    14, all little-endian) and ``data`` (payload size -> frame count =
    size / block_align). Returns (sample_rate, channels, bits, n_frames)
    or None if the bytes are not a parseable WAV."""
    import struct

    if b is None or len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos = 12
    rate = channels = bits = block_align = None
    n_frames = None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (csize,) = struct.unpack_from("<I", b, pos + 4)
        body = pos + 8
        if cid == b"fmt " and csize >= 16 and body + 16 <= len(b):
            _, channels, rate, _, block_align, bits = struct.unpack_from(
                "<HHIIHH", b, body
            )
        elif cid == b"data" and block_align:
            n_frames = csize // block_align
        pos = body + csize + (csize & 1)  # chunks are word-aligned
    if rate is None or n_frames is None:
        return None
    return rate, channels, bits, n_frames


def decode_audio_meta(
    df: DataFrame,
    id_col: str = "doc_id",
    payload: str = "payload",
    on_unknown: str = "error",
) -> DataFrame:
    """Extract (sample_rate, channels, bits, n_frames, duration_us) from a
    WAV payload column — REAL for RIFF/WAV via :func:`parse_wav_header`;
    compressed formats (mp3/flac/ogg) would need libsndfile/ffmpeg (absent
    here) and hit ``on_unknown`` ('error' raises the honest stub,
    'null' null-propagates, the 100 TB posture). NULL payloads always
    null-propagate."""

    def meta(b):
        m = parse_wav_header(b)
        if m is None and b is not None and on_unknown == "error":
            raise NotImplementedError(
                "unrecognized audio payload (not RIFF/WAV); compressed"
                " formats need libsndfile/ffmpeg (not in container) —"
                " pass on_unknown='null' to skip"
            )
        if b is None:
            return None
        if m is None:
            return len(b), None, None, None, None, None
        rate, channels, bits, frames = m
        # numpy float64 division and rounding, as pandas column
        # arithmetic computed it: a zero rate gives inf or NaN, not an
        # error, and np.round can differ from round() at ties
        with np.errstate(divide="ignore", invalid="ignore"):
            dur = np.round(np.float64(frames) * 1_000_000.0 / rate, 6)
        return len(b), rate, channels, bits, frames, float(dur)

    return _map_payloads(df, meta, AUDIO_SCHEMA, id_col, payload)


FRAMES_SCHEMA = "doc_id long, frame_idx long, frame_bytes long"


def parse_frames_header(b: bytes | None) -> tuple[int, int, int, int] | None:
    """Minimal deterministic video-ish container ("FRMS"): magic + u32
    frame count + u16 width/height + u32 bytes-per-frame, then the frame
    payloads back to back. A stand-in CONTAINER (the pixel codec stays
    honest-stubbed — that needs ffmpeg), but the container walk — the part
    Spark plumbing actually touches for frame sampling — is real, same
    posture as the PNG/WAV header parsers. Returns
    (n_frames, width, height, frame_bytes) or None."""
    import struct

    if b is None or len(b) < 16 or b[:4] != b"FRMS":
        return None
    n, w, h, fb = struct.unpack_from("<IHHI", b, 4)
    if len(b) < 16 + n * fb:
        return None
    return n, w, h, fb


def sample_container_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload: str = "payload",
    every_n: int = 2,
) -> DataFrame:
    """REAL frame sampling over FRMS containers: parse the header, emit
    every Nth frame's (index, byte length) — the metadata a downstream
    vision pipeline keys its decode work off. NULL / non-FRMS payloads
    null-propagate as zero rows (the corpus-scan posture); the only
    per-blob Python is the header walk itself."""

    def frames(b):
        m = parse_frames_header(b)
        if m is None:
            return []
        n, _, _, fb = m
        return [(k, fb) for k in np.arange(0, n, every_n).tolist()]

    return _map_payloads(df, frames, FRAMES_SCHEMA, id_col, payload)


# ---------------------------------------------------------------------------
# REAL pixel decode — stdlib (+ numpy for the JPEG DCT). PNG (zlib
# inflate + scanline un-filtering, PNG spec §9 "Filtering"), BMP, LZW GIF
# (with animated-GIF compositing in decode_gif_frames) and JPEG (see
# decode_jpeg_pixels below) are fully real end to end: header, stream,
# and pixel bytes, all normalized to top-down gray or RGB. Unsupported
# sub-formats raise NotImplementedError naming the gap (see the module
# docstring).
# ---------------------------------------------------------------------------

_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, rgb, gray+a, rgba

# Adam7 interlace pass grid: (x offset, y offset, x step, y step) —
# PNG spec §8.2; each pass is an independently-filtered sub-image.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, stride: int, h: int, bypp: int) -> bytearray:
    """Reverse PNG scanline filtering over an h x stride segment (filter
    byte per row, all five types, byte offset unit = bytes-per-pixel).
    Shared by the sequential path and each Adam7 pass."""
    out = bytearray(stride * h)
    prev = bytes(stride)  # zero row above the first scanline (spec)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ftype == 1:  # Sub
            for i in range(bypp, stride):
                line[i] = (line[i] + line[i - bypp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bypp] if i >= bypp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bypp] if i >= bypp else 0
                c = prev[i - bypp] if i >= bypp else 0
                p = a + prev[i] - c
                pa, pb, pc = abs(p - a), abs(p - prev[i]), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (prev[i] if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"invalid PNG filter type {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prev = bytes(line)
    return out


def decode_png_pixels(b: bytes | None) -> tuple[int, int, int, bytes] | None:
    """Decode an 8- or 16-bit-depth PNG (gray / RGB / gray+alpha / RGBA /
    palette — round 7 added color type 3, round 8 adds bit depth 16,
    Adam7 interlacing, and palette transparency) to raw pixel bytes:
    (width, height, channels, pixels) with ``pixels`` row-major — one
    byte per sample at depth 8 (``width*height*channels`` bytes), two
    big-endian bytes per sample at depth 16 (full precision preserved).
    Palette images expand through their PLTE chunk to RGB — or to RGBA
    when a tRNS chunk supplies per-entry alpha (entries past the tRNS
    length are opaque, per spec). Gray/RGB images with a color-key tRNS
    (round 8) gain an alpha sample per pixel: 0 where every sample
    equals the key exactly, full opacity elsewhere (spec 11.3.2 — the
    key is stored as 2-byte big-endian samples whose low ``depth`` bits
    are significant). Adam7 streams reassemble from seven
    independently-filtered sub-images (empty passes contribute no
    scanlines).

    Pure stdlib: chunk walk -> IDAT concat -> ``zlib.decompress`` ->
    per-scanline un-filtering of all five PNG filter types (None/Sub/Up/
    Average/Paeth); the filter byte-offset unit is bytes-per-pixel
    (channels * depth/8), the spec's one depth-16 subtlety. Returns None
    for non-PNG bytes; raises NotImplementedError for valid PNGs outside
    the supported subset (sub-byte gray depths) — the honest-stub
    posture.
    """
    import struct
    import zlib

    if b is None or len(b) < 8 or b[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos = 8
    w = h = None
    channels = 0  # logical samples per pixel
    bypp = 0  # bytes per pixel in the FILTER stream
    color = None
    palette = None
    trns = None
    idat = bytearray()
    while pos + 8 <= len(b):
        (clen,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4 : pos + 8]
        body = b[pos + 8 : pos + 8 + clen]
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if (
                (color in (2, 4, 6) and depth not in (8, 16))
                or (color == 0 and depth not in (1, 2, 4, 8, 16))
                or (color == 3 and depth not in (1, 2, 4, 8))
                or (color not in _PNG_CHANNELS and color != 3)
                or interlace not in (0, 1)
            ):
                raise ValueError(
                    "invalid PNG depth/color-type combination "
                    f"(depth {depth}, color {color} — spec 11.2.2)"
                )
            channels = 1 if color == 3 else _PNG_CHANNELS[color]
            # sub-byte palette depths (round 8): the filter stream is the
            # PACKED byte stream and the filter offset unit is ONE byte
            # (spec: bpp rounds up to 1); indices unpack after
            # un-filtering, per scanline (pass-scanline under Adam7).
            bypp = max(1, channels * (depth // 8))
        elif ctype == b"PLTE":
            if w is None:
                raise ValueError("PLTE before IHDR (PNG spec 5.6)")
            palette = bytes(body)
        elif ctype == b"tRNS":
            # chunk ordering is part of the spec: tRNS/PLTE/IDAT are
            # only meaningful once IHDR fixed the color type — a tRNS
            # stored while color is still None would silently be
            # re-interpreted later (ADVICE r8)
            if w is None:
                raise ValueError("tRNS before IHDR (PNG spec 5.6)")
            if color in (4, 6):
                raise ValueError(
                    "tRNS is invalid on alpha-bearing color types "
                    "(PNG spec 11.3.2)"
                )
            # color 3: alpha per palette entry (rest opaque); color 0/2
            # (round 8): the color key — 2-byte big-endian sample(s)
            trns = bytes(body)
        elif ctype == b"IDAT":
            if w is None:
                raise ValueError("IDAT before IHDR (PNG spec 5.6)")
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + clen  # length + type + body + crc
    if w is None or not idat:
        return None
    if color == 3 and (palette is None or len(palette) % 3):
        raise ValueError("palette PNG without a valid PLTE chunk")
    raw = zlib.decompress(bytes(idat))
    packed = depth < 8  # colors 0 and 3 only, per the validation above
    if not packed:
        stride = w * bypp
        if interlace == 0:
            if len(raw) != (stride + 1) * h:
                raise ValueError("PNG pixel stream length mismatch")
            out = _png_unfilter(raw, stride, h, bypp)
        else:  # Adam7 (round 8): seven independently-filtered sub-images
            out = bytearray(stride * h)
            off = 0
            for x0, y0, dx, dy in _ADAM7:
                wp = (w - x0 + dx - 1) // dx
                hp = (h - y0 + dy - 1) // dy
                if wp <= 0 or hp <= 0:
                    continue  # empty pass contributes NO scanlines (spec)
                pstride = wp * bypp
                seg = raw[off : off + (pstride + 1) * hp]
                if len(seg) != (pstride + 1) * hp:
                    raise ValueError("PNG pixel stream length mismatch")
                off += len(seg)
                sub = _png_unfilter(seg, pstride, hp, bypp)
                for yy in range(hp):
                    oy = y0 + yy * dy
                    for xx in range(wp):
                        ox = x0 + xx * dx
                        s = (yy * wp + xx) * bypp
                        d = (oy * w + ox) * bypp
                        out[d : d + bypp] = sub[s : s + bypp]
            if off != len(raw):
                raise ValueError("PNG pixel stream length mismatch")
    else:
        # sub-byte palette depths (1/2/4): scanlines are PACKED index
        # bytes (MSB-first within each byte, rows padded to whole bytes);
        # un-filter the packed stream (offset unit 1 byte per spec),
        # then unpack per scanline — per PASS scanline under Adam7.
        ppb = 8 // depth
        mask = (1 << depth) - 1

        def _unpack(row: bytes, npix: int) -> bytes:
            return bytes(
                (row[i // ppb] >> ((ppb - 1 - i % ppb) * depth)) & mask
                for i in range(npix)
            )

        out = bytearray(w * h)
        if interlace == 0:
            rb = (w * depth + 7) // 8
            if len(raw) != (rb + 1) * h:
                raise ValueError("PNG pixel stream length mismatch")
            flat = _png_unfilter(raw, rb, h, 1)
            for y in range(h):
                out[y * w : (y + 1) * w] = _unpack(flat[y * rb : (y + 1) * rb], w)
        else:
            off = 0
            for x0, y0, dx, dy in _ADAM7:
                wp = (w - x0 + dx - 1) // dx
                hp = (h - y0 + dy - 1) // dy
                if wp <= 0 or hp <= 0:
                    continue
                rb = (wp * depth + 7) // 8
                seg = raw[off : off + (rb + 1) * hp]
                if len(seg) != (rb + 1) * hp:
                    raise ValueError("PNG pixel stream length mismatch")
                off += len(seg)
                sub = _png_unfilter(seg, rb, hp, 1)
                for yy in range(hp):
                    vals = _unpack(sub[yy * rb : (yy + 1) * rb], wp)
                    for xx in range(wp):
                        out[(y0 + yy * dy) * w + (x0 + xx * dx)] = vals[xx]
            if off != len(raw):
                raise ValueError("PNG pixel stream length mismatch")
    if color == 0 and depth < 8:
        # sub-byte grayscale (round 8): samples scale to 8 bits by bit
        # replication (spec 12.5 sample-depth scaling — 1-bit -> 0/255,
        # 2-bit -> v*85, 4-bit -> v*17); a color-key tRNS compares at
        # the RAW sample depth before scaling.
        key = None
        if trns is not None:
            if len(trns) != 2:
                raise ValueError("tRNS color-key length mismatch")
            key = struct.unpack(">H", trns)[0] & ((1 << depth) - 1)
        ch = 1 if key is None else 2
        rgb = bytearray(w * h * ch)
        for i, v in enumerate(out):
            rgb[i * ch] = _bit_replicate(v, depth)
            if ch == 2:
                rgb[i * ch + 1] = 0 if v == key else 255
        return w, h, ch, bytes(rgb)
    if color == 3:
        n = len(palette) // 3
        ch = 3 if trns is None else 4
        rgb = bytearray(w * h * ch)
        for i, ix in enumerate(out):
            if ix >= n:
                raise ValueError("palette index out of range")
            rgb[i * ch : i * ch + 3] = palette[ix * 3 : ix * 3 + 3]
            if ch == 4:
                rgb[i * ch + 3] = trns[ix] if ix < len(trns) else 255
        return w, h, ch, bytes(rgb)
    if trns is not None and color in (0, 2):
        # color-key transparency (round 8): append one alpha sample per
        # pixel — 0 where EVERY sample equals the key, full opacity
        # elsewhere. Keys store as 2-byte big-endian samples whose low
        # `depth` bits are significant (spec 11.3.2).
        if len(trns) != 2 * channels:
            raise ValueError("tRNS color-key length mismatch")
        key = struct.unpack(">" + "H" * channels, trns)
        sb = depth // 8  # bytes per sample
        opaque, clear = b"\xff" * sb, b"\x00" * sb
        step = channels * sb
        res = bytearray()
        for off in range(0, len(out), step):
            px = out[off : off + step]
            if sb == 1:
                match = all(px[j] == (key[j] & 0xFF) for j in range(channels))
            else:
                match = all(
                    ((px[2 * j] << 8) | px[2 * j + 1]) == key[j]
                    for j in range(channels)
                )
            res += px + (clear if match else opaque)
        return w, h, channels + 1, bytes(res)
    return w, h, channels, bytes(out)


def _png_filter_segment(
    seg: bytes, stride: int, rows: int, bypp: int, filter_for_row, row_off: int
) -> bytearray:
    """Forward-filter one sub-image (the exact inverse of
    :func:`_png_unfilter`); ``row_off`` keeps filter_for_row's rotation
    continuous across Adam7 passes."""
    out = bytearray()
    prev = bytes(stride)
    for y in range(rows):
        line = seg[y * stride : (y + 1) * stride]
        ftype = filter_for_row(row_off + y) if filter_for_row else 0
        enc = bytearray(line)
        if ftype == 1:
            for i in range(stride - 1, bypp - 1, -1):
                enc[i] = (enc[i] - line[i - bypp]) & 0xFF
        elif ftype == 2:
            for i in range(stride):
                enc[i] = (enc[i] - prev[i]) & 0xFF
        elif ftype == 3:
            for i in range(stride):
                a = line[i - bypp] if i >= bypp else 0
                enc[i] = (enc[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:
            for i in range(stride):
                a = line[i - bypp] if i >= bypp else 0
                c = prev[i - bypp] if i >= bypp else 0
                p = a + prev[i] - c
                pa, pb, pc = abs(p - a), abs(p - prev[i]), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (prev[i] if pb <= pc else c)
                enc[i] = (enc[i] - pred) & 0xFF
        out += bytes([ftype]) + bytes(enc)
        prev = line
    return out


def _png_pack_rows(vals: bytes, width: int, height: int, depth: int) -> bytes:
    """Pack one sub-byte sample per pixel MSB-first into scanlines padded
    to whole bytes (PNG spec 7.2)."""
    ppb = 8 // depth
    rb = (width * depth + 7) // 8
    out = bytearray(rb * height)
    for y in range(height):
        for x in range(width):
            shift = (ppb - 1 - x % ppb) * depth
            out[y * rb + x // ppb] |= vals[y * width + x] << shift
    return bytes(out)


def _png_filter_stream(
    pixels: bytes, width: int, height: int, bits: int, filter_for_row,
    interlace: bool,
) -> bytes:
    """Filtered IDAT payload — sequential, or seven Adam7 passes each
    filtered as an independent sub-image (spec §8.2). ``bits`` is bits
    per pixel. At 8 and above ``pixels`` holds bits // 8 bytes per pixel;
    below 8 it holds one unpacked sample per pixel, and each (sub-)image
    is packed before filtering with a one-byte filter offset (spec: bpp
    rounds up to 1)."""
    unit = max(1, bits // 8)  # input bytes per pixel = filter offset

    def filtered(sub: bytes, wp: int, hp: int, row_off: int) -> bytearray:
        if bits < 8:
            sub = _png_pack_rows(sub, wp, hp, bits)
        return _png_filter_segment(
            sub, (wp * bits + 7) // 8, hp, unit, filter_for_row, row_off
        )

    if not interlace:
        return bytes(filtered(pixels, width, height, 0))
    out = bytearray()
    row_off = 0
    for x0, y0, dx, dy in _ADAM7:
        wp = (width - x0 + dx - 1) // dx
        hp = (height - y0 + dy - 1) // dy
        if wp <= 0 or hp <= 0:
            continue
        sub = bytearray(wp * hp * unit)
        for yy in range(hp):
            oy = y0 + yy * dy
            for xx in range(wp):
                ox = x0 + xx * dx
                s = (oy * width + ox) * unit
                d = (yy * wp + xx) * unit
                sub[d : d + unit] = pixels[s : s + unit]
        out += filtered(bytes(sub), wp, hp, row_off)
        row_off += hp
    return bytes(out)


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    """length + type + body + CRC-32 over type and body (spec 5.3)."""
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body))
    )


def _png_file(
    width: int, height: int, depth: int, color: int, interlace: bool,
    extra: bytes, filtered: bytes,
) -> bytes:
    """Signature, IHDR, ``extra`` chunks (PLTE/tRNS), one IDAT, IEND."""
    import zlib

    ihdr = struct.pack(
        ">IIBBBBB", width, height, depth, color, 0, 0, 1 if interlace else 0
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + extra
        + _png_chunk(b"IDAT", zlib.compress(filtered))
        + _png_chunk(b"IEND", b"")
    )


def encode_png(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    filter_for_row=None,
    depth: int = 8,
    interlace: bool = False,
    trns_key: "tuple[int, ...] | None" = None,
) -> bytes:
    """Minimal 8/16-bit PNG encoder (synthesis/test helper — the inverse
    of :func:`decode_png_pixels`). ``filter_for_row(y)`` picks the
    per-scanline filter type (default 0/None), letting tests exercise
    every un-filter path with known pixel content. At ``depth=16``
    ``pixels`` is the big-endian sample byte stream (2 bytes per sample)
    and filters offset by channels*2 per the spec; ``interlace`` stores
    the seven Adam7 passes (``pixels`` stays the natural raster).
    ``trns_key`` (gray/RGB only) writes a color-key tRNS chunk — 1 or 3
    sample values stored as 2-byte big-endian."""
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    if trns_key is not None and channels not in (1, 3):
        raise ValueError("color-key tRNS is valid on gray/RGB only")
    filtered = _png_filter_stream(
        pixels, width, height, channels * depth, filter_for_row, interlace
    )
    trns = (
        b""
        if trns_key is None
        else _png_chunk(b"tRNS", struct.pack(">" + "H" * channels, *trns_key))
    )
    return _png_file(width, height, depth, color, interlace, trns, filtered)


def encode_png_palette(
    width: int,
    height: int,
    indices: "bytes | list[int]",
    palette: bytes,
    filter_for_row=None,
    trns: "bytes | None" = None,
    interlace: bool = False,
    depth: int = 8,
) -> bytes:
    """Minimal PALETTE PNG encoder (color type 3, depth 1/2/4/8;
    synthesis/test helper — the inverse of decode_png_pixels' palette
    path). ``indices`` is one value per pixel into ``palette`` (3 bytes
    per entry); filters run on the (packed, for sub-byte depths) index
    stream per spec (``filter_for_row`` as in :func:`encode_png`,
    bytes-per-pixel 1). ``trns`` writes a tRNS chunk (alpha per palette
    entry, may be shorter than the palette); ``interlace`` stores the
    Adam7 passes."""
    if depth not in (1, 2, 4, 8):
        raise ValueError("palette depth must be 1/2/4/8")
    idx = bytes(indices)
    if len(idx) != width * height:
        raise ValueError("index buffer length mismatch")
    if not palette or len(palette) % 3:
        raise ValueError("palette must be 3 bytes per entry")
    if max(idx) >= min(len(palette) // 3, 1 << depth):
        raise ValueError("palette index out of range")
    filtered = _png_filter_stream(
        idx, width, height, depth, filter_for_row, interlace
    )
    extra = _png_chunk(b"PLTE", palette)
    if trns is not None:
        extra += _png_chunk(b"tRNS", bytes(trns))
    return _png_file(width, height, depth, 3, interlace, extra, filtered)


def encode_png_gray_lowbit(
    width: int,
    height: int,
    values: "bytes | list[int]",
    depth: int,
    filter_for_row=None,
    trns_key: "int | None" = None,
    interlace: bool = False,
) -> bytes:
    """Minimal sub-byte GRAYSCALE PNG encoder (color type 0, depth
    1/2/4 — synthesis/test helper, the inverse of decode_png_pixels'
    sub-byte gray path). ``values`` is one raw sample (< 2^depth) per
    pixel; samples pack MSB-first and filters run on the packed stream
    (bytes-per-pixel 1 per spec). ``trns_key`` writes a gray color-key
    tRNS chunk."""
    if depth not in (1, 2, 4):
        raise ValueError("sub-byte gray depth must be 1/2/4")
    vals = bytes(values)
    if len(vals) != width * height:
        raise ValueError("value buffer length mismatch")
    if max(vals) >= 1 << depth:
        raise ValueError("gray sample out of range for depth")
    filtered = _png_filter_stream(
        vals, width, height, depth, filter_for_row, interlace
    )
    trns = b"" if trns_key is None else _png_chunk(
        b"tRNS", struct.pack(">H", trns_key)
    )
    return _png_file(width, height, depth, 0, interlace, trns, filtered)


def _bmp_mask_params(mask: int, bpp: int) -> tuple[int, int]:
    """(shift, width) of a BI_BITFIELDS channel mask. The spec requires
    masks to be contiguous runs of set bits inside the pixel word;
    anything else is malformed input (ValueError)."""
    if mask == 0 or mask >= (1 << bpp):
        raise ValueError(f"BI_BITFIELDS mask out of range: {mask:#x}")
    shift = (mask & -mask).bit_length() - 1
    width = (mask >> shift).bit_length()
    if (mask >> shift) != (1 << width) - 1:
        raise ValueError(f"BI_BITFIELDS mask not contiguous: {mask:#x}")
    return shift, width


def _bit_replicate(v: int, width: int) -> int:
    """Upscale a ``width``-bit sample to 8 bits by bit replication — the
    exact integer upscale renderers use ((v << 3) | (v >> 2) for 5-bit,
    v * 17 for 4-bit, v * 85 for 2-bit, v >> (width - 8) past 8 bits)."""
    if width >= 8:
        return v >> (width - 8)
    res, filled = 0, 0
    while filled < 8:
        res = (res << width) | v
        filled += width
    return res >> (filled - 8)


def _bmp_bitfields_decode(
    b: bytes, w: int, h: int, h_signed: int, data_off: int,
    dib_size: int, bpp: int,
) -> tuple[int, int, int, bytes] | None:
    """General BI_BITFIELDS decode (round 8): arbitrary contiguous
    non-overlapping masks for 16- and 32-bit pixels, each channel
    upscaled to 8 bits by bit replication. An alpha mask (BITMAPV4+
    headers, DIB offset 52) adds a fourth output channel; without one
    the output is RGB. Overlapping/non-contiguous masks are malformed
    per the public BMP spec (ValueError)."""
    import struct

    rm, gm, bm = struct.unpack_from("<III", b, 54)
    am = struct.unpack_from("<I", b, 66)[0] if dib_size >= 56 else 0
    if (rm & gm) | (rm & bm) | (gm & bm) | (am & (rm | gm | bm)):
        raise ValueError("BI_BITFIELDS masks overlap")
    params = [_bmp_mask_params(m, bpp) for m in (rm, gm, bm)]
    if am:
        params.append(_bmp_mask_params(am, bpp))
    ch = len(params)
    nb = bpp // 8
    stride = (w * nb + 3) & ~3
    if len(b) < data_off + stride * h:
        return None
    fmt = "<H" if bpp == 16 else "<I"
    out = bytearray(w * h * ch)
    for y in range(h):
        src_row = (h - 1 - y) if h_signed > 0 else y
        row_off = data_off + src_row * stride
        dst = y * w * ch
        for x in range(w):
            (v,) = struct.unpack_from(fmt, b, row_off + nb * x)
            for ci, (shift, width) in enumerate(params):
                out[dst + ch * x + ci] = _bit_replicate(
                    (v >> shift) & ((1 << width) - 1), width
                )
    return w, h, ch, bytes(out)


def decode_bmp_pixels(b: bytes | None) -> tuple[int, int, int, bytes] | None:
    """Decode a BMP to raw pixel bytes in the canonical top-down layout
    :func:`decode_png_pixels` emits: 24-bit BI_RGB → (w, h, 3, RGB);
    32-bit BI_RGB / BI_BITFIELDS-with-standard-masks → (w, h, 4, RGBA)
    (round 7); RLE8 palette → (w, h, 3, RGB) through the BGRX color
    table, incl. end-of-line/bitmap, delta, and word-aligned absolute
    escapes (round 7); arbitrary contiguous BI_BITFIELDS masks at 16/32
    bpp (round 8) → (w, h, 3 or 4) with bit-replicated 8-bit upscale and
    a fourth channel only when a V4+ alpha mask is present.

    Pure stdlib: the pixel-array offset comes from the file header, rows
    are 4-byte aligned (padding stripped), stored bottom-up unless the DIB
    height is negative (top-down), and samples are BGR(A) on disk
    (swapped here) — all per the public Windows BMP format. Returns None
    for non-BMP bytes; raises NotImplementedError for valid BMPs outside
    the supported subset — the honest-stub posture.
    """
    import struct

    if b is None or len(b) < 54 or b[:2] != b"BM":
        return None
    (data_off,) = struct.unpack_from("<I", b, 10)
    (dib_size,) = struct.unpack_from("<I", b, 14)
    w, h_signed = struct.unpack_from("<ii", b, 18)
    bpp, comp = struct.unpack_from("<HI", b, 28)
    h = abs(h_signed)

    if bpp == 32 and comp in (0, 3):
        # 32-bit BGRA/BGRX (round 7). BI_BITFIELDS accepted only with the
        # standard BGRA masks — exotic channel layouts stay a named stub.
        if comp == 3:
            masks = struct.unpack_from("<III", b, 54)
            if masks != (0x00FF0000, 0x0000FF00, 0x000000FF):
                # exotic masks (round 8): general bitfields path
                return _bmp_bitfields_decode(
                    b, w, h, h_signed, data_off, dib_size, 32
                )
        stride = w * 4  # already 4-byte aligned
        if len(b) < data_off + stride * h:
            return None
        out = bytearray(w * h * 4)
        for y in range(h):
            src_row = (h - 1 - y) if h_signed > 0 else y
            row = b[data_off + src_row * stride : data_off + src_row * stride + w * 4]
            dst = y * w * 4
            out[dst : dst + w * 4 : 4] = row[2::4]  # R <- disk B,G,R,A
            out[dst + 1 : dst + w * 4 : 4] = row[1::4]  # G
            out[dst + 2 : dst + w * 4 : 4] = row[0::4]  # B
            out[dst + 3 : dst + w * 4 : 4] = row[3::4]  # A
        return w, h, 4, bytes(out)

    if bpp == 8 and comp == 1:
        # RLE8 (round 7): palette-indexed runs. Escapes: 0,0 = end of
        # line, 0,1 = end of bitmap, 0,2 = delta (skipped pixels read as
        # index 0 — the common renderer convention), 0,n>=3 = absolute
        # mode (n literal indices, padded to a word boundary).
        (n_colors,) = struct.unpack_from("<I", b, 46)
        n_colors = n_colors or 256
        pal_off = 14 + dib_size
        pal = b[pal_off : pal_off + 4 * n_colors]  # BGRX quads
        if len(pal) < 4 * n_colors:
            return None
        idx = bytearray(w * h)  # bottom-up grid of palette indices
        x = 0
        y = 0  # row 0 = BOTTOM row (positive height; RLE is never top-down)
        pos = data_off
        while pos + 1 < len(b) and y < h:
            c0, c1 = b[pos], b[pos + 1]
            pos += 2
            if c0 > 0:  # encoded run
                run = min(c0, w - x)
                idx[y * w + x : y * w + x + run] = bytes([c1]) * run
                x += run
            elif c1 == 0:  # end of line
                x, y = 0, y + 1
            elif c1 == 1:  # end of bitmap
                break
            elif c1 == 2:  # delta
                if pos + 1 >= len(b):
                    break
                x = min(x + b[pos], w)
                y = min(y + b[pos + 1], h - 1)
                pos += 2
            else:  # absolute mode: c1 literal indices, word-aligned
                run = min(c1, w - x)
                if len(b) - pos < run:
                    # Truncated stream: a short slice assignment would
                    # silently RESIZE idx (bytearray semantics) and the
                    # palette loop would IndexError later. Bail to the
                    # documented malformed-input posture instead.
                    return None
                idx[y * w + x : y * w + x + run] = b[pos : pos + run]
                x += run
                pos += c1 + (c1 & 1)
        out = bytearray(w * h * 3)
        for yy in range(h):
            src_row = h - 1 - yy  # bottom-up
            for xx in range(w):
                i4 = idx[src_row * w + xx] * 4
                d = (yy * w + xx) * 3
                out[d] = pal[i4 + 2]  # R <- palette B,G,R,X
                out[d + 1] = pal[i4 + 1]
                out[d + 2] = pal[i4]
        return w, h, 3, bytes(out)

    if bpp in (1, 4) and comp == 0:
        # 1/4-bit uncompressed palette BMPs (round 8): pixels pack
        # MSB-first into bytes (8 or 2 per byte), rows pad to 32-bit
        # boundaries, palette entries are BGRX quads.
        (n_colors,) = struct.unpack_from("<I", b, 46)
        n_colors = n_colors or (1 << bpp)
        pal_off = 14 + dib_size
        pal = b[pal_off : pal_off + 4 * n_colors]
        if len(pal) < 4 * n_colors:
            return None
        stride = ((w * bpp + 31) // 32) * 4
        if len(b) < data_off + stride * h:
            return None
        ppb = 8 // bpp  # pixels per byte
        mask = (1 << bpp) - 1
        out = bytearray(w * h * 3)
        for y in range(h):
            src_row = (h - 1 - y) if h_signed > 0 else y
            row_off = data_off + src_row * stride
            dst = y * w * 3
            for x in range(w):
                byte = b[row_off + x // ppb]
                shift = (ppb - 1 - x % ppb) * bpp
                i4 = ((byte >> shift) & mask) * 4
                out[dst + 3 * x] = pal[i4 + 2]  # R <- B,G,R,X quad
                out[dst + 3 * x + 1] = pal[i4 + 1]
                out[dst + 3 * x + 2] = pal[i4]
        return w, h, 3, bytes(out)

    if bpp == 16 and comp in (0, 3):
        # 16-bit BMPs (round 8): BI_RGB means X1R5G5B5; BI_BITFIELDS is
        # accepted with the two standard layouts, R5G6B5 and X1R5G5B5.
        # Components upscale to 8 bits by bit replication
        # ((v << 3) | (v >> 2) for 5-bit, (v << 2) | (v >> 4) for 6-bit)
        # — the exact integer upscale renderers use, so round-trips are
        # deterministic. Exotic masks route to the general bitfields
        # path (round 8).
        if comp == 3:
            masks = struct.unpack_from("<III", b, 54)
            if masks == (0xF800, 0x07E0, 0x001F):
                g6 = True
            elif masks == (0x7C00, 0x03E0, 0x001F):
                g6 = False
            else:
                return _bmp_bitfields_decode(
                    b, w, h, h_signed, data_off, dib_size, 16
                )
        else:
            g6 = False
        stride = (w * 2 + 3) & ~3
        if len(b) < data_off + stride * h:
            return None
        out = bytearray(w * h * 3)
        for y in range(h):
            src_row = (h - 1 - y) if h_signed > 0 else y
            row_off = data_off + src_row * stride
            dst = y * w * 3
            for x in range(w):
                (v,) = struct.unpack_from("<H", b, row_off + 2 * x)
                if g6:
                    r, g, bl = (v >> 11) & 0x1F, (v >> 5) & 0x3F, v & 0x1F
                    out[dst + 3 * x] = (r << 3) | (r >> 2)
                    out[dst + 3 * x + 1] = (g << 2) | (g >> 4)
                    out[dst + 3 * x + 2] = (bl << 3) | (bl >> 2)
                else:
                    r, g, bl = (v >> 10) & 0x1F, (v >> 5) & 0x1F, v & 0x1F
                    out[dst + 3 * x] = (r << 3) | (r >> 2)
                    out[dst + 3 * x + 1] = (g << 3) | (g >> 2)
                    out[dst + 3 * x + 2] = (bl << 3) | (bl >> 2)
        return w, h, 3, bytes(out)

    if bpp == 4 and comp == 2:
        # RLE4 (round 8): encoded runs repeat TWO alternating nibbles of
        # the run byte; absolute mode packs literal indices two per byte
        # (high nibble first) padded to a word boundary; the escape set
        # (EOL/EOB/delta) matches RLE8.
        (n_colors,) = struct.unpack_from("<I", b, 46)
        n_colors = n_colors or 16
        pal_off = 14 + dib_size
        pal = b[pal_off : pal_off + 4 * n_colors]
        if len(pal) < 4 * n_colors:
            return None
        idx = bytearray(w * h)  # bottom-up grid
        x = 0
        y = 0
        pos = data_off
        while pos + 1 < len(b) and y < h:
            c0, c1 = b[pos], b[pos + 1]
            pos += 2
            if c0 > 0:  # encoded run of alternating nibbles
                run = min(c0, w - x)
                hi, lo = c1 >> 4, c1 & 0x0F
                for k in range(run):
                    idx[y * w + x + k] = hi if k % 2 == 0 else lo
                x += run
            elif c1 == 0:  # end of line
                x, y = 0, y + 1
            elif c1 == 1:  # end of bitmap
                break
            elif c1 == 2:  # delta
                if pos + 1 >= len(b):
                    break
                x = min(x + b[pos], w)
                y = min(y + b[pos + 1], h - 1)
                pos += 2
            else:  # absolute mode: c1 literal nibbles, word-aligned
                run = min(c1, w - x)
                nbytes = (c1 + 1) // 2
                if len(b) - pos < nbytes:
                    return None  # truncated stream (same posture as RLE8)
                for k in range(run):
                    byte = b[pos + k // 2]
                    idx[y * w + x + k] = (byte >> 4) if k % 2 == 0 else (byte & 0x0F)
                x += run
                pos += nbytes + (nbytes & 1)
        out = bytearray(w * h * 3)
        for yy in range(h):
            src_row = h - 1 - yy
            for xx in range(w):
                i4 = idx[src_row * w + xx] * 4
                d = (yy * w + xx) * 3
                out[d] = pal[i4 + 2]
                out[d + 1] = pal[i4 + 1]
                out[d + 2] = pal[i4]
        return w, h, 3, bytes(out)

    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            "decode_bmp_pixels supports 1/4/16/24/32-bit, RLE4 and RLE8 "
            f"BMPs only — got bpp={bpp} compression={comp}"
        )
    stride = (w * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    if len(b) < data_off + stride * h:
        return None
    out = bytearray(w * h * 3)
    for y in range(h):
        # positive DIB height = bottom-up storage; negative = top-down
        src_row = (h - 1 - y) if h_signed > 0 else y
        row = b[data_off + src_row * stride : data_off + src_row * stride + w * 3]
        dst = y * w * 3
        out[dst : dst + w * 3 : 3] = row[2::3]  # R  <- disk B,G,R order
        out[dst + 1 : dst + w * 3 : 3] = row[1::3]  # G
        out[dst + 2 : dst + w * 3 : 3] = row[0::3]  # B
    return w, h, 3, bytes(out)


def encode_bmp(width: int, height: int, pixels: bytes, top_down: bool = False) -> bytes:
    """Minimal uncompressed 24-bit BMP encoder (synthesis/test helper — the
    inverse of :func:`decode_bmp_pixels`). ``pixels`` is top-down row-major
    RGB; ``top_down=False`` (the common on-disk layout) stores rows
    bottom-up with a positive DIB height, exercising the decoder's row
    flip; padding bytes are nonzero so a decoder that reads them shows up
    as a wrong checksum."""
    import struct

    stride = (width * 3 + 3) & ~3
    pad = b"\xAA" * (stride - width * 3)
    rows = []
    order = range(height) if top_down else range(height - 1, -1, -1)
    for y in order:
        line = pixels[y * width * 3 : (y + 1) * width * 3]
        bgr = bytearray(len(line))
        bgr[0::3] = line[2::3]
        bgr[1::3] = line[1::3]
        bgr[2::3] = line[0::3]
        rows.append(bytes(bgr) + pad)
    body = b"".join(rows)
    dib = struct.pack(
        "<IiiHHIIiiII",
        40, width, height if not top_down else -height,
        1, 24, 0, len(body), 2835, 2835, 0, 0,
    )
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + dib
        + body
    )


def encode_bmp32(
    width: int, height: int, pixels: bytes, top_down: bool = False,
    bitfields: bool = False,
) -> bytes:
    """Minimal 32-bit BMP encoder (synthesis/test helper). ``pixels`` is
    top-down row-major RGBA; stored as BGRA, bottom-up unless
    ``top_down``. ``bitfields=True`` emits BI_BITFIELDS with the standard
    BGRA masks (BITMAPV4-style 108-byte DIB keeps the layout simple)."""
    import struct

    rows = []
    order = range(height) if top_down else range(height - 1, -1, -1)
    for y in order:
        line = pixels[y * width * 4 : (y + 1) * width * 4]
        bgra = bytearray(len(line))
        bgra[0::4] = line[2::4]
        bgra[1::4] = line[1::4]
        bgra[2::4] = line[0::4]
        bgra[3::4] = line[3::4]
        rows.append(bytes(bgra))
    body = b"".join(rows)
    comp = 3 if bitfields else 0
    if bitfields:
        dib = struct.pack(
            "<IiiHHIIiiII", 108, width,
            height if not top_down else -height,
            1, 32, comp, len(body), 2835, 2835, 0, 0,
        ) + struct.pack("<III", 0x00FF0000, 0x0000FF00, 0x000000FF) + bytes(
            108 - 40 - 12
        )
        off = 14 + 108
    else:
        dib = struct.pack(
            "<IiiHHIIiiII", 40, width,
            height if not top_down else -height,
            1, 32, comp, len(body), 2835, 2835, 0, 0,
        )
        off = 54
    return (
        b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off) + dib + body
    )


def encode_bmp_rle8(
    width: int,
    height: int,
    indices: "bytes | list[int]",
    palette_rgb: bytes,
    absolute_rows: "set[int] | None" = None,
) -> bytes:
    """Minimal RLE8 BMP encoder (synthesis/test helper). ``indices`` is
    one palette index per pixel, TOP-DOWN row-major; ``palette_rgb`` is 3
    bytes per entry (stored as BGRX quads). Rows in ``absolute_rows``
    (top-down indices) are emitted in word-aligned ABSOLUTE mode instead
    of encoded runs, so both decoder paths sit on the adjudicated path."""
    import struct

    idx = bytes(indices)
    if len(idx) != width * height:
        raise ValueError("index buffer length mismatch")
    n = len(palette_rgb) // 3
    pal = b"".join(
        bytes((palette_rgb[j * 3 + 2], palette_rgb[j * 3 + 1],
               palette_rgb[j * 3], 0))
        for j in range(n)
    )
    body = bytearray()
    # rows stored bottom-up: bottom row (top-down y = height-1) first
    for y in range(height - 1, -1, -1):
        row = idx[y * width : (y + 1) * width]
        if absolute_rows and y in absolute_rows and width >= 3:
            x = 0
            while x < width:
                run = min(width - x, 254)
                if run < 3:  # absolute mode needs count >= 3
                    body += bytes([1, row[x]])
                    x += 1
                    continue
                body += bytes([0, run]) + row[x : x + run]
                if run & 1:
                    body += b"\x00"  # word alignment
                x += run
        else:
            x = 0
            while x < width:
                v = row[x]
                run = 1
                while x + run < width and row[x + run] == v and run < 255:
                    run += 1
                body += bytes([run, v])
                x += run
        body += b"\x00\x00"  # end of line
    body += b"\x00\x01"  # end of bitmap
    off = 14 + 40 + len(pal)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, 1, len(body),
        2835, 2835, n, 0,
    )
    return (
        b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
        + dib + pal + bytes(body)
    )


def encode_bmp_lowbit(
    width: int,
    height: int,
    indices: "bytes | list[int]",
    palette_rgb: bytes,
    bpp: int,
    top_down: bool = False,
) -> bytes:
    """Minimal 1/4-bit uncompressed BMP encoder (synthesis/test helper —
    the inverse of decode_bmp_pixels' low-bit path). ``indices`` is one
    palette index per pixel, top-down row-major; pixels pack MSB-first,
    rows pad to 32-bit boundaries with nonzero bytes (a decoder that
    reads padding shows up as a wrong checksum)."""
    import struct

    if bpp not in (1, 4):
        raise ValueError("bpp must be 1 or 4")
    idx = bytes(indices)
    if len(idx) != width * height:
        raise ValueError("index buffer length mismatch")
    n = len(palette_rgb) // 3
    if max(idx) >= n:
        raise ValueError("palette index out of range")
    pal = b"".join(
        bytes((palette_rgb[j * 3 + 2], palette_rgb[j * 3 + 1],
               palette_rgb[j * 3], 0))
        for j in range(n)
    )
    ppb = 8 // bpp
    stride = ((width * bpp + 31) // 32) * 4
    body = bytearray()
    rows = range(height) if top_down else range(height - 1, -1, -1)
    for y in rows:
        row = bytearray(stride)
        for i in range((width * bpp + 7) // 8, stride):
            row[i] = 0xAA  # nonzero padding
        for x in range(width):
            shift = (ppb - 1 - x % ppb) * bpp
            row[x // ppb] |= idx[y * width + x] << shift
        body += row
    off = 14 + 40 + len(pal)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, -height if top_down else height,
        1, bpp, 0, len(body), 2835, 2835, n, 0,
    )
    return (
        b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
        + dib + pal + bytes(body)
    )


def encode_bmp16(
    width: int,
    height: int,
    values: "list[int]",
    fmt: str = "555",
    top_down: bool = False,
) -> bytes:
    """Minimal 16-bit BMP encoder (synthesis/test helper). ``values`` is
    one packed 16-bit pixel per position, top-down row-major; ``fmt`` is
    '555' (BI_RGB X1R5G5B5) or '565' (BI_BITFIELDS R5G6B5 with the
    standard masks)."""
    import struct

    if len(values) != width * height:
        raise ValueError("value buffer length mismatch")
    bitfields = fmt == "565"
    stride = (width * 2 + 3) & ~3
    body = bytearray()
    rows = range(height) if top_down else range(height - 1, -1, -1)
    for y in rows:
        row = bytearray(stride)
        for i in range(width * 2, stride):
            row[i] = 0xAA
        for x in range(width):
            struct.pack_into("<H", row, 2 * x, values[y * width + x] & 0xFFFF)
        body += row
    masks = struct.pack("<III", 0xF800, 0x07E0, 0x001F) if bitfields else b""
    off = 14 + 40 + len(masks)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, -height if top_down else height,
        1, 16, 3 if bitfields else 0, len(body), 2835, 2835, 0, 0,
    )
    return (
        b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
        + dib + masks + bytes(body)
    )


def encode_bmp_masks(
    width: int,
    height: int,
    values: "list[int]",
    bpp: int,
    masks: "tuple[int, int, int]",
    alpha_mask: int = 0,
    top_down: bool = False,
) -> bytes:
    """Minimal BI_BITFIELDS BMP encoder with ARBITRARY masks (round 8
    synthesis/test helper — the inverse of the general bitfields decode
    path). ``values`` is one packed ``bpp``-bit pixel per position,
    top-down row-major. Without ``alpha_mask`` the classic 40-byte DIB
    header is written with the three masks appended (file offset 54);
    with one, a BITMAPV4 header (108 bytes) carries all four masks
    in-header at the same file offset."""
    import struct

    if bpp not in (16, 32):
        raise ValueError("bitfields BMPs are 16- or 32-bit")
    if len(values) != width * height:
        raise ValueError("value buffer length mismatch")
    nb = bpp // 8
    fmt = "<H" if bpp == 16 else "<I"
    stride = (width * nb + 3) & ~3
    body = bytearray()
    rows = range(height) if top_down else range(height - 1, -1, -1)
    for y in rows:
        row = bytearray(stride)
        for x in range(width):
            struct.pack_into(
                fmt, row, nb * x, values[y * width + x] & ((1 << bpp) - 1)
            )
        body += row
    if alpha_mask:
        dib = struct.pack(
            "<IiiHHIIiiII", 108, width, -height if top_down else height,
            1, bpp, 3, len(body), 2835, 2835, 0, 0,
        )
        dib += struct.pack("<IIII", *masks, alpha_mask)
        dib += struct.pack("<I", 0x73524742)  # LCS 'sRGB'
        dib += bytes(48)  # endpoints + gammas (ignored for sRGB)
        mask_tail = b""
    else:
        dib = struct.pack(
            "<IiiHHIIiiII", 40, width, -height if top_down else height,
            1, bpp, 3, len(body), 2835, 2835, 0, 0,
        )
        mask_tail = struct.pack("<III", *masks)
    off = 14 + len(dib) + len(mask_tail)
    return (
        b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
        + dib + mask_tail + bytes(body)
    )


def encode_bmp_rle4(
    width: int,
    height: int,
    indices: "bytes | list[int]",
    palette_rgb: bytes,
    absolute_rows: "set[int] | None" = None,
) -> bytes:
    """Minimal RLE4 BMP encoder (synthesis/test helper). ``indices`` is
    one palette index (< 16) per pixel, TOP-DOWN row-major. Encoded runs
    repeat the run byte's two alternating nibbles; rows in
    ``absolute_rows`` emit word-aligned ABSOLUTE mode (packed nibbles)
    so both decoder paths sit on the adjudicated path."""
    import struct

    idx = bytes(indices)
    if len(idx) != width * height:
        raise ValueError("index buffer length mismatch")
    if max(idx) > 0x0F:
        raise ValueError("RLE4 indices must fit a nibble")
    n = len(palette_rgb) // 3
    pal = b"".join(
        bytes((palette_rgb[j * 3 + 2], palette_rgb[j * 3 + 1],
               palette_rgb[j * 3], 0))
        for j in range(n)
    )
    body = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        row = idx[y * width : (y + 1) * width]
        if absolute_rows and y in absolute_rows and width >= 3:
            x = 0
            while x < width:
                run = min(width - x, 254)
                if run < 3:  # absolute mode needs count >= 3
                    body += bytes([1, row[x] << 4])
                    x += 1
                    continue
                packed = bytearray()
                for k in range(run):
                    if k % 2 == 0:
                        packed.append(row[x + k] << 4)
                    else:
                        packed[-1] |= row[x + k]
                body += bytes([0, run]) + packed
                if len(packed) & 1:
                    body += b"\x00"  # word alignment
                x += run
        else:
            x = 0
            while x < width:
                # a run byte alternates TWO nibbles — encode pairs
                a = row[x]
                bnib = row[x + 1] if x + 1 < width else a
                run = 0
                while (
                    x + run < width
                    and row[x + run] == (a if run % 2 == 0 else bnib)
                    and run < 255
                ):
                    run += 1
                body += bytes([run, (a << 4) | bnib])
                x += run
        body += b"\x00\x00"  # end of line
    body += b"\x00\x01"  # end of bitmap
    off = 14 + 40 + len(pal)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 4, 2, len(body),
        2835, 2835, n, 0,
    )
    return (
        b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
        + dib + pal + bytes(body)
    )


def _gif_lzw_decode(data: bytes, min_code_size: int) -> "list[int]":
    """GIF variable-width LZW decode (GIF89a spec appendix F, public
    knowledge): LSB-first bit packing, clear/end codes, dictionary grows to
    12 bits, code width bumps when the next free code reaches 2^width.
    Returns the palette-index stream. Handles the KwKwK case (a code equal
    to the next unassigned entry)."""
    clear = 1 << min_code_size
    end = clear + 1

    def fresh():
        return {i: (i,) for i in range(clear)}

    table = fresh()
    width = min_code_size + 1
    next_code = end + 1
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = fresh()
                width = min_code_size + 1
                next_code = end + 1
                prev = None
                continue
            if code == end:
                return out
            if code in table:
                entry = table[code]
            elif code == next_code and prev is not None:
                entry = prev + (prev[0],)  # KwKwK
            else:
                raise ValueError(f"corrupt GIF LZW stream: code {code}")
            out.extend(entry)
            if prev is not None and next_code < 4096:
                table[next_code] = prev + (entry[0],)
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            prev = entry
    return out


def _gif_interlace_rows(h: int) -> "list[int]":
    """Raster row of each stored row of a 4-pass interlaced GIF image:
    rows 0,8,.. / 4,12,.. / 2,6,.. / 1,3,.."""
    return [*range(0, h, 8), *range(4, h, 8), *range(2, h, 4), *range(1, h, 2)]


def _gif_interlace(idx: "list[int]", iw: int, ih: int) -> "list[int]":
    """Reorder top-down raster rows into the 4-pass interlace order."""
    return [v for y in _gif_interlace_rows(ih) for v in idx[y * iw : (y + 1) * iw]]


def _gif_deinterlace(idx: "list[int]", iw: int, ih: int) -> "list[int]":
    """Reorder interlaced GIF rows into top-down raster order."""
    out = [0] * (iw * ih)
    for stored, y in enumerate(_gif_interlace_rows(ih)):
        out[y * iw : (y + 1) * iw] = idx[stored * iw : (stored + 1) * iw]
    return out


def decode_gif_pixels(b: bytes | None) -> tuple[int, int, int, bytes] | None:
    """Decode a single-image GIF87a/89a (non-interlaced or interlaced —
    round 7 adds the 4-pass deinterlace) to raw pixel bytes: (width,
    height, 3, pixels) top-down row-major RGB via the color table — the
    same canonical layout as :func:`decode_png_pixels`.

    Pure stdlib: logical-screen descriptor, global/local color table,
    extension-block skip, sub-block reassembly, then real variable-width
    LZW decompression (:func:`_gif_lzw_decode`). Returns None for non-GIF
    bytes; raises NotImplementedError for frames smaller than the logical
    screen — this is the strict single-image tier; sub-rectangle and
    multi-frame GIFs go through :func:`decode_gif_frames` (round 8),
    which composites them like a real viewer."""
    import struct

    if b is None or len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h, packed, _bg, _aspect = struct.unpack_from("<HHBBB", b, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = b[pos : pos + 3 * n]
        pos += 3 * n
    while pos < len(b):
        block = b[pos]
        if block == 0x21:  # extension: label then sub-blocks
            pos += 2
            while pos < len(b) and b[pos]:
                pos += 1 + b[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            left, top, iw, ih, ipacked = struct.unpack_from("<HHHHB", b, pos + 1)
            pos += 10
            ct = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                ct = b[pos : pos + 3 * n]
                pos += 3 * n
            if (left, top, iw, ih) != (0, 0, w, h):
                raise NotImplementedError(
                    "decode_gif_pixels supports full-frame single images "
                    "only (animation/composition needs a full renderer)"
                )
            if ct is None:
                return None
            min_code = b[pos]
            pos += 1
            lzw = bytearray()
            while pos < len(b) and b[pos]:
                lzw += b[pos + 1 : pos + 1 + b[pos]]
                pos += 1 + b[pos]
            pos += 1
            idx = _gif_lzw_decode(bytes(lzw), min_code)
            if len(idx) < iw * ih:
                raise ValueError("GIF pixel stream shorter than image")
            idx = idx[: iw * ih]
            if ipacked & 0x40:  # interlaced: reorder the 4 passes
                idx = _gif_deinterlace(idx, iw, ih)
            out = bytearray(iw * ih * 3)
            for k, i in enumerate(idx):
                out[3 * k : 3 * k + 3] = ct[3 * i : 3 * i + 3]
            return w, h, 3, bytes(out)
        elif block == 0x3B:  # trailer
            break
        else:
            return None
    return None


def encode_gif(
    width: int,
    height: int,
    indices: "list[int]",
    palette: bytes,
    interlace: bool = False,
) -> bytes:
    """Minimal GIF89a encoder (synthesis/test helper — the inverse of
    :func:`decode_gif_pixels`). Emits every pixel as a literal LZW code
    while mirroring the decoder's dictionary-growth and width-bump rules,
    so streams stay spec-valid without implementing compression.
    ``palette`` is RGB bytes for a power-of-two color count.
    ``interlace`` stores rows in the 4-pass interlace order and sets the
    descriptor flag (``indices`` stays top-down raster — the natural
    image order)."""
    import struct

    if interlace:
        indices = _gif_interlace(indices, width, height)
    n_colors = len(palette) // 3
    bits = max(2, (n_colors - 1).bit_length())
    blocks = _gif_lzw_encode_blocks(indices, bits)
    screen = struct.pack(
        "<HHBBB", width, height, 0x80 | (bits - 1), 0, 0
    )
    descriptor = struct.pack(
        "<BHHHHB", 0x2C, 0, 0, width, height, 0x40 if interlace else 0
    )
    return (
        b"GIF89a" + screen + palette
        + descriptor + bytes([bits]) + blocks + b"\x3B"
    )


def _gif_lzw_encode_blocks(indices: "list[int]", bits: int) -> bytes:
    """All-literal LZW code stream for ``indices`` at ``bits`` root width,
    sub-blocked with the 0x00 terminator — shared by :func:`encode_gif`
    and :func:`encode_gif_anim` (see encode_gif docstring for why literal
    emission with mirrored dictionary growth stays spec-valid)."""
    clear, end = 1 << bits, (1 << bits) + 1

    out_bits: list[tuple[int, int]] = []  # (code, width)
    width_now = bits + 1
    next_code = end + 1
    out_bits.append((clear, width_now))
    first_after_clear = True
    for idx in indices:
        out_bits.append((idx, width_now))
        if first_after_clear:  # decoder has prev=None: no dict entry yet
            first_after_clear = False
            continue
        if next_code < 4096:
            next_code += 1
            if next_code == (1 << width_now) and width_now < 12:
                width_now += 1
        else:  # dictionary full: reset, mirroring the decoder
            out_bits.append((clear, width_now))
            width_now = bits + 1
            next_code = end + 1
            first_after_clear = True
    out_bits.append((end, width_now))

    acc = nbits = 0
    stream = bytearray()
    for code, cw in out_bits:
        acc |= code << nbits
        nbits += cw
        while nbits >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        stream.append(acc & 0xFF)

    blocks = bytearray()
    for off in range(0, len(stream), 255):
        chunk = stream[off : off + 255]
        blocks += bytes([len(chunk)]) + chunk
    blocks += b"\x00"
    return bytes(blocks)


def encode_gif_anim(
    width: int,
    height: int,
    frames: "list[dict]",
    palette: bytes,
    bg: int = 0,
) -> bytes:
    """Minimal animated GIF89a encoder (synthesis/test helper — the
    inverse of :func:`decode_gif_frames`). Each frame dict:
    ``{"left", "top", "iw", "ih", "indices", "disposal" (0-3),
    "transparent" (index or None), "interlace" (bool, optional)}``.
    A Graphic Control Extension precedes every frame carrying its
    disposal method and transparency flag; ``palette`` is the global
    color table (RGB bytes, power-of-two count); per the spec the
    background index is recorded in the logical screen descriptor."""
    import struct

    n_colors = len(palette) // 3
    bits = max(2, (n_colors - 1).bit_length())
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | (bits - 1), bg, 0)
    out += palette
    for fr in frames:
        disposal = int(fr.get("disposal", 0))
        t = fr.get("transparent")
        flags = (disposal & 0x7) << 2 | (1 if t is not None else 0)
        out += bytes([0x21, 0xF9, 4, flags, 0, 0, t if t is not None else 0, 0])
        indices = fr["indices"]
        if fr.get("interlace"):
            indices = _gif_interlace(indices, fr["iw"], fr["ih"])
        out += struct.pack(
            "<BHHHHB",
            0x2C,
            fr["left"],
            fr["top"],
            fr["iw"],
            fr["ih"],
            0x40 if fr.get("interlace") else 0,
        )
        out += bytes([bits]) + _gif_lzw_encode_blocks(indices, bits)
    out += b"\x3B"
    return bytes(out)


# Decode bound for animated-GIF canvases: 64M pixels (~192 MB RGB) —
# far above any real GIF, small enough that a corrupt header can't
# stall an executor (ADVICE r9, phash_video_frames fuzz finding).
GIF_MAX_CANVAS_PIXELS = 1 << 26


def decode_gif_frames(
    b: bytes | None,
) -> "tuple[int, int, int, list[bytes]] | None":
    """Decode an ANIMATED GIF89a (round 8 — the highest-frequency codec
    stub of round 7): returns (width, height, 3, frames) where each frame
    is the COMPOSITED logical-screen canvas (top-down RGB, the canonical
    layout of :func:`decode_png_pixels`) after that frame renders — what
    a viewer shows, not the raw sub-rectangle.

    Real renderer semantics, pure stdlib:
    - canvas starts as the background color (logical-screen background
      index through the global color table; black without a GCT);
    - each image descriptor composites its (left, top, iw, ih) rect,
      skipping pixels equal to the preceding Graphic Control Extension's
      transparency index (GIF89a §23) — transparency reveals the prior
      canvas, the mechanism delta-frame animations rely on;
    - after snapshotting, disposal method 2 restores the frame's rect to
      the background color and 3 restores the canvas to its pre-frame
      state (0/1 leave the canvas in place);
    - local color tables override the global one per frame; interlaced
      frames deinterlace before compositing.

    Returns None for non-GIF bytes or a frame with no color table.
    Single-image GIFs return one frame — :func:`decode_gif_pixels`
    remains the strict single-image tier (it REJECTS sub-rectangle
    frames rather than compositing)."""
    import struct

    if b is None or len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h, packed, bg, _aspect = struct.unpack_from("<HHBBB", b, 6)
    # Corrupt-dimension bound (ADVICE r9): a malformed logical-screen
    # descriptor can claim up to 65535x65535 (a ~13 GB canvas and
    # quadratic compositing work) — cap the canvas and classify the
    # payload as corrupt instead of grinding/allocating on garbage.
    if w * h > GIF_MAX_CANVAS_PIXELS:
        raise ValueError(f"GIF canvas {w}x{h} exceeds decode bound")
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = b[pos : pos + 3 * n]
        pos += 3 * n
    if gct is not None and 3 * bg + 3 <= len(gct):
        bg_rgb = gct[3 * bg : 3 * bg + 3]
    else:
        bg_rgb = b"\x00\x00\x00"
    canvas = bytearray(bg_rgb * (w * h))
    frames: "list[bytes]" = []
    disposal = 0
    transparent = None
    while pos < len(b):
        block = b[pos]
        if block == 0x21:  # extension
            label = b[pos + 1] if pos + 1 < len(b) else 0
            if label == 0xF9 and pos + 7 < len(b) and b[pos + 2] >= 4:
                flags = b[pos + 3]
                disposal = (flags >> 2) & 0x7
                transparent = b[pos + 6] if flags & 1 else None
            pos += 2
            while pos < len(b) and b[pos]:
                pos += 1 + b[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            left, top, iw, ih, ipacked = struct.unpack_from(
                "<HHHHB", b, pos + 1
            )
            pos += 10
            ct = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                ct = b[pos : pos + 3 * n]
                pos += 3 * n
            if ct is None:
                return None
            min_code = b[pos]
            pos += 1
            lzw = bytearray()
            while pos < len(b) and b[pos]:
                lzw += b[pos + 1 : pos + 1 + b[pos]]
                pos += 1 + b[pos]
            pos += 1
            idx = _gif_lzw_decode(bytes(lzw), min_code)
            if len(idx) < iw * ih:
                raise ValueError("GIF pixel stream shorter than image")
            idx = idx[: iw * ih]
            if ipacked & 0x40:
                idx = _gif_deinterlace(idx, iw, ih)
            before = bytes(canvas) if disposal == 3 else None
            for yy in range(ih):
                cy = top + yy
                if cy >= h:
                    break
                for xx in range(iw):
                    cx = left + xx
                    if cx >= w:
                        break
                    i = idx[yy * iw + xx]
                    if transparent is not None and i == transparent:
                        continue
                    d = (cy * w + cx) * 3
                    canvas[d : d + 3] = ct[3 * i : 3 * i + 3]
            frames.append(bytes(canvas))
            if disposal == 2:
                for yy in range(ih):
                    cy = top + yy
                    if cy >= h:
                        break
                    for xx in range(iw):
                        cx = left + xx
                        if cx >= w:
                            break
                        d = (cy * w + cx) * 3
                        canvas[d : d + 3] = bg_rgb
            elif disposal == 3 and before is not None:
                canvas = bytearray(before)
            disposal = 0
            transparent = None
        elif block == 0x3B:
            break
        else:
            return None
    if not frames:
        return None
    return w, h, 3, frames


# ---------------------------------------------------------------------------
# JPEG codec — stdlib + numpy only, after ITU-T T.81. One marker walk, one
# entropy reader and one coefficient-grid reconstruction decode sequential
# DCT (SOF0 baseline and SOF1 extended, 8- and 12-bit), progressive DCT
# (SOF2: spectral selection and successive approximation) and lossless
# (SOF3, predictive) streams, with sampling factors 1-4 and restart
# intervals. The four encoders are synthesis/test helpers built from the
# same parts: one bit writer, one header builder, one FDCT step and one
# lossless predictor. Everything else raises NotImplementedError naming the
# gap: arithmetic coding, hierarchical frames, 12-bit progressive,
# multi-scan sequential, and lossless streams with restarts or subsampling.
# ---------------------------------------------------------------------------


def _jpeg_zigzag() -> "list[int]":
    """Row-major index for each of the 64 zigzag-scan positions (T.81
    Figure 5 traversal, generated rather than typed)."""
    idx, r, c = [], 0, 0
    for _ in range(64):
        idx.append(r * 8 + c)
        if (r + c) % 2 == 0:  # moving up-right
            if c == 7:
                r += 1
            elif r == 0:
                c += 1
            else:
                r -= 1
                c += 1
        else:  # moving down-left
            if r == 7:
                c += 1
            elif c == 0:
                r += 1
            else:
                r += 1
                c -= 1
    return idx


_JPEG_ZIGZAG = _jpeg_zigzag()

# Annex-K typical Huffman tables (public spec constants). The encoder uses
# ONE DC and ONE AC table for all components (legal baseline JPEG); the
# decoder reads whatever tables the stream carries, any slot ids.
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


# Progressive AC scans need EOBn symbols (0x10..0xE0 — EOB-run lengths),
# which the Annex K baseline table does not contain. This flat 8-bit
# canonical table carries every symbol a progressive first pass can emit:
# EOB0/ZRL, EOB1..EOB14, and all (run, size) pairs for size 1..10. 176
# codes of length 8 leave the canonical tree incomplete (Kraft 176/256),
# which T.81 permits — the last code is not all-ones.
_JPEG_PROG_AC_VALS = (
    [0x00, 0xF0]
    + [r << 4 for r in range(1, 15)]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_JPEG_PROG_AC_BITS = [0] * 7 + [len(_JPEG_PROG_AC_VALS)] + [0] * 8

# Start-of-frame markers: C0-C3 are the Huffman processes decoded here;
# C4 (DHT), C8 (JPG) and CC (DAC) are not frames.
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _huff_canonical(bits: "list[int]", vals: "list[int]"):
    """Canonical code assignment (T.81 C.2): [(length, code, value)] in
    code order. ``bits`` or ``vals`` shorter than the counts claim raise
    IndexError."""
    codes, code, k = [], 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes.append((length, code, vals[k]))
            code += 1
            k += 1
        code <<= 1
    return codes


def _huff_encoder(bits: "list[int]", vals: "list[int]") -> dict:
    """{symbol: (length, code)}: the encoders' view of a table."""
    return {v: (ln, code) for ln, code, v in _huff_canonical(bits, vals)}


def _huff_decoder(bits: "list[int]", vals: "list[int]") -> dict:
    """{(1 << length) | code: symbol}: the entropy reader's view. The
    leading 1 keeps codes of different lengths apart; a code that
    overflows its length (over-subscribed table) can never be read and
    is left out."""
    return {
        (1 << ln) | code: v
        for ln, code, v in _huff_canonical(bits, vals)
        if code >> ln == 0
    }


def _dct_matrix():
    import numpy as np

    m = np.zeros((8, 8))
    for u in range(8):
        cu = (1.0 / 8.0) ** 0.5 if u == 0 else (2.0 / 8.0) ** 0.5
        for x in range(8):
            m[u, x] = cu * math.cos((2 * x + 1) * u * math.pi / 16.0)
    return m


def _jpeg_mcu_order(
    mcus_x: int, mcus_y: int, grid: "list[tuple[int, int, int]]"
) -> "list[list[tuple[int, int]]]":
    """Data units of an interleaved scan, MCU by MCU (T.81 A.2.3).
    ``grid`` gives (h, v, blocks across) per scan component; each MCU is
    a list of (scan component, block index)."""
    return [
        [
            (k, (my * vi + byi) * bw + mx * hi + bxi)
            for k, (hi, vi, bw) in enumerate(grid)
            for byi in range(vi)
            for bxi in range(hi)
        ]
        for my in range(mcus_y)
        for mx in range(mcus_x)
    ]


# -- encoding ---------------------------------------------------------------


def _jpeg_magnitude(v: int) -> "tuple[int, int]":
    """(SSSS category, extra bits) of a signed value (T.81 F.1.2.1)."""
    size = v.bit_length() if v > 0 else (-v).bit_length()
    return size, v if v >= 0 else v + (1 << size) - 1


class _BitWriter:
    """Entropy-coded segment writer (T.81 F.1.2.3): MSB-first bits with a
    0x00 stuffed after every 0xFF byte. Padding to a byte boundary writes
    1-bits through :meth:`put`, so an all-ones pad byte gets its stuffed
    0x00 before a following RSTn marker."""

    __slots__ = ("out", "acc", "nbits", "nrst")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = self.nbits = self.nrst = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def huff(self, codes: dict, symbol: int, size: int = 0, bits: int = 0) -> None:
        """A Huffman-coded symbol followed by ``size`` raw bits."""
        length, code = codes[symbol]
        self.put(code, length)
        self.put(bits, size)

    def restart(self) -> None:
        """Pad, then emit the next RSTn marker (n cycles 0-7)."""
        self.flush()
        self.out += bytes([0xFF, 0xD0 + self.nrst % 8])
        self.nrst += 1

    def flush(self) -> bytes:
        if self.nbits:
            self.put((1 << (8 - self.nbits)) - 1, 8 - self.nbits)
        return bytes(self.out)


def _jpeg_seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def _jpeg_header(
    sof: int,
    precision: int,
    width: int,
    height: int,
    samp: "list[tuple[int, int]]",
    quant: "list[int] | None",
    tables: "list[tuple[int, list[int], list[int]]]",
    restart_interval: int,
) -> bytes:
    """SOI, DQT (8-bit entries at P=8, 16-bit above; none without
    ``quant``), SOFn, one DHT carrying ``tables`` as (class, bits, vals)
    in slot 0, and DRI when ``restart_interval`` is set. Every component
    uses quant table 0."""
    out = b"\xff\xd8"
    if quant is not None:
        out += _jpeg_seg(
            0xDB,
            b"\x00" + bytes(quant)
            if precision == 8
            else b"\x10" + struct.pack(">64H", *quant),
        )
    out += _jpeg_seg(
        sof,
        struct.pack(">BHHB", precision, height, width, len(samp))
        + b"".join(
            bytes([ci + 1, (hi << 4) | vi, 0]) for ci, (hi, vi) in enumerate(samp)
        ),
    )
    out += _jpeg_seg(
        0xC4,
        b"".join(bytes([tc << 4] + bits + vals) for tc, bits, vals in tables),
    )
    if restart_interval:
        out += _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
    return out


def _jpeg_sos(comp_ids: "list[int]", ss: int, se: int, ah: int, al: int) -> bytes:
    """SOS header; every component uses DC/AC table slot 0."""
    body = bytes([len(comp_ids)]) + b"".join(bytes([c, 0]) for c in comp_ids)
    return _jpeg_seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))


def _jpeg_planes(
    fn: str,
    width: int,
    height: int,
    pixels: bytes,
    channels: int,
    sampling: "list[tuple[int, int]] | None",
):
    """Validate an 8-bit DCT encoder's input, convert RGB to YCbCr (JFIF)
    and box-mean downsample each component to its sampling grid.
    Returns (planes, per-component (h, v) factors)."""
    import numpy as np

    if channels not in (1, 3):
        raise ValueError("channels must be 1 or 3")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer length mismatch")
    samp = list(sampling) if sampling is not None else [(1, 1)] * channels
    if len(samp) != channels or any(
        not (1 <= hi <= 4 and 1 <= vi <= 4) for hi, vi in samp
    ):
        raise ValueError("sampling must give (h, v) in 1..4 per component")
    hmax = max(hi for hi, _ in samp)
    vmax = max(vi for _, vi in samp)
    if any(hmax % hi or vmax % vi for hi, vi in samp):
        # the decoder handles non-divisible pairs; the box-mean
        # downsample below does not — synthesis keeps to divisor sets
        raise ValueError(
            f"{fn} supports factor sets where every factor divides the maximum"
        )
    if width % (8 * hmax) or height % (8 * vmax):
        raise ValueError(
            f"{fn} requires dimensions divisible by the MCU tile "
            f"({8 * hmax}x{8 * vmax} for this sampling)"
        )
    arr = np.frombuffer(pixels, dtype=np.uint8).astype(np.float64)
    arr = arr.reshape(height, width, channels)
    if channels == 3:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
            128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
        ]
    else:
        planes = [arr[..., 0]]
    for ci, (hi, vi) in enumerate(samp):
        ry, rx = vmax // vi, hmax // hi
        if ry > 1 or rx > 1:
            p = planes[ci]
            planes[ci] = p.reshape(
                p.shape[0] // ry, ry, p.shape[1] // rx, rx
            ).mean(axis=(1, 3))
    return planes, samp


def _jpeg_fdct(plane, quant: "list[int]", level: float) -> "list[list[int]]":
    """Level shift -> FDCT -> quantize -> zigzag for every 8x8 block of
    ``plane``, in raster order."""
    import numpy as np

    m = _dct_matrix()
    zz = _JPEG_ZIGZAG
    # quant is in zigzag order (as DQT stores it); qv is its block layout
    qv = np.array(quant, dtype=np.float64)[np.argsort(zz)].reshape(8, 8)
    seqs = []
    for r0 in range(0, plane.shape[0], 8):
        for c0 in range(0, plane.shape[1], 8):
            block = plane[r0 : r0 + 8, c0 : c0 + 8] - level
            quantized = np.rint((m @ block @ m.T) / qv).astype(np.int64)
            seqs.append([int(quantized.flat[i]) for i in zz])
    return seqs


def _jpeg_encode_sequential(
    sof: int,
    precision: int,
    width: int,
    height: int,
    planes: list,
    samp: "list[tuple[int, int]]",
    quant: "list[int]",
    tables: "list[tuple[int, list[int], list[int]]]",
    restart_interval: int,
) -> bytes:
    """Sequential DCT core of :func:`encode_jpeg` (SOF0) and
    :func:`encode_jpeg12` (SOF1): one scan over every component,
    MCU-interleaved, DC differences then run-length AC with ZRL/EOB
    (T.81 F.1.2), with ``tables`` = [DC, AC] as (class, bits, vals)."""
    dc = _huff_encoder(*tables[0][1:])
    ac = _huff_encoder(*tables[1][1:])
    seqs = [_jpeg_fdct(p, quant, float(1 << (precision - 1))) for p in planes]
    hmax = max(hi for hi, _ in samp)
    vmax = max(vi for _, vi in samp)
    units = _jpeg_mcu_order(
        width // (8 * hmax),
        height // (8 * vmax),
        [(hi, vi, p.shape[1] // 8) for p, (hi, vi) in zip(planes, samp)],
    )
    wr = _BitWriter()
    preds = [0] * len(planes)
    for mi, members in enumerate(units):
        if restart_interval and mi and mi % restart_interval == 0:
            wr.restart()
            preds = [0] * len(planes)
        for ci, bi in members:
            seq = seqs[ci][bi]
            size, bits = _jpeg_magnitude(seq[0] - preds[ci])
            wr.huff(dc, size, size, bits)
            preds[ci] = seq[0]
            run = 0
            for v in seq[1:]:
                if v == 0:
                    run += 1
                    continue
                while run >= 16:
                    wr.huff(ac, 0xF0)  # ZRL
                    run -= 16
                size, bits = _jpeg_magnitude(v)
                wr.huff(ac, (run << 4) | size, size, bits)
                run = 0
            if run:
                wr.huff(ac, 0x00)  # EOB
    ids = list(range(1, len(planes) + 1))
    return (
        _jpeg_header(
            sof, precision, width, height, samp, quant, tables, restart_interval
        )
        + _jpeg_sos(ids, 0, 63, 0, 0)
        + wr.flush()
        + b"\xff\xd9"
    )


def encode_jpeg(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 1,
    quant: "list[int] | None" = None,
    restart_interval: int = 0,
    sampling: "list[tuple[int, int]] | None" = None,
) -> bytes:
    """Minimal baseline JPEG encoder (synthesis/test helper — the inverse
    of :func:`decode_jpeg_pixels`). Gray (1 channel) or RGB (3 channels,
    encoded as YCbCr); width/height must be multiples of the MCU tile (no
    padding logic — this is a payload synthesizer). Default quant table
    is all-ones, under which a CONSTANT 8×8 block round-trips bit-exactly
    (only the DC coefficient survives the FDCT and 8·(v−128) is integer),
    the property the oracle query plants.

    ``sampling``: per-component (h, v) factors in 1..4, every factor
    dividing the maximum (default all 1×1).
    E.g. ``[(2, 2), (1, 1), (1, 1)]`` emits 4:2:0 and ``[(2, 1), (1, 1),
    (1, 1)]`` 4:2:2 — chroma planes are box-mean downsampled before the
    FDCT and blocks are MCU-interleaved, matching the decoder's
    nearest-replication upsample (on constant blocks the round trip stays
    bit-exact: the box mean of a constant is the constant)."""
    planes, samp = _jpeg_planes(
        "encode_jpeg", width, height, pixels, channels, sampling
    )
    return _jpeg_encode_sequential(
        0xC0, 8, width, height, planes, samp,
        list(quant) if quant is not None else [1] * 64,
        [(0, _JPEG_DC_BITS, _JPEG_DC_VALS), (1, _JPEG_AC_BITS, _JPEG_AC_VALS)],
        restart_interval,
    )


def encode_jpeg12(
    width: int,
    height: int,
    samples: "list[int]",
    quant: "list[int] | None" = None,
    restart_interval: int = 0,
) -> bytes:
    """Minimal 12-bit EXTENDED SEQUENTIAL (SOF1) grayscale JPEG encoder
    — synthesis/test helper, the inverse of the 12-bit path of
    :func:`decode_jpeg_pixels`. ``samples`` is one 12-bit value (0-4095)
    per pixel, row-major; width/height must be multiples of 8. The DQT
    stores 16-bit entries (Pq=1); the level shift is 2048. Because
    12-bit magnitudes reach SSSS category 15 (DC) / 14 (AC), the stream
    carries CUSTOM Huffman tables built here: 16 DC categories at code
    length 5 and every (run, size) AC symbol at code length 8 — valid
    canonical tables that any conforming decoder accepts."""
    import numpy as np

    if width % 8 or height % 8:
        raise ValueError("encode_jpeg12 requires dimensions divisible by 8")
    if len(samples) != width * height:
        raise ValueError("sample buffer length mismatch")
    if min(samples) < 0 or max(samples) > 4095:
        raise ValueError("12-bit samples must be 0-4095")
    ac_syms = [0x00, 0xF0] + [
        (run << 4) | size for run in range(16) for size in range(1, 15)
    ]
    tables = [
        (0, [0, 0, 0, 0, 16] + [0] * 11, list(range(16))),  # all length 5
        (1, [0] * 7 + [len(ac_syms)] + [0] * 8, ac_syms),  # 226 of length 8
    ]
    plane = np.array(samples, dtype=np.float64).reshape(height, width)
    return _jpeg_encode_sequential(
        0xC1, 12, width, height, [plane], [(1, 1)],
        list(quant) if quant is not None else [1] * 64,
        tables, restart_interval,
    )


def encode_jpeg_progressive(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 1,
    quant: "list[int] | None" = None,
    dc_al: int = 1,
    ac_al: int = 0,
    restart_interval: int = 0,
    sampling: "list[tuple[int, int]] | None" = None,
) -> bytes:
    """Minimal PROGRESSIVE JPEG encoder (SOF2) — synthesis/test helper,
    the inverse of the progressive path of :func:`decode_jpeg_pixels`.
    ``restart_interval`` emits a DRI segment and RSTn markers every that
    many MCUs inside EVERY scan — bit buffer flushed with 1-pad, DC
    predictors and EOB runs reset, marker counter cycling 0-7 per scan.

    Emits the standard spectral-selection + successive-approximation
    progression:

    1. one interleaved DC FIRST scan (Ss=Se=0, Ah=0, Al=``dc_al``) coding
       diffs of the point-transformed DC values (T.81 G.1.2.1);
    2. ``dc_al`` DC REFINEMENT scans (Ah=Al+1), one raw bit per block
       per component, walking Al back down to 0;
    3. one AC first scan per component (Ss=1, Se=63, Ah=0, Al=``ac_al``)
       with EOB-run coding across blocks (T.81 G.1.2.2);
    4. ``ac_al`` AC REFINEMENT scans per component (Ah=Al+1, T.81
       G.1.2.3): newly-significant coefficients as zero-history-run
       codes, correction bits interleaved exactly where the decoder's
       advance loops consume them.

    Same constraints as :func:`encode_jpeg`: gray or RGB, per-component
    ``sampling`` factors in 1..4 forming a divisor set (box-mean chroma
    downsample before the FDCT, DC scans interleaved in MCU order, AC
    scans per component over that component's own block grid),
    dimensions divisible by the MCU tile."""
    if not 0 <= dc_al <= 13:
        raise ValueError("dc_al out of range")
    if not 0 <= ac_al <= 13:
        raise ValueError("ac_al out of range")
    planes, samp = _jpeg_planes(
        "encode_jpeg_progressive", width, height, pixels, channels, sampling
    )
    q = list(quant) if quant is not None else [1] * 64
    dc = _huff_encoder(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac = _huff_encoder(_JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)
    seqs = [_jpeg_fdct(p, q, 128.0) for p in planes]
    hmax = max(hi for hi, _ in samp)
    vmax = max(vi for _, vi in samp)
    units = _jpeg_mcu_order(
        width // (8 * hmax),
        height // (8 * vmax),
        [(hi, vi, p.shape[1] // 8) for p, (hi, vi) in zip(planes, samp)],
    )

    def passes(al: int) -> "list[tuple[int, int]]":
        """(Ah, Al) of the first scan at point transform ``al`` and of
        each refinement walking Al back down to 0."""
        return [(0, al)] + [(a + 1, a) for a in range(al - 1, -1, -1)]

    scans = bytearray()
    # interleaved DC scans; the point transform is an ARITHMETIC right
    # shift of the signed quantized coefficient (T.81 G.1.2.1)
    for ah, al in passes(dc_al):
        wr = _BitWriter()
        preds = [0] * channels
        for mi, members in enumerate(units):
            if restart_interval and mi and mi % restart_interval == 0:
                wr.restart()
                preds = [0] * channels
            for ci, bi in members:
                v = seqs[ci][bi][0] >> al
                if ah:  # refinement: one raw bit per block
                    wr.put(v & 1, 1)
                    continue
                size, bits = _jpeg_magnitude(v - preds[ci])
                wr.huff(dc, size, size, bits)
                preds[ci] = v
        scans += _jpeg_sos(list(range(1, channels + 1)), 0, 0, ah, al)
        scans += wr.flush()

    # AC scans per component (non-interleaved). One EOBn code covers a
    # whole run of (1 << n) + extra empty blocks, extra in n raw bits
    # (T.81 G.1.2.2). Refinement scans (G.1.2.3) code newly significant
    # coefficients as (zero-history run, 1) + sign, and buffer the
    # correction bits of already significant ones until the ZRL / RS /
    # EOBn code the decoder reads them after.
    for ci in range(channels):
        for ah, al in passes(ac_al):
            wr = _BitWriter()
            eobrun = 0
            pending: "list[int]" = []  # corrections riding on the EOB run

            def flush_eobrun() -> None:
                nonlocal eobrun
                if eobrun > 0:
                    r = eobrun.bit_length() - 1
                    wr.huff(ac, r << 4, r, eobrun - (1 << r))
                    eobrun = 0
                for bit in pending:
                    wr.put(bit, 1)
                pending.clear()

            for bi, seq in enumerate(seqs[ci]):
                if restart_interval and bi and bi % restart_interval == 0:
                    flush_eobrun()
                    wr.restart()
                if ah == 0:
                    # first pass at point transform al: sign(v) * (|v| >> al)
                    vals = [(abs(v) >> al) * (1 if v > 0 else -1) for v in seq]
                    last_nz = max((k for k in range(1, 64) if vals[k]), default=0)
                    if last_nz == 0:
                        eobrun += 1
                        if eobrun == 0x7FFF:  # max representable EOB run
                            flush_eobrun()
                        continue
                    flush_eobrun()
                    run = 0
                    for k in range(1, last_nz + 1):
                        if vals[k] == 0:
                            run += 1
                            continue
                        while run >= 16:
                            wr.huff(ac, 0xF0)  # ZRL
                            run -= 16
                        size, bits = _jpeg_magnitude(vals[k])
                        wr.huff(ac, (run << 4) | size, size, bits)
                        run = 0
                    if last_nz < 63:
                        eobrun += 1
                    continue
                # t[k]: magnitude at this bit plane; 0 = still zero,
                # 1 = newly significant this scan, >1 = already significant
                t = [abs(v) >> al for v in seq]
                eob = max((k for k in range(1, 64) if t[k] == 1), default=0)
                run = 0
                br: "list[int]" = []  # corrections pending within the block
                for k in range(1, 64):
                    if t[k] == 0:
                        run += 1
                        continue
                    while run > 15 and k <= eob:
                        flush_eobrun()
                        wr.huff(ac, 0xF0)  # ZRL
                        run -= 16
                        for bit in br:
                            wr.put(bit, 1)
                        br.clear()
                    if t[k] > 1:  # already significant: one correction bit
                        br.append(t[k] & 1)
                        continue
                    flush_eobrun()
                    wr.huff(ac, (run << 4) | 1, 1, 1 if seq[k] > 0 else 0)
                    run = 0
                    for bit in br:
                        wr.put(bit, 1)
                    br.clear()
                if run > 0 or br:  # trailing zeros/corrections -> EOB run
                    eobrun += 1
                    pending.extend(br)
                    if eobrun == 0x7FFF:
                        flush_eobrun()
            flush_eobrun()
            scans += _jpeg_sos([ci + 1], 1, 63, ah, al) + wr.flush()

    return (
        _jpeg_header(
            0xC2, 8, width, height, samp, q,
            [(0, _JPEG_DC_BITS, _JPEG_DC_VALS),
             (1, _JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)],
            restart_interval,
        )
        + bytes(scans)
        + b"\xff\xd9"
    )


def _lossless_predict(p, x: int, y: int, sel: int, default: int) -> int:
    """Lossless-JPEG prediction of sample (x, y) of plane ``p`` (T.81
    H.1.1, Table H.1): ``default`` for the first sample, the left
    neighbour along the first line, the one above down the first column,
    and elsewhere selector 1-7 over a = left, b = above, c = above-left."""
    if y == 0:
        return default if x == 0 else p[0][x - 1]
    if x == 0:
        return p[y - 1][0]
    a, b, c = p[y][x - 1], p[y - 1][x], p[y - 1][x - 1]
    if sel == 1:
        return a
    if sel == 2:
        return b
    if sel == 3:
        return c
    if sel == 4:
        return a + b - c
    if sel == 5:
        return a + ((b - c) >> 1)
    if sel == 6:
        return b + ((a - c) >> 1)
    return (a + b) >> 1


def encode_jpeg_lossless(
    width: int,
    height: int,
    samples: "list[int] | list[tuple[int, ...]]",
    precision: int = 8,
    predictor: int = 1,
    pt: int = 0,
    channels: int = 1,
) -> bytes:
    """Minimal lossless JPEG (SOF3) encoder — synthesis/test helper, the
    exact inverse of the lossless path of :func:`decode_jpeg_pixels`.
    ``samples`` holds one value per pixel (``channels`` == 1) or one
    tuple per pixel, row-major, each value already point-transformed
    DOWN (i.e. the coded value; the decoder shifts back up by ``pt``).
    Carries a custom canonical DC table with all 17 SSSS categories."""
    if not 8 <= precision <= 16:
        raise ValueError("precision must be 8-16")
    if not 1 <= predictor <= 7:
        raise ValueError("predictor must be 1-7")
    rows = [
        [
            (samples[y * width + x],) if channels == 1
            else tuple(samples[y * width + x])
            for x in range(width)
        ]
        for y in range(height)
    ]
    maxv = (1 << (precision - pt)) - 1
    if any(not 0 <= v <= maxv for r in rows for tup in r for v in tup):
        raise ValueError("sample out of coded range")
    planes = [[[tup[ci] for tup in r] for r in rows] for ci in range(channels)]

    dc_bits = [0, 0, 0, 0, 0, 17] + [0] * 10  # 17 categories, length 6
    dc_vals = list(range(17))
    dc = _huff_encoder(dc_bits, dc_vals)
    wr = _BitWriter()
    default = 1 << (precision - 1 - pt)
    for y in range(height):
        for x in range(width):
            for p in planes:
                pred = _lossless_predict(p, x, y, predictor, default)
                sdiff = ((p[y][x] - pred + 32768) & 0xFFFF) - 32768
                if sdiff == -32768:
                    wr.huff(dc, 16)  # category 16, no extra bits
                else:
                    size, bits = _jpeg_magnitude(sdiff)
                    wr.huff(dc, size, size, bits)
    return (
        _jpeg_header(
            0xC3, precision, width, height, [(1, 1)] * channels, None,
            [(0, dc_bits, dc_vals)], 0,
        )
        + _jpeg_sos(list(range(1, channels + 1)), predictor, 0, 0, pt)
        + wr.flush()
        + b"\xff\xd9"
    )


# -- decoding ---------------------------------------------------------------


class _EntropyReader:
    """Bit reader over one entropy-coded segment ``b[pos:end]`` (T.81
    F.2.2): Huffman decode, raw bits and sign extension. A byte is
    checked when its first bit is needed: 0xFF must be followed by a
    stuffed 0x00, which is skipped, and reading past ``end`` or into a
    marker raises ValueError."""

    __slots__ = ("b", "pos", "end", "acc", "nacc")

    def __init__(self, b: bytes, pos: int, end: int) -> None:
        self.b, self.pos, self.end = b, pos, end
        self.acc = self.nacc = 0  # bits fetched but not yet consumed

    def _byte(self) -> int:
        pos = self.pos
        if pos >= self.end:
            raise ValueError("JPEG bitstream truncated")
        byte = self.b[pos]
        if byte == 0xFF:
            if pos + 1 >= self.end or self.b[pos + 1] != 0x00:
                raise ValueError("unexpected marker inside entropy data")
            pos += 1
        self.pos = pos + 1
        return byte

    def bits(self, n: int) -> int:
        acc, nacc = self.acc, self.nacc
        while nacc < n:
            acc = (acc << 8) | self._byte()
            nacc += 8
        nacc -= n
        self.acc, self.nacc = acc & ((1 << nacc) - 1), nacc
        return acc >> nacc

    def receive(self, size: int) -> int:
        """``size`` raw bits, sign-extended (T.81 F.2.2.1 EXTEND)."""
        if not size:
            return 0
        v = self.bits(size)
        return v if v >= 1 << (size - 1) else v - (1 << size) + 1

    def huff(self, table: dict) -> int:
        """One symbol of a :func:`_huff_decoder` table."""
        acc, nacc, code = self.acc, self.nacc, 1
        for _ in range(16):
            if not nacc:
                acc, nacc = self._byte(), 8
            nacc -= 1
            code = (code << 1) | ((acc >> nacc) & 1)
            if code in table:
                self.acc, self.nacc = acc & ((1 << nacc) - 1), nacc
                return table[code]
        raise ValueError("invalid Huffman code in JPEG stream")

    def restart(self) -> bool:
        """At a restart boundary, drop the partial byte and step over the
        RSTn marker if one comes next; without one, reading goes on
        unaligned. When the pad byte before the marker is all ones, its
        stuffed 0x00 is entropy data, not the marker, and ``pos`` is
        already past it."""
        b, pos = self.b, self.pos
        if pos + 1 < self.end and b[pos] == 0xFF and 0xD0 <= b[pos + 1] <= 0xD7:
            self.pos, self.acc, self.nacc = pos + 2, 0, 0
            return True
        return False


class _JpegFrame:
    """A parsed SOF0/1/2/3 header: precision, size and components as
    (id, quant slot, h, v). A DCT frame also holds the coefficient grid
    that every scan fills: per component, one zigzag-ordered list of 64
    quantized coefficients per block over the MCU-padded block grid."""

    def __init__(self, marker: int, body: bytes) -> None:
        prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
        if marker == 0xC3:
            if not 8 <= prec <= 16:
                raise NotImplementedError(
                    "lossless JPEG decode supports precision 8-16 only "
                    f"— got {prec}"
                )
            if ncomp not in (1, 2, 3):
                raise NotImplementedError(
                    "lossless JPEG decode supports 1-3 components only"
                )
        else:
            if marker == 0xC0 and prec != 8:
                raise ValueError("baseline JPEG (SOF0) is 8-bit by spec")
            if marker == 0xC2 and prec != 8:
                raise NotImplementedError(
                    "decode_jpeg_pixels supports 8-bit precision only in "
                    f"progressive streams — got {prec}"
                )
            if prec not in (8, 12):
                raise NotImplementedError(
                    "decode_jpeg_pixels supports 8- and 12-bit precision "
                    f"only — got {prec}"
                )
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    "decode_jpeg_pixels supports 1 or 3 components only"
                )
        comps = []
        for ci in range(ncomp):
            # component entries start at body byte 6 (after prec/h/w/n)
            cid, samp, tq = struct.unpack_from(">BBB", body, 6 + ci * 3)
            hi, vi = samp >> 4, samp & 0x0F
            if marker == 0xC3:
                if samp != 0x11:
                    raise NotImplementedError(
                        "lossless JPEG decode supports non-subsampled "
                        "components only"
                    )
            elif not (1 <= hi <= 4 and 1 <= vi <= 4):
                raise ValueError(
                    "JPEG sampling factors must be 1-4 (T.81 B.2.2) "
                    f"— got {hi}x{vi}"
                )
            if ncomp == 1:
                # single-component scans are NON-interleaved (T.81
                # A.2.2): the MCU is one data unit, factors irrelevant
                hi = vi = 1
            comps.append((cid, tq, hi, vi))
        self.precision, self.height, self.width = prec, h, w
        self.comps = comps
        if marker == 0xC3:
            return
        self.hmax = max(c[2] for c in comps)
        self.vmax = max(c[3] for c in comps)
        self.mcus_x = (w + 8 * self.hmax - 1) // (8 * self.hmax)
        self.mcus_y = (h + 8 * self.vmax - 1) // (8 * self.vmax)
        # interleaved scans cover the padded grid; a non-interleaved scan
        # covers only the component's own grid (T.81 A.2.2), which maps
        # into the padded storage
        self.padded = [(self.mcus_x * hi, self.mcus_y * vi) for _, _, hi, vi in comps]
        self.blocks = [
            (
                ((w * hi + self.hmax - 1) // self.hmax + 7) // 8,
                ((h * vi + self.vmax - 1) // self.vmax + 7) // 8,
            )
            for _, _, hi, vi in comps
        ]
        self.coefs = [[[0] * 64 for _ in range(bw * bh)] for bw, bh in self.padded]


def _jpeg_ac_first(
    rd: _EntropyReader, cf: "list[int]", tab: dict, k: int, se: int,
    al: int, eobrun: int, eob_runs: bool,
) -> int:
    """Decode one block's AC band k..se: run-length codes with ZRL and
    EOB (T.81 F.2.2.2), and in progressive scans EOBn runs that end this
    block and the next (1 << n) - 1 + extra (G.1.2.2). Returns the EOB
    run still to skip."""
    if eobrun:
        return eobrun - 1
    while k <= se:
        rs = rd.huff(tab)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            return (1 << run) - 1 + rd.bits(run) if eob_runs else 0
        k += run
        if k > se:
            raise ValueError("AC index overflow in JPEG stream")
        cf[k] = rd.receive(size) << al
        k += 1
    return 0


def _jpeg_ac_refine(
    rd: _EntropyReader, cf: "list[int]", tab: dict, k: int, se: int,
    al: int, eobrun: int,
) -> int:
    """One block of an AC successive-approximation refinement scan
    (T.81 G.1.2.3): newly significant coefficients arrive as (run, 1)
    codes counting ZERO-HISTORY positions, and every already nonzero
    coefficient passed on the way (including inside ZRL skips and EOB
    runs) carries one correction bit. Returns the EOB run still to
    skip."""
    p1 = 1 << al

    def correct(k: int) -> None:
        if rd.bits(1) and not (abs(cf[k]) & p1):
            cf[k] += p1 if cf[k] > 0 else -p1

    if eobrun:
        eobrun -= 1
    else:
        while k <= se:
            rs = rd.huff(tab)
            run, size = rs >> 4, rs & 0x0F
            newval = 0
            if size == 0:
                if run < 15:  # EOBn; ZRL skips 16 zero-history positions
                    eobrun = (1 << run) - 1 + rd.bits(run)
                    break
            elif size != 1:
                raise ValueError("invalid size in AC refinement scan")
            else:
                newval = p1 if rd.bits(1) else -p1
            # advance over `run` zero-history positions, correcting
            # nonzero ones along the way
            while k <= se:
                if cf[k]:
                    correct(k)
                elif run == 0:
                    break
                else:
                    run -= 1
                k += 1
            if newval and k <= se:
                cf[k] = newval
            k += 1
    # the rest of the block (all of it inside an EOB run): corrections
    while k <= se:
        if cf[k]:
            correct(k)
        k += 1
    return eobrun


def _jpeg_scan(
    rd: _EntropyReader,
    frame: _JpegFrame,
    comps: "list[int]",
    dc_tabs: "list[dict] | None",
    ac_tabs: "list[dict] | None",
    ss: int,
    se: int,
    ah: int,
    al: int,
    restart_interval: int,
    progressive: bool,
) -> None:
    """Decode one scan into ``frame.coefs``. A sequential scan is the
    special case Ss=0, Se=63, Ah=Al=0 over every component: DC and AC
    of each block in one pass. Interleaved scans walk the padded MCU
    grid (T.81 A.2.3), single-component scans the component's own grid
    (A.2.2); the restart cadence counts those units."""
    if len(comps) > 1:
        grid = [
            (frame.comps[ci][2], frame.comps[ci][3], frame.padded[ci][0])
            for ci in comps
        ]
        units = [
            [(k, comps[k], bi) for k, bi in mcu]
            for mcu in _jpeg_mcu_order(frame.mcus_x, frame.mcus_y, grid)
        ]
    else:
        ci = comps[0]
        bw = frame.padded[ci][0]
        cbw, cbh = frame.blocks[ci]
        units = [[(0, ci, r * bw + c)] for r in range(cbh) for c in range(cbw)]
    preds = [0] * len(comps)
    eobrun = 0
    k0 = max(ss, 1)
    for ui, members in enumerate(units):
        if restart_interval and ui and ui % restart_interval == 0:
            if rd.restart():
                preds = [0] * len(comps)
                eobrun = 0
        for k, ci, bi in members:
            cf = frame.coefs[ci][bi]
            if ss == 0:
                if ah == 0:  # DC difference of the point-transformed value
                    preds[k] += rd.receive(rd.huff(dc_tabs[k]))
                    cf[0] = preds[k] << al
                else:  # DC refinement: one raw bit per block
                    cf[0] |= rd.bits(1) << al
            if se:
                if ah == 0:
                    eobrun = _jpeg_ac_first(
                        rd, cf, ac_tabs[k], k0, se, al, eobrun, progressive
                    )
                else:
                    eobrun = _jpeg_ac_refine(rd, cf, ac_tabs[k], k0, se, al, eobrun)


def _jpeg_quant(frame: _JpegFrame, qtables: dict) -> "list[list[int]]":
    """Each component's quant table: KeyError when it is missing,
    IndexError when it has fewer than 64 entries."""
    qts = [qtables[tq] for _, tq, _, _ in frame.comps]
    if any(len(qt) < 64 for qt in qts):
        raise IndexError("JPEG quant table shorter than 64 entries")
    return qts


def _jpeg_pixels(
    frame: _JpegFrame, qts: "list[list[int]]"
) -> tuple[int, int, int, bytes]:
    """Coefficient grid -> canonical pixels: dequantize -> un-zigzag ->
    orthonormal IDCT -> level shift, nearest-replication upsample, crop,
    JFIF YCbCr->RGB, clamp at full precision, then >> (P - 8) to bytes
    (the deterministic truncating reduction viewers use)."""
    import numpy as np

    m = _dct_matrix()
    zz = _JPEG_ZIGZAG
    w, h = frame.width, frame.height
    level = float(1 << (frame.precision - 1))  # +128 at 8-bit, +2048 at 12
    planes = []
    for (_, _, hi, vi), (bw, bh), blocks, qt in zip(
        frame.comps, frame.padded, frame.coefs, qts
    ):
        p = np.zeros((bh * 8, bw * 8))
        for bi, seq in enumerate(blocks):
            block = np.zeros(64)
            for i, rm in enumerate(zz):
                block[rm] = seq[i] * qt[i]
            r0, c0 = (bi // bw) * 8, (bi % bw) * 8
            p[r0 : r0 + 8, c0 : c0 + 8] = m.T @ block.reshape(8, 8) @ m + level
        if vi < frame.vmax or hi < frame.hmax:
            # index mapping (x*hi)//hmax rather than np.repeat, so
            # NON-divisible factor pairs (3 vs 4, legal per T.81) map by
            # floor-nearest too — identical to repeat when they divide
            ys = (np.arange(frame.mcus_y * frame.vmax * 8) * vi) // frame.vmax
            xs = (np.arange(frame.mcus_x * frame.hmax * 8) * hi) // frame.hmax
            p = p[np.ix_(ys, xs)]
        planes.append(p[:h, :w])
    maxval = (1 << frame.precision) - 1
    if len(planes) == 3:
        y, cb, cr = planes
        r = y + 1.402 * (cr - level)
        g = y - 0.344136 * (cb - level) - 0.714136 * (cr - level)
        bl = y + 1.772 * (cb - level)
        full = np.stack([r, g, bl], axis=-1)
    else:
        full = planes[0]
    px = np.clip(np.rint(full), 0, maxval).astype(np.int64)
    return w, h, len(planes), (px >> (frame.precision - 8)).astype(np.uint8).tobytes()


def _jpeg_lossless(
    b: bytes, start: int, frame: _JpegFrame, sos: bytes, htables: dict
) -> tuple[int, int, int, bytes]:
    """Lossless scan (T.81 Annex H): per sample a DC-style code gives the
    difference category 0-16 (16 means 32768 with no extra bits,
    H.1.2.2), reconstruction is (prediction + difference) mod 65536, and
    the point transform shifts values back up by Pt. Components carry
    no colour transform (RGB stays RGB); output bytes are >> (P - 8)."""
    ns = sos[0]
    if ns != len(frame.comps):
        raise NotImplementedError(
            "lossless JPEG decode supports single-scan streams only"
        )
    tabs = []
    for si in range(ns):
        _cid, tt = sos[1 + si * 2], sos[2 + si * 2]
        tabs.append(htables[(0, tt >> 4)])
    predictor = sos[1 + 2 * ns]  # Ss = predictor selector
    pt = sos[3 + 2 * ns] & 0x0F  # Al = point transform
    if not 1 <= predictor <= 7:
        raise ValueError("lossless predictor selector must be 1-7")
    w, h, ncomp = frame.width, frame.height, ns
    rd = _EntropyReader(b, start, len(b))
    default = 1 << (frame.precision - 1 - pt)
    planes = [[[0] * w for _ in range(h)] for _ in range(ncomp)]
    for y in range(h):
        for x in range(w):
            for p, tab in zip(planes, tabs):
                size = rd.huff(tab)
                diff = 32768 if size == 16 else rd.receive(size)
                pred = _lossless_predict(p, x, y, predictor, default)
                p[y][x] = (pred + diff) & 0xFFFF
    shift = frame.precision - 8
    out = bytearray(w * h * ncomp)
    for y in range(h):
        for x in range(w):
            for ci in range(ncomp):
                s = (planes[ci][y][x] << pt) & 0xFFFF
                out[(y * w + x) * ncomp + ci] = (s >> shift) & 0xFF
    return w, h, ncomp, bytes(out)


def decode_jpeg_pixels(b: bytes | None) -> tuple[int, int, int, bytes] | None:
    """Decode a JPEG to raw pixels: (width, height, channels, pixels) with
    ``pixels`` row-major gray or RGB bytes — the same canonical layout as
    the PNG/BMP/GIF decoders.

    Supported (ITU-T T.81, Huffman coding): sequential DCT, SOF0 baseline
    and SOF1 extended at 8 or 12 bits with 8- or 16-bit quant tables;
    progressive DCT (SOF2, 8-bit) with spectral selection, successive
    approximation and EOB runs; lossless (SOF3, precision 8-16, 1-3
    components, predictors 1-7). DCT streams take 1 or 3 components with
    sampling factors 1-4 (4:2:0, 4:2:2, 4:1:1, ...) and restart
    intervals in every scan.

    One marker walk and one entropy reader serve every process. A
    sequential stream is a single scan (Ss=0, Se=63, Ah=Al=0) into the
    same coefficient grid that progressive scans fill, and one
    reconstruction (:func:`_jpeg_pixels`) turns the grid into pixels.
    Returns None for non-JPEG bytes; raises NotImplementedError, naming
    the gap, for arithmetic coding, hierarchical frames, 12-bit
    progressive, multi-scan sequential, and lossless streams with
    restarts or subsampled components."""
    if b is None or len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    pos = 2
    qtables: dict[int, "list[int]"] = {}
    htables: dict[tuple[int, int], dict] = {}  # (class, slot) -> decoder
    frame: "_JpegFrame | None" = None
    kind = None  # 0xC0 sequential (SOF0/SOF1), 0xC2 progressive, 0xC3 lossless
    restart_interval = 0
    dri_seen = False  # a DRI anywhere before SOF3 rejects a lossless stream
    # the first segment a progressive stream may not carry before its SOF2
    not_progressive: "Exception | None" = None

    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", b, pos + 2)
        body = b[pos + 4 : pos + 2 + seglen]
        after = pos + 2 + seglen  # next segment, or a scan's entropy data
        if marker == 0xC4:  # DHT — possibly several tables per segment
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0x0F
                bits = list(body[off + 1 : off + 17])
                nvals = sum(bits)
                vals = list(body[off + 17 : off + 17 + nvals])
                htables[(tc, th)] = _huff_decoder(bits, vals)
                off += 17 + nvals
        elif kind == 0xC3:  # lossless reads only DHT, SOF3, DRI and SOS
            if marker == 0xC3:
                frame = _JpegFrame(marker, body)
            elif marker == 0xDD:
                raise NotImplementedError(
                    "lossless JPEG decode does not support restart markers"
                )
            elif marker == 0xDA:
                return _jpeg_lossless(b, after, frame, body, htables)
        elif marker == 0xDB:  # DQT — possibly several tables per segment
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0x0F
                if pq == 0:
                    qtables[tq] = list(body[off + 1 : off + 65])
                    off += 65
                    continue
                err = NotImplementedError(
                    "decode_jpeg_pixels supports 8-bit quant tables only "
                    "in progressive streams"
                )
                if kind == 0xC2:
                    raise err
                qtables[tq] = list(struct.unpack_from(">64H", body, off + 1))
                off += 129
                not_progressive = not_progressive or err
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
            dri_seen = True
        elif marker in _JPEG_SOF:
            if kind == 0xC2 and marker != 0xC2:
                raise ValueError("mixed SOF markers in progressive stream")
            if marker == 0xC2 and kind != 0xC2 and not_progressive:
                raise not_progressive
            if marker == 0xC3 and dri_seen:
                raise NotImplementedError(
                    "lossless JPEG decode does not support restart markers"
                )
            if marker > 0xC3:
                raise NotImplementedError(
                    "decode_jpeg_pixels supports baseline sequential (SOF0/"
                    f"SOF1), progressive (SOF2), and lossless (SOF3) only — "
                    f"got SOF marker 0x{marker:02X} (arithmetic/hierarchical "
                    "need a full codec)"
                )
            frame = _JpegFrame(marker, body)
            kind = 0xC0 if marker == 0xC1 else marker
            if kind == 0xC0:
                not_progressive = not_progressive or ValueError(
                    "mixed SOF markers in progressive stream"
                )
        elif marker == 0xDA and kind != 0xC2:  # the one sequential scan
            ns = body[0]
            if ns != (len(frame.comps) if frame else 0):
                raise NotImplementedError(
                    "decode_jpeg_pixels supports single-scan sequential "
                    "streams only (every component in one scan)"
                )
            if frame is None:
                return None
            # components in frame order, whatever ids the scan names
            dc_tabs, ac_tabs = [], []
            for si in range(ns):
                _cid, tt = body[1 + si * 2], body[2 + si * 2]
                dc_tabs.append(htables[(0, tt >> 4)])
                ac_tabs.append(htables[(1, tt & 0x0F)])
            qts = _jpeg_quant(frame, qtables)  # fails before the scan
            _jpeg_scan(
                _EntropyReader(b, after, len(b)), frame, list(range(ns)),
                dc_tabs, ac_tabs, 0, 63, 0, 0, restart_interval, False,
            )
            return _jpeg_pixels(frame, qts)
        elif marker == 0xDA:  # one scan of a progression
            ns = body[0]
            index = {c[0]: ix for ix, c in enumerate(frame.comps)}
            comps, sel = [], []
            for si in range(ns):
                cid, tt = body[1 + si * 2], body[2 + si * 2]
                comps.append(index[cid])
                sel.append(tt)
            ss, se, ahl = body[1 + ns * 2], body[2 + ns * 2], body[3 + ns * 2]
            # the scan's entropy data runs to the next marker that is not
            # RSTn; with no such marker it stops short of the last byte
            end = after
            while end + 1 < len(b):
                if b[end] == 0xFF and b[end + 1] != 0x00:
                    if 0xD0 <= b[end + 1] <= 0xD7:
                        end += 2
                        continue
                    break
                end += 1
            dc_tabs = ac_tabs = None
            if ss == 0:
                if se != 0:
                    raise ValueError("DC scan with Se != 0")
                if ahl >> 4 == 0:
                    dc_tabs = [htables[(0, t >> 4)] for t in sel]
            else:
                if ns != 1:
                    raise ValueError("progressive AC scan must be single-component")
                ac_tabs = [htables[(1, sel[0] & 0x0F)]]
            _jpeg_scan(
                _EntropyReader(b, after, end), frame, comps, dc_tabs, ac_tabs,
                ss, se, ahl >> 4, ahl & 0x0F, restart_interval, True,
            )
            pos = end
            continue
        pos = after

    if kind != 0xC2:
        return None  # no scan reached
    return _jpeg_pixels(frame, _jpeg_quant(frame, qtables))


PIXEL_SCHEMA = (
    "doc_id long, width long, height long, channels long,"
    " px_sum long, px_wsum long, px_mean double"
)


# Exception classes a malformed-but-magic payload can raise out of the
# strict per-codec decoders. The corpus-scan dispatch catches these per
# ROW so one corrupt file nulls out instead of aborting the whole Spark
# task (ADVICE r8); the per-codec decoders themselves stay strict.
_DECODE_ERRORS: tuple[type[BaseException], ...] | None = None


def _decode_errors() -> tuple[type[BaseException], ...]:
    global _DECODE_ERRORS
    if _DECODE_ERRORS is None:
        import struct
        import zlib

        # NO MemoryError (ADVICE r9 low): swallowing it per row would
        # misreport memory exhaustion on a large-but-valid payload as
        # corpus corruption and leave the executor degraded — let the
        # task fail loudly instead.
        _DECODE_ERRORS = (
            ValueError, struct.error, zlib.error, EOFError, IndexError,
            KeyError, OverflowError, NotImplementedError,
        )
    return _DECODE_ERRORS


def _classify_image_payload(
    b: "bytes | None",
) -> "tuple[tuple[int, int, int, bytes] | None, str]":
    """Magic-byte dispatch over every pixel decoder (PNG, BMP, GIF,
    JPEG), WITH an error class: returns (decoded-or-None, status) where
    status is 'ok' (decoded), 'not_image' (no magic-byte match / null
    payload), 'stub' (valid container hitting a documented
    NotImplementedError codec stub), or 'corrupt' (magic bytes pass but
    the body is malformed/truncated). A GIF whose first frame is a
    sub-rectangle (animation) composites its POSTER FRAME through
    :func:`decode_gif_frames` like a real viewer instead of failing the
    corpus scan. Keeps the honest-stub posture VISIBLE in scan output
    instead of folding stubs and corruption into one null."""
    try:
        m = decode_png_pixels(b)
        if m is None:
            m = decode_bmp_pixels(b)
        if m is None:
            try:
                m = decode_gif_pixels(b)
            except NotImplementedError:
                g = decode_gif_frames(b)
                m = (g[0], g[1], g[2], g[3][0]) if g is not None and g[3] else None
        if m is None:
            m = decode_jpeg_pixels(b)
        return (m, "ok") if m is not None else (None, "not_image")
    except NotImplementedError:
        return None, "stub"
    except _decode_errors():
        return None, "corrupt"


def _decode_any_image(b: "bytes | None") -> tuple[int, int, int, bytes] | None:
    """Corpus-scan pixel decode: :func:`_classify_image_payload` without
    the status. A payload whose magic bytes pass but whose body is
    truncated/malformed — or that hits a documented codec stub — returns
    None like non-image bytes, instead of propagating the decoder's
    strict exception, so one corrupt file can't abort a 100 TB scan."""
    return _classify_image_payload(b)[0]


def _sum_stats(vals) -> "tuple[int, int, float | None]":
    """(sum, position-weighted sum(k * v_k), mean rounded to 6 places)
    of a decoded byte or sample sequence; the mean is null when empty."""
    s, n = sum(vals), len(vals)
    return s, sum(k * v for k, v in enumerate(vals)), (round(s / n, 6) if n else None)


def decode_image_pixels(
    df: DataFrame, id_col: str = "doc_id", payload: str = "payload"
) -> DataFrame:
    """Per-document pixel statistics from REAL pixel decoding — PNG
    (:func:`decode_png_pixels`), 24-bit BMP (:func:`decode_bmp_pixels`),
    LZW GIF (:func:`decode_gif_pixels`), and JPEG
    (:func:`decode_jpeg_pixels`) dispatched on magic bytes, all
    emitting the same canonical top-down RGB layout: (width, height,
    channels, px_sum, px_wsum, px_mean).
    px_sum is the integer sum of all decoded pixel bytes; px_wsum is the
    position-weighted sum(k * byte_k) over the canonical order, which is
    wrong unless row order, BGR swap, and padding handling are exactly
    right (a plain sum is order-blind). Other-format / null payloads
    null-propagate (corpus-scan posture)."""

    def pixels(b):
        m = _decode_any_image(b)
        if m is None:
            return None
        w, h, ch, px = m
        return (w, h, ch, *_sum_stats(px))

    return _map_payloads(df, pixels, PIXEL_SCHEMA, id_col, payload)


GIF_ANIM_SCHEMA = (
    "doc_id long, width long, height long, n_frames long,"
    " fr_sum long, fr_wsum long, fr_mean double"
)


def decode_gif_anim_stats(
    df: DataFrame, id_col: str = "doc_id", payload: str = "payload"
) -> DataFrame:
    """Per-document animated-GIF statistics from REAL multi-frame
    compositing (:func:`decode_gif_frames`): (width, height, n_frames,
    fr_sum, fr_wsum, fr_mean) over the frame-major concatenation of every
    composited canvas — fr_wsum = sum(k * byte_k) is wrong unless frame
    order, sub-rect placement, transparency pass-through, AND disposal
    restores are all exactly right. Non-GIF / null payloads
    null-propagate (corpus-scan posture)."""

    def anim(b):
        # corpus-scan posture: a GIF whose body is truncated/malformed —
        # or whose frames escape the canvas — null-propagates instead of
        # aborting the scan task, matching phash_video_frames
        try:
            m = decode_gif_frames(b)
        except _decode_errors():
            return None
        if m is None:
            return None
        w, h, _ch, frames = m
        return (w, h, len(frames), *_sum_stats(b"".join(frames)))

    return _map_payloads(df, anim, GIF_ANIM_SCHEMA, id_col, payload)


# ---------------------------------------------------------------------------
# REAL WAV PCM sample decode — stdlib only (RIFF chunk walk + array-typed
# sample views). Extends the audio tier from header metadata
# (parse_wav_header) to the actual samples, same posture as the PNG/BMP
# pixel decoders: compressed audio codecs stay honest stubs.
# ---------------------------------------------------------------------------


def decode_wav_pcm(b: bytes | None) -> tuple[int, int, "list[int]"] | None:
    """Decode integer PCM samples from a WAV payload: (sample_rate,
    channels, samples) with ``samples`` the interleaved signed values —
    16-bit little-endian signed, 8-bit unsigned recentred to signed by
    -128, 24-bit little-endian signed (round 7), G.711 µ/A-law expansion,
    or IEEE float32 (round 7 — scaled by 32767 and symmetrically rounded
    to integers, the standard float→int16-range convention; values
    outside ±1 clip to the int16 extremes), IEEE float64, or mono/stereo
    IMA and MS ADPCM (all round 8). Returns None for non-WAV bytes;
    raises NotImplementedError for valid WAVs outside the supported
    subset (>2 ADPCM channels, MP3-in-WAV) — the honest-stub posture.
    """
    import struct
    import sys
    from array import array

    if b is None or len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos = 12
    fmt_tag = rate = channels = bits = None
    data: bytes | None = None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (csize,) = struct.unpack_from("<I", b, pos + 4)
        body = pos + 8
        if cid == b"fmt " and csize >= 16 and body + 16 <= len(b):
            fmt_tag, channels, rate, _, block_align, bits = struct.unpack_from(
                "<HHIIHH", b, body
            )
        elif cid == b"data":
            data = b[body : body + csize]
        pos = body + csize + (csize & 1)
    if rate is None or data is None:
        return None
    if fmt_tag == 1 and bits == 16:
        arr = array("h")
        arr.frombytes(data[: len(data) & ~1])
        if sys.byteorder == "big":  # WAV PCM is little-endian on disk
            arr.byteswap()
        samples = arr.tolist()
    elif fmt_tag == 1 and bits == 8:
        samples = [v - 128 for v in data]  # 8-bit WAV is unsigned
    elif fmt_tag == 1 and bits == 24:
        # 24-bit little-endian signed (round 7): three bytes per sample,
        # sign from bit 23 — studio-master PCM
        n = len(data) // 3
        samples = []
        for i in range(n):
            v = data[3 * i] | (data[3 * i + 1] << 8) | (data[3 * i + 2] << 16)
            samples.append(v - (1 << 24) if v & 0x800000 else v)
    elif fmt_tag == 3 and bits == 32:
        # IEEE float32 (round 7): nominal range ±1.0; scale by 32767 with
        # round-half-away-from-zero (the symmetric convention), clip
        # out-of-range input to the int16 extremes. math.floor/ceil keeps
        # the mapping exactly reproducible in SQL (no banker's rounding).
        import math

        fl = array("f")
        fl.frombytes(data[: len(data) & ~3])
        if sys.byteorder == "big":
            fl.byteswap()
        samples = []
        for x in fl:
            if x != x:  # NaN → 0, the usual sanitization
                samples.append(0)
                continue
            v = x * 32767.0
            v = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
            samples.append(max(-32768, min(32767, v)))
    elif fmt_tag == 3 and bits == 64:
        # IEEE float64 (round 8): same ±1.0 nominal range and symmetric
        # round-half-away scaling as the float32 path.
        import math

        fl = array("d")
        fl.frombytes(data[: len(data) & ~7])
        if sys.byteorder == "big":
            fl.byteswap()
        samples = []
        for x in fl:
            if x != x:
                samples.append(0)
                continue
            v = x * 32767.0
            v = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
            samples.append(max(-32768, min(32767, v)))
    elif fmt_tag == 0x11 and bits == 4:
        # IMA/DVI ADPCM (round 8, format tag 17; public IMA spec): each
        # block_align-byte block opens with a 4-byte header PER CHANNEL
        # (int16 predictor emitted as the block's first sample frame,
        # uint8 step index, reserved byte) followed by packed nibbles,
        # LOW nibble first. Per nibble: diff = step/8 (+step/4 if bit0)
        # (+step/2 if bit1) (+step if bit2), subtracted when bit3 set;
        # predictor clamps to int16, index steps by the standard adjust
        # table and clamps to [0, 88]. STEREO (round 8, this session)
        # interleaves 4-byte (8-nibble) channel groups: left gets bytes
        # 0-3 of each 8-byte pair, right gets bytes 4-7; output frames
        # interleave L/R.
        if channels not in (1, 2):
            raise NotImplementedError(
                "decode_wav_pcm supports mono/stereo IMA ADPCM only"
            )
        ba = block_align or len(data)
        samples = []

        def ima_steps(pred: int, index: int, nibbles) -> "list[int]":
            out = []
            for nib in nibbles:
                step = _IMA_STEPS[index]
                diff = step >> 3
                if nib & 1:
                    diff += step >> 2
                if nib & 2:
                    diff += step >> 1
                if nib & 4:
                    diff += step
                pred = pred - diff if nib & 8 else pred + diff
                pred = max(-32768, min(32767, pred))
                index = max(0, min(88, index + _IMA_INDEX_ADJ[nib & 7]))
                out.append(pred)
            return out

        for boff in range(0, len(data), ba):
            block = data[boff : boff + ba]
            if len(block) < 4 * channels:
                break
            preds = [
                struct.unpack_from("<h", block, 4 * c)[0]
                for c in range(channels)
            ]
            idxs = [min(88, block[4 * c + 2]) for c in range(channels)]
            samples.extend(preds)  # header predictors = first frame
            payload = block[4 * channels :]
            if channels == 1:
                nibs = [
                    n for byte in payload for n in (byte & 0x0F, byte >> 4)
                ]
                samples.extend(ima_steps(preds[0], idxs[0], nibs))
            else:
                chans = []
                for c in range(2):
                    cbytes = bytearray()
                    g = 0
                    while 8 * g + 4 * c + 4 <= len(payload):
                        cbytes += payload[8 * g + 4 * c : 8 * g + 4 * c + 4]
                        g += 1
                    nibs = [
                        n for byte in cbytes
                        for n in (byte & 0x0F, byte >> 4)
                    ]
                    chans.append(ima_steps(preds[c], idxs[c], nibs))
                for lv, rv in zip(chans[0], chans[1]):
                    samples.append(lv)
                    samples.append(rv)
    elif fmt_tag == 2 and bits == 4:
        # MS-ADPCM (round 8, format tag 2; public Microsoft spec): mono
        # only. Block header: predictor index (0-6), initial delta
        # (int16), sample1 (int16, the NEWER stored sample), sample2
        # (int16, older); output starts sample2, sample1, then one
        # sample per nibble — HIGH nibble first, the opposite order of
        # IMA. Per nibble: pred = trunc((s1*c1 + s2*c2) / 256) +
        # signed_nibble * delta — C integer division truncating toward
        # zero, matching the Microsoft spec pseudocode and mainstream
        # decoders (ffmpeg); an arithmetic >> 8 (floor) is 1 off on
        # negative sums not divisible by 256 and the error compounds
        # through the predictor state (ADVICE r8). Clamped to int16;
        # delta = max(16, (adapt[nib] * delta) >> 8) — delta is
        # positive there so floor == truncate. STEREO
        # (round 8, this session): header fields interleave per channel
        # (predictors, then ideltas, sample1s, sample2s) and stream
        # nibbles alternate channels — every HIGH nibble is left, every
        # LOW nibble right — so appending in stream order IS the
        # interleaved frame order.
        if channels not in (1, 2):
            raise NotImplementedError(
                "decode_wav_pcm supports mono/stereo MS-ADPCM only"
            )
        nch = channels
        ba = block_align or len(data)
        samples = []
        for boff in range(0, len(data), ba):
            block = data[boff : boff + ba]
            if len(block) < 7 * nch:
                break
            coef = []
            for c in range(nch):
                ip = block[c]
                if ip >= 7:
                    raise ValueError("MS-ADPCM predictor index out of range")
                coef.append(_MS_COEF[ip])
            deltas = list(
                struct.unpack_from(f"<{nch}h", block, nch)
            )
            s1s = list(struct.unpack_from(f"<{nch}h", block, 3 * nch))
            s2s = list(struct.unpack_from(f"<{nch}h", block, 5 * nch))
            samples.extend(s2s)
            samples.extend(s1s)
            ni = 0
            for byte in block[7 * nch :]:
                for nib in (byte >> 4, byte & 0x0F):  # HIGH nibble first
                    c = ni % nch
                    ni += 1
                    snib = nib - 16 if nib >= 8 else nib
                    c1, c2 = coef[c]
                    acc = s1s[c] * c1 + s2s[c] * c2
                    # C-style truncation toward zero (spec/ffmpeg), NOT
                    # an arithmetic shift (ADVICE r8)
                    base = acc >> 8 if acc >= 0 else -((-acc) >> 8)
                    pred = base + snib * deltas[c]
                    pred = max(-32768, min(32767, pred))
                    s2s[c], s1s[c] = s1s[c], pred
                    deltas[c] = max(16, (_MS_ADAPT[nib] * deltas[c]) >> 8)
                    samples.append(pred)
    elif fmt_tag in (6, 7) and bits == 8:
        # G.711 companded telephony audio (format tags 6 = A-law,
        # 7 = µ-law): REAL expansion to 13/14-bit linear, the exact
        # integer formulas of CCITT G.711 (public spec; same arithmetic
        # as Sun's reference g711.c). Pure table-free integer math, so
        # the oracle can recompute every sample symbolically.
        if fmt_tag == 7:
            samples = [ulaw_expand(v) for v in data]
        else:
            samples = [alaw_expand(v) for v in data]
    else:
        raise NotImplementedError(
            "decode_wav_pcm supports integer PCM (8/16/24-bit), IEEE "
            "float32/float64, G.711 mu-law/A-law, and mono IMA/MS ADPCM "
            "only — MP3-in-WAV needs a full codec (not in container)"
        )
    return rate, channels, samples


# IMA ADPCM quantizer tables (public IMA spec / RFC-adjacent constants,
# identical in every implementation).
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX_ADJ = (-1, -1, -1, -1, 2, 4, 6, 8)

# MS-ADPCM predictor coefficient pairs and delta-adaptation table
# (public Microsoft WAVE spec constants, identical in every decoder).
_MS_COEF = (
    (256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
    (460, -208), (392, -232),
)
_MS_ADAPT = (
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230,
)


def ulaw_expand(u: int) -> int:
    """G.711 µ-law byte -> linear sample (BIAS 0x84; exact CCITT
    arithmetic: complement, mantissa<<3 + bias, shift by segment,
    re-bias with the sign from bit 7)."""
    u = ~u & 0xFF
    t = ((u & 0x0F) << 3) + 0x84
    t <<= (u & 0x70) >> 4
    return (0x84 - t) if (u & 0x80) else (t - 0x84)


def alaw_expand(a: int) -> int:
    """G.711 A-law byte -> linear sample (XOR 0x55 toggle; segment 0 is
    linear + 8, higher segments add 0x108 then shift; bit 7 SET means
    positive — the opposite polarity of µ-law)."""
    a ^= 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if (a & 0x80) else -t


AUDIO_PCM_SCHEMA = (
    "doc_id long, sample_rate long, channels long, n_samples long,"
    " sample_sum long, sample_mean double, peak_abs long, rms double"
)


def decode_audio_samples(
    df: DataFrame, id_col: str = "doc_id", payload: str = "payload"
) -> DataFrame:
    """Per-document audio features from REAL PCM decoding
    (:func:`decode_wav_pcm`): sample count/sum/mean, peak absolute
    amplitude, and RMS over the interleaved samples — the loudness /
    clipping-screen features an audio-corpus curation pass keys off.
    sample_sum and peak_abs are integers that are wrong unless the byte
    width, signedness, and data-chunk walk are exactly right. Non-WAV /
    null payloads null-propagate (corpus-scan posture)."""

    def features(b):
        m = decode_wav_pcm(b)
        if m is None:
            return None
        rate, ch, samples = m
        n = len(samples)
        if not n:
            return rate, ch, 0, 0, None, 0, None
        s = sum(samples)
        return (
            rate, ch, n, s, round(s / n, 6), max(abs(v) for v in samples),
            round(math.sqrt(sum(v * v for v in samples) / n), 6),
        )

    return _map_payloads(df, features, AUDIO_PCM_SCHEMA, id_col, payload)


def resize_nearest(
    px: bytes, w: int, h: int, ch: int, out_w: int, out_h: int
) -> bytes:
    """Nearest-neighbor resize of a canonical top-down interleaved-channel
    pixel buffer — pure integer sampling (src = out_idx * in_dim //
    out_dim, the floor mapping), no imaging library. The real transform
    every ingestion pipeline runs before feature extraction; the sampling
    grid is deterministic, so a symbolic oracle can recompute the resized
    bytes exactly."""
    out = bytearray(out_w * out_h * ch)
    i = 0
    for y in range(out_h):
        sy = y * h // out_h
        row = sy * w
        for x in range(out_w):
            s = (row + x * w // out_w) * ch
            out[i : i + ch] = px[s : s + ch]
            i += ch
    return bytes(out)


RESIZE_SCHEMA = (
    "doc_id long, width long, height long,"
    " rz_sum long, rz_wsum long, rz_mean double"
)


def resize_images(
    df: DataFrame,
    out_w: int,
    out_h: int,
    id_col: str = "doc_id",
    payload: str = "payload",
) -> DataFrame:
    """Decode (PNG/BMP/GIF, magic-dispatched) → nearest-neighbor resize to
    (out_w, out_h) → stats of the RESIZED canonical buffer. rz_wsum is
    position-weighted over the output order, so any sampling-grid or
    layout mistake changes it. Same Arrow-batched mapInPandas posture as
    decode_image_pixels; undecodable payloads null-propagate."""

    def resized(b):
        m = _decode_any_image(b)
        if m is None:
            return None
        w, h, ch, px = m
        return (out_w, out_h, *_sum_stats(resize_nearest(px, w, h, ch, out_w, out_h)))

    return _map_payloads(df, resized, RESIZE_SCHEMA, id_col, payload)


AUDIO_RESAMPLE_SCHEMA = (
    "doc_id long, out_rate long, n_out long,"
    " rs_sum long, rs_wsum long, rs_mean double"
)


def resample_audio_nearest(
    df: DataFrame,
    out_rate: int,
    id_col: str = "doc_id",
    payload: str = "payload",
) -> DataFrame:
    """Decode WAV audio (every :func:`decode_wav_pcm` format) →
    nearest-neighbor resample each channel to ``out_rate`` → stats of
    the resampled interleaved stream (the audio twin of
    :func:`resize_images`, the sample-rate-normalization pass an
    audio-corpus pipeline runs before featurization). Output frame j
    takes input frame floor(j * in_rate / out_rate); the output length
    is floor(n_frames * out_rate / in_rate) frames. rs_wsum is
    position-weighted over the interleaved output order, so frame
    indexing or channel-interleave mistakes change it. Undecodable
    payloads null-propagate."""

    def resampled(b):
        m = decode_wav_pcm(b)
        if m is None:
            return None
        rate, ch, samples = m
        n_out = (len(samples) // ch * out_rate) // rate
        rz = [
            samples[(j * rate // out_rate) * ch + c]
            for j in range(n_out)
            for c in range(ch)
        ]
        return (out_rate, n_out, *_sum_stats(rz))

    return _map_payloads(df, resampled, AUDIO_RESAMPLE_SCHEMA, id_col, payload)


def resample_audio_linear(
    df: DataFrame,
    out_rate: int,
    id_col: str = "doc_id",
    payload: str = "payload",
) -> DataFrame:
    """Decode WAV audio (every :func:`decode_wav_pcm` format) →
    LINEAR-interpolation resample each channel to ``out_rate`` → stats
    of the resampled interleaved stream (the interpolating upgrade of
    :func:`resample_audio_nearest`, what a data pipeline actually
    normalizes with). Output frame j sits at
    input position j*in_rate/out_rate: with p = (j*in_rate)//out_rate
    and rem = (j*in_rate) % out_rate, the sample is the EXACT integer

        trunc((x[p]*(out_rate - rem) + x[p+1]*rem) / out_rate)

    per channel, p+1 clamped to the last frame (hold at the tail) and
    division truncating toward zero (C convention — DuckDB's integer
    `//`, so the oracle replays every output sample symbolically; same
    convention posture as the MS-ADPCM decoder). rem == 0 degenerates
    to the input sample exactly, so identity-rate resampling is the
    identity. Output length is floor(n_frames*out_rate/in_rate) frames;
    rs_wsum is position-weighted over the interleaved output order.
    Undecodable payloads null-propagate; per-doc data-parallel, zero
    shuffle, only (doc_id, stats) rows exchanged."""

    def resampled(b):
        m = decode_wav_pcm(b)
        if m is None:
            return None
        rate, ch, samples = m
        rz = resample_linear(samples, ch, rate, out_rate)
        return (out_rate, len(rz) // ch, *_sum_stats(rz))

    return _map_payloads(df, resampled, AUDIO_RESAMPLE_SCHEMA, id_col, payload)


def resample_linear(
    samples: "list[int]", ch: int, rate: int, out_rate: int
) -> "list[int]":
    """Linear-interpolation resample of interleaved integer samples from
    ``rate`` to ``out_rate`` with the exact integer math documented on
    :func:`resample_audio_linear` (truncating division, tail hold)."""
    nf = len(samples) // ch
    out = []
    for j in range((nf * out_rate) // rate):
        pos = j * rate
        p, rem = pos // out_rate, pos % out_rate
        p1 = min(p + 1, nf - 1)
        for c in range(ch):
            num = samples[p * ch + c] * (out_rate - rem) + samples[p1 * ch + c] * rem
            out.append(num // out_rate if num >= 0 else -((-num) // out_rate))
    return out


# ---------------------------------------------------------------------------
# Perceptual image hashing (round 9, verdict r8 item 3): dHash/pHash over
# the decoded-pixel path, composed with the Hamming-ball banding of
# operators/dedup.py::hamming_pairs for image-level near-dup — a standard
# multimodal-training-pipeline stage. Reference semantics are the public
# dHash/pHash algorithms (Krawetz, "Kind of Like That" / "Looks Like It",
# hackerfactor.com, 2011-2013 — public knowledge, reimplemented).


def _gray_int(px: bytes, w: int, h: int, ch: int) -> "list[int]":
    """Integer luma plane: (299*R + 587*G + 114*B) // 1000 per pixel (the
    ITU-R BT.601 weights over a denominator of 1000, truncating — exact
    integer math so the DuckDB oracle can replay it; for R=G=B=v the luma
    is exactly v). Gray inputs pass through; ch==2 is PNG gray+alpha
    (color type 4) — luma is the GRAY sample, never the alpha (ADVICE
    r9 high: the old RGB branch read px[k+2] past the buffer on the
    last pixel and used alpha as 'G'). 16-bit decodes arrive as 2
    big-endian bytes per sample (len == 2*w*h*ch); normalize to the
    HIGH byte first so an 8-bit and a 16-bit re-encode of the same
    image hash identically (ADVICE r9 medium)."""
    n = w * h * ch
    if len(px) == 2 * n:
        px = px[0::2]  # big-endian high byte per sample
    elif len(px) != n:
        raise ValueError(
            f"pixel buffer {len(px)} != {n} or {2 * n} for {w}x{h}x{ch}"
        )
    if ch == 1:
        return list(px)
    if ch == 2:  # gray + alpha: first sample per pixel, stride 2
        return list(px[0::2])
    return [
        (299 * px[k] + 587 * px[k + 1] + 114 * px[k + 2]) // 1000
        for k in range(0, n, ch)
    ]


def _area_downscale_int(
    gray: "list[int]", w: int, h: int, gw: int, gh: int
) -> "list[int]":
    """Exact integer area-average downscale to a gw x gh grid: cell (r, c)
    covers rows [r*h//gh, (r+1)*h//gh) x cols [c*w//gw, (c+1)*w//gw) and
    takes sum // count (non-negative, so floor == truncate — one integer
    per cell, replayable symbolically). When w/h are exact multiples the
    cells are the s x s blocks, so integer-upscaled duplicates produce
    bit-identical grids."""
    out = []
    for r in range(gh):
        y0, y1 = r * h // gh, (r + 1) * h // gh
        for c in range(gw):
            x0, x1 = c * w // gw, (c + 1) * w // gw
            n = (y1 - y0) * (x1 - x0)
            s = 0
            for y in range(y0, y1):
                base = y * w
                for x in range(x0, x1):
                    s += gray[base + x]
            out.append(s // n if n else 0)
    return out


def dhash64(px: bytes, w: int, h: int, ch: int) -> int:
    """64-bit difference hash of one decoded image: integer luma ->
    exact 9x8 area-average grid -> bit k (k = r*8 + c, r in 0..7,
    c in 0..7) set iff cell[r][c] > cell[r][c+1]. Pure integer end to
    end, so re-encoded (PNG vs BMP) and integer-upscaled duplicates
    hash bit-identically. Returned as a SIGNED 64-bit value (bit 63
    wraps), the storable Spark bigint."""
    grid = _area_downscale_int(_gray_int(px, w, h, ch), w, h, 9, 8)
    hv = 0
    for r in range(8):
        base = r * 9
        for c in range(8):
            if grid[base + c] > grid[base + c + 1]:
                hv |= 1 << (r * 8 + c)
    return _signed64(hv)


def _signed64(v: int) -> int:
    """An unsigned 64-bit word as the signed value a Spark bigint stores
    (bit 63 wraps)."""
    return v - (1 << 64) if v >= 1 << 63 else v


def phash64(px: bytes, w: int, h: int, ch: int, size: int = 32) -> int:
    """64-bit perceptual (DCT) hash: float luma -> area-average to
    size x size -> orthonormal 2-D DCT-II -> the top-left 8x8
    low-frequency block -> bit k set iff coeff_k > the MEAN of the
    block excluding the DC term (the classic pHash convention —
    Krawetz, "Looks Like It": a median split puts the threshold ON a
    coefficient value, so ties flip under tiny noise; the DC-excluded
    mean sits between the +/- coefficient populations). Float path
    (numpy matrix DCT), so near-identical images land within a small
    Hamming ball — the NEAR tier; the exact tier is :func:`dhash64`.
    Signed 64-bit like dhash64."""
    return _signed64(_phash_bits(px, w, h, ch, 8, size))


def _phash_bits(
    px: bytes, w: int, h: int, ch: int, cols: int, size: int
) -> int:
    """The pipeline of :func:`phash64` thresholding the top-left
    8 x ``cols`` DCT block (bit k row-major over it): cols=8 for
    phash64, 16 for :func:`phash128`. Returns the unsigned value."""
    gray = np.asarray(
        _gray_int(px, w, h, ch), dtype=np.float64
    ).reshape(h, w)
    # float area-average to size x size (integer cell boundaries);
    # exact-multiple dims (incl. identity) take the vectorized reshape
    if h % size == 0 and w % size == 0:
        cells = gray.reshape(
            size, h // size, size, w // size
        ).mean(axis=(1, 3))
    else:
        cells = np.zeros((size, size), dtype=np.float64)
        for r in range(size):
            y0 = r * h // size
            y1 = max(y0 + 1, (r + 1) * h // size)
            for c in range(size):
                x0 = c * w // size
                x1 = max(x0 + 1, (c + 1) * w // size)
                cells[r, c] = gray[y0:y1, x0:x1].mean()
    n = size
    k = np.arange(n)
    basis = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    basis *= np.sqrt(2.0 / n)
    basis[0, :] = np.sqrt(1.0 / n)
    coeffs = basis @ cells @ basis.T
    block = coeffs[:8, :cols].ravel()
    avg = float((block.sum() - block[0]) / (block.size - 1))  # mean excluding DC
    hv = 0
    for i, v in enumerate(block):
        if v > avg:
            hv |= 1 << i
    return hv


IMAGE_HASH_SCHEMA = "doc_id long, width long, height long, dhash long"
IMAGE_PHASH_SCHEMA = "doc_id long, width long, height long, phash long"


def dhash_images(
    df: DataFrame, id_col: str = "doc_id", payload: str = "payload"
) -> DataFrame:
    """Per-document 64-bit dHash over the magic-byte-dispatched pixel
    decode (:func:`_decode_any_image`): (id, width, height, dhash), with
    undecodable / non-image payloads null-propagating (corpus-scan
    posture). Arrow-batched mapInPandas, per-doc data-parallel — zero
    shuffle; only (doc_id, 8-byte hash) rows leave the scan, so the
    downstream dedup join shuffles signatures, never pixels."""
    return _image_hashes(
        df, lambda *m: (dhash64(*m),), IMAGE_HASH_SCHEMA, id_col, payload
    )


def _image_hashes(df, hash_fn, schema, id_col, payload) -> DataFrame:
    """(id, width, height, *hash_fn(px, w, h, ch)) per document over the
    corpus-scan pixel decode; undecodable payloads null-propagate."""

    def hashes(b):
        m = _decode_any_image(b)
        if m is None:
            return None
        w, h, ch, px = m
        return (w, h, *hash_fn(px, w, h, ch))

    return _map_payloads(df, hashes, schema, id_col, payload)


def phash_images(
    df: DataFrame, id_col: str = "doc_id", payload: str = "payload"
) -> DataFrame:
    """Per-document 64-bit pHash (DCT) — the NEAR-duplicate signature;
    same corpus-scan posture and scale shape as :func:`dhash_images`."""
    return _image_hashes(
        df, lambda *m: (phash64(*m),), IMAGE_PHASH_SCHEMA, id_col, payload
    )


# ---------------------------------------------------------------------------
# Perceptual AUDIO fingerprint (round 10, verdict r9 item 3): the audio
# analogue of the image dHash tier — an energy-delta sign fingerprint
# over the decoded-PCM path, composed with the generic Hamming banding
# of operators/dedup.py for audio-level near-dup. The sign-of-band-
# energy-difference idea is the public Haitsma–Kalker fingerprint
# family ("A Highly Robust Audio Fingerprinting System", ISMIR 2002 —
# public knowledge, reimplemented over time-fraction frames).


# Routing threshold for perceptual-hash signature width (round 10,
# verdict r9 item 2 — the dedup_substring_auto pattern applied to the
# image tier). Chance band collisions cost ~ chunks * C(n,2) / 2^width
# candidate pairs: the 64-bit tier at d=4 bands 12 bits (4k buckets),
# measured flat at 5k sigs but 6.7x per 10x data at 50k (SCALING.md
# round 9 — ~12 candidates/bucket and growing ~n^2); the 128-bit tier
# at d=6 bands 18 bits (262k buckets), measured 1.2x per 10x. 2^14
# sits between the measured-good and measured-bad corpus sizes, where
# the 64-bit chance tail is ~10 candidates/sig.
PHASH64_MAX_SIGS = 16_384


def audio_fp_words(
    samples: "list[int]", channels: int = 1, words: int = 2
) -> "list[int] | None":
    """Energy-delta fingerprint of one decoded PCM stream, 64*``words``
    bits: channel 0 of the interleaved samples -> nf = 64*words+1 equal
    TIME-FRACTION frames (frame k covers samples [k*n//nf, (k+1)*n//nf))
    -> integer frame energies E_k = sum(x^2) -> bit k set iff the
    length-normalized energy rises: E_{k+1}*len_k > E_k*len_{k+1}
    (cross-multiplied, pure integer — no float division). Properties
    that make it the dedup signature:

    - amplitude scale c and bit-depth re-encode (16 <-> 24-bit is an
      exact x256) multiply every E_k by c^2 — comparisons are EXACTLY
      invariant, so transcoded duplicates fingerprint bit-identically;
    - frames are time fractions, so linear resampling preserves each
      frame's energy profile — resampled duplicates land within a
      small Hamming ball (measured 0 on piecewise-stationary content);
    - strict > keeps the bits replayable in integer SQL (the DuckDB
      oracle reconstructs them symbolically).

    ``words=1`` is the 64-bit signature (:func:`audio_fp64`);
    ``words=2`` is the longer-signature scale path. Shorter frames do
    not hurt the resample ball on planted piecewise-stationary content:
    measured ball 0 and min inter-group distance 40 over 300 groups at
    words=2 (vs the 64-bit tier's 12-bit-band collision tail at >=50k
    clips — banding 128 bits at d=4 gives 25-bit chunks, 33M buckets).
    Bit k lives in word k // 64 at position k % 64; each word is
    returned SIGNED like dhash64. Streams shorter than nf samples
    (some frame would be empty) return None — too short to carry the
    energy deltas."""
    if channels > 1:
        samples = samples[0::channels]
    n = len(samples)
    nbits = 64 * words
    nf = nbits + 1
    if n < nf:
        return None
    bounds = [k * n // nf for k in range(nf + 1)]
    energies, lens = [], []
    for k in range(nf):
        seg = samples[bounds[k]:bounds[k + 1]]
        energies.append(sum(x * x for x in seg))
        lens.append(len(seg))
    out = []
    for w in range(words):
        hv = 0
        for j in range(64):
            k = w * 64 + j
            if energies[k + 1] * lens[k] > energies[k] * lens[k + 1]:
                hv |= 1 << j
        out.append(_signed64(hv))
    return out


def audio_fp64(samples: "list[int]", channels: int = 1) -> "int | None":
    """The 64-bit energy-delta fingerprint: ``audio_fp_words(samples,
    channels, 1)[0]``, None below 65 samples."""
    fp = audio_fp_words(samples, channels, 1)
    return None if fp is None else fp[0]


AUDIO_FP_SCHEMA = "doc_id long, sample_rate long, n_samples long, afp long"


def fingerprint_audio(
    df: DataFrame, id_col: str = "doc_id", payload: str = "payload"
) -> DataFrame:
    """Per-document audio fingerprint over the full decode-WAV dispatch
    (:func:`decode_wav_pcm` — every PCM/ADPCM/G.711/float flavor):
    (id, sample_rate, n_samples, afp), with undecodable / non-audio /
    too-short payloads null-propagating (corpus-scan posture, same as
    :func:`dhash_images`). Arrow-batched mapInPandas, per-doc
    data-parallel — zero shuffle; only (doc_id, 8-byte fingerprint)
    rows leave the scan, so the downstream dedup join shuffles
    signatures, never audio."""
    return _map_payloads(df, _audio_fingerprint(1), AUDIO_FP_SCHEMA, id_col, payload)


def _audio_fingerprint(words: int):
    """Per-payload (sample_rate, n_samples, *fingerprint words) for the
    fingerprint scans: undecodable payloads give a null row, and a
    decodable-but-too-short one keeps sample_rate/n_samples and nulls
    only the words — the twin scanners feeding the routed pipeline
    agree on output semantics."""

    def fingerprint(b):
        try:
            m = decode_wav_pcm(b)
        except _decode_errors():
            return None
        if m is None:
            return None
        rate, ch, samples = m
        fp = audio_fp_words(samples, ch, words)
        return (rate, len(samples) // max(1, ch), *(fp or [None] * words))

    return fingerprint


def fingerprint_audio_multi(
    df: DataFrame,
    id_col: str = "doc_id",
    payload: str = "payload",
    words: int = 2,
) -> DataFrame:
    """Per-document multi-word audio fingerprint — feed to
    dedup.hamming_pairs(sig_col=["afp0", ...]). Same corpus-scan
    posture and shape as :func:`fingerprint_audio`, with the
    :func:`audio_fp_words` longer-signature scale semantics."""

    schema = "doc_id long, sample_rate long, n_samples long, " + ", ".join(
        f"afp{w} long" for w in range(words)
    )
    return _map_payloads(df, _audio_fingerprint(words), schema, id_col, payload)


def audio_pairs_auto(
    df: DataFrame,
    id_col: str = "doc_id",
    payload: str = "payload",
    max_hamming64: int = 4,
    max_hamming128: int = 4,
    max_sigs_64: int = PHASH64_MAX_SIGS,
    n_hint: "int | None" = None,
) -> DataFrame:
    """Width-routed audio near-dup: the
    :func:`phash_pairs_auto` pattern for the audio fingerprint — the
    64-bit tier's 12-bit bands measured a ~14x-per-10x candidate tail
    at 50k clips (SCALING.md round 10), so past ``max_sigs_64`` clips
    the router fingerprints 128 bits (d=4 -> 25-bit chunks, 33M
    buckets; measured resample ball 0 keeps the same threshold).
    Probe is one column-pruned count (``n_hint`` for builder frames —
    see phash_pairs_auto). Returns (a_id, b_id, hamming, sig_bits)."""
    return _width_routed_pairs(
        df, id_col, payload, n_hint, max_sigs_64,
        (fingerprint_audio, "afp", max_hamming64),
        (fingerprint_audio_multi, ["afp0", "afp1"], max_hamming128),
    )


def _width_routed_pairs(
    df: DataFrame,
    id_col: str,
    payload: str,
    n_hint: "int | None",
    max_sigs_64: int,
    narrow: tuple,
    wide: tuple,
    within: "list[str] | None" = None,
) -> DataFrame:
    """The one signature-width router behind :func:`phash_pairs_auto`,
    :func:`video_pairs_auto` and :func:`audio_pairs_auto`: count the ids
    (or take ``n_hint``), then sign and band with ``narrow`` — a
    (signer, sig_col, max_hamming) triple for the 64-bit tier — up to
    ``max_sigs_64`` signatures, and with the 128-bit ``wide`` triple past
    it. Adds ``sig_bits`` naming the route taken."""
    from corintick_spark.operators.dedup import hamming_pairs

    n = int(n_hint) if n_hint is not None else df.select(id_col).count()
    (signer, sig_col, max_hamming), bits = (
        (narrow, 64) if n <= int(max_sigs_64) else (wide, 128)
    )
    pairs = hamming_pairs(
        signer(df, id_col, payload), id_col=id_col, sig_col=sig_col,
        max_hamming=max_hamming, within=within,
    )
    return pairs.withColumn("sig_bits", F.lit(bits))


def encode_wav_pcm(
    rate: int, channels: int, samples: "list[int]", bits: int = 16
) -> bytes:
    """Minimal integer-PCM WAV encoder (synthesis/test helper — the
    inverse of :func:`decode_wav_pcm` for the 16/24-bit and float32
    subsets). ``samples`` are interleaved signed values at the target
    bit depth; ``bits=32`` writes IEEE float32 frames of samples/32768
    (the standard int16 -> float convention the decoder inverts)."""
    import struct

    if bits == 16:
        data = struct.pack(f"<{len(samples)}h", *samples)
        tag, ba = 1, 2 * channels
    elif bits == 24:
        data = b"".join(
            (v & 0xFFFFFF).to_bytes(3, "little") for v in samples
        )
        tag, ba = 1, 3 * channels
    elif bits == 32:
        data = struct.pack(
            f"<{len(samples)}f", *[v / 32768.0 for v in samples]
        )
        tag, ba = 3, 4 * channels
    else:
        raise ValueError(f"unsupported synth depth {bits}")
    fmt = struct.pack(
        "<HHIIHH", tag, channels, rate, rate * ba, ba, bits
    )
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) % 2 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def phash_pairs_auto(
    df: DataFrame,
    id_col: str = "doc_id",
    payload: str = "payload",
    max_hamming64: int = 4,
    max_hamming128: int = 6,
    max_sigs_64: int = PHASH64_MAX_SIGS,
    n_hint: "int | None" = None,
) -> DataFrame:
    """The DEFAULT perceptual near-dup path: route signature WIDTH by
    measured corpus size — 64-bit pHash (cheaper decode + half the
    signature bytes) while the corpus is small enough that its 12-bit
    bands stay collision-free, 128-bit (18-bit bands) above
    ``max_sigs_64``, where chance band collisions would otherwise go
    quadratic (the SCALING.md round-9 rule: longer signatures, not
    looser balls). Same shape as ``dedup_substring_auto``
    (operators/dedup.py): the probe is ONE column-pruned count over the
    id projection — no payload bytes read, paid before any decode, so
    at 100 TB the router picks the wide path without ever computing a
    too-narrow signature. When ``df`` is not a stored table (e.g. a
    payload-building mapInPandas frame, where counting would execute
    the builder), pass ``n_hint`` — the row count of the SOURCE table,
    which a parquet scan answers from metadata (round-10 measurement:
    the probe-through-builder doubled the sf10 synthesis cost).
    Returns (a_id, b_id, hamming, sig_bits) — ``sig_bits`` names the
    route taken so downstream thresholds can interpret the Hamming
    scale."""
    return _width_routed_pairs(
        df, id_col, payload, n_hint, max_sigs_64,
        (phash_images, "phash", max_hamming64),
        (phash128_images, ["phash0", "phash1"], max_hamming128),
    )


def video_pairs_auto(
    df: DataFrame,
    id_col: str = "doc_id",
    payload: str = "payload",
    max_hamming64: int = 4,
    max_hamming128: int = 6,
    max_sigs_64: int = PHASH64_MAX_SIGS,
    n_hint: "int | None" = None,
) -> DataFrame:
    """Width-routed per-frame video near-dup: the
    :func:`phash_pairs_auto` pattern applied to the video tier. The
    collision regime is per FRAME SLOT — n_clips signatures band
    within each frame_idx — so the probe counts CLIPS (one
    column-pruned count, no payload bytes read; pass ``n_hint`` when
    ``df`` is a builder frame rather than a stored table — see
    phash_pairs_auto) and routes 64-bit frames below ``max_sigs_64``,
    128-bit (18-bit bands) above, where the measured 64-bit tail is
    ~21x per 10x data operator-only (SCALING.md round 10). Returns
    per-frame pairs (a_id, b_id, frame_idx, hamming, sig_bits) —
    callers aggregate to clip-level votes exactly as with the
    fixed-width scans."""
    return _width_routed_pairs(
        df, id_col, payload, n_hint, max_sigs_64,
        (phash_video_frames, "phash", max_hamming64),
        (phash128_video_frames, ["phash0", "phash1"], max_hamming128),
        within=["frame_idx"],
    )


IMAGE_SCAN_SCHEMA = (
    "doc_id long, status string, width long, height long, px_sum long"
)


def scan_images(
    df: DataFrame, id_col: str = "doc_id", payload: str = "payload"
) -> DataFrame:
    """Corpus-scan image decode with per-row error classification:
    (id, status, width, height, px_sum) where non-'ok' rows carry null
    stats. The realistic 100 TB ingest-audit shape — one pass tells you
    how much of the corpus decodes, how much is corrupt, and how much
    hits codec stubs, without a single task failure. Arrow-batched
    mapInPandas; zero shuffle."""

    def scan(b):
        m, status = _classify_image_payload(b)
        if m is None:
            return status, None, None, None
        w, h, _ch, px = m
        return status, w, h, sum(px)

    return _map_payloads(df, scan, IMAGE_SCAN_SCHEMA, id_col, payload)


VIDEO_HASH_SCHEMA = "doc_id long, frame_idx long, phash long"


def phash_video_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload: str = "payload",
    sample_every: int = 1,
) -> DataFrame:
    """Per-FRAME perceptual hashes over animated sequences:
    decode the multi-frame container (:func:`decode_gif_frames` — the
    in-container stand-in for video; a real deployment swaps the frame
    iterator for a video demuxer, the Spark shape is identical) and emit
    (id, frame_idx, phash64) for every ``sample_every``-th composited
    frame. The video-dedup signature a training pipeline banks: joined
    within frame_idx by dedup.hamming_pairs, two clips near-dup when
    enough ALIGNED frames match. Undecodable payloads contribute no
    rows; Arrow-batched mapInPandas, zero shuffle — only (id, idx,
    8-byte hash) rows leave the scan."""
    return _map_payloads(
        df, _frame_hashes(lambda *f: (phash64(*f),), sample_every),
        VIDEO_HASH_SCHEMA, id_col, payload,
    )


def _frame_hashes(hash_fn, sample_every: int):
    """Per-payload [(frame_idx, *hash_fn(frame, w, h, ch)), ...] over
    every ``sample_every``-th composited GIF frame. Corpus-scan
    posture: magic bytes passing but a corrupt body (or a codec stub)
    skips the document instead of aborting the whole video-hash scan
    task."""
    step = max(1, int(sample_every))

    def hashes(b):
        try:
            g = decode_gif_frames(b)
        except _decode_errors():
            return []
        if g is None:
            return []
        w, h, ch, frames = g
        return [
            (fi, *hash_fn(frames[fi], w, h, ch))
            for fi in range(0, len(frames), step)
        ]

    return hashes


VIDEO_HASH128_SCHEMA = "doc_id long, frame_idx long, phash0 long, phash1 long"


def phash128_video_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload: str = "payload",
    sample_every: int = 1,
) -> DataFrame:
    """Per-frame 128-bit pHash over animated sequences: the
    longer-signature scale path for VIDEO, closing the same chance-
    band-collision tail the image tier closed in round 9 — the 64-bit
    per-frame tier measured 21x per 10x data operator-only at sf10
    (SCALING.md round 10: linear decode x10 plus a superlinear
    candidate tail from 12-bit bands over 50k signatures per frame
    slot); 128-bit signatures band into 18-bit chunks at d=6 (262k
    buckets per frame slot). Same corpus-scan posture and (id,
    frame_idx, two 8-byte words) exchange shape as
    :func:`phash_video_frames`."""
    return _map_payloads(
        df, _frame_hashes(phash128, sample_every),
        VIDEO_HASH128_SCHEMA, id_col, payload,
    )


def phash128(
    px: bytes, w: int, h: int, ch: int, size: int = 32
) -> "tuple[int, int]":
    """128-bit perceptual hash: same pipeline as :func:`phash64` but
    thresholding the top-left 8x16 low-frequency DCT block (mean
    excluding DC) — the LONGER-signature scale path. Banding 128 bits
    at d=4 gives 25-bit bands (33M buckets) where 64 bits give 12
    (4k), which is the difference between linear and quadratic
    candidates once the corpus passes ~10^6 images (SCALING.md round
    9). Returns (lo, hi) signed 64-bit words; bit k of the hash lives
    in word k // 64 at position k % 64, k = r*16 + c over the block."""
    hv = _phash_bits(px, w, h, ch, 16, size)
    return _signed64(hv & (2**64 - 1)), _signed64(hv >> 64)


IMAGE_PHASH128_SCHEMA = (
    "doc_id long, width long, height long, phash0 long, phash1 long"
)


def phash128_images(
    df: DataFrame, id_col: str = "doc_id", payload: str = "payload"
) -> DataFrame:
    """Per-document 128-bit pHash as two bigint columns — feed to
    dedup.hamming_pairs(sig_col=["phash0", "phash1"]). Same corpus-scan
    posture and scale shape as :func:`phash_images`."""
    return _image_hashes(df, phash128, IMAGE_PHASH128_SCHEMA, id_col, payload)


def _classify_audio_payload(
    b: "bytes | None",
) -> "tuple[tuple[int, int, list] | None, str]":
    """Audio twin of :func:`_classify_image_payload`: returns
    (decoded-or-None, status) with status 'ok' / 'not_audio' (no RIFF
    magic) / 'stub' (valid WAV container hitting a documented codec
    stub — MP3-in-WAV, >2-channel ADPCM) / 'corrupt' (RIFF magic but a
    malformed/truncated body)."""
    try:
        m = decode_wav_pcm(b)
        return (m, "ok") if m is not None else (None, "not_audio")
    except NotImplementedError:
        return None, "stub"
    except _decode_errors():
        return None, "corrupt"


AUDIO_SCAN_SCHEMA = (
    "doc_id long, status string, n_samples long, sample_sum long"
)


def scan_audio(
    df: DataFrame, id_col: str = "doc_id", payload: str = "payload"
) -> DataFrame:
    """Corpus-scan audio decode with per-row error classification:
    (id, status, n_samples, sample_sum), non-'ok' rows null-stats — the
    ingest-audit pass for an audio corpus (how much decodes, how much
    is corrupt, how much hits named codec stubs), one map-only pass,
    no task failures. Arrow-batched mapInPandas; zero shuffle."""

    def scan(b):
        m, status = _classify_audio_payload(b)
        if m is None:
            return status, None, None
        _rate, _ch, samples = m
        return status, len(samples), int(sum(samples))

    return _map_payloads(df, scan, AUDIO_SCAN_SCHEMA, id_col, payload)
