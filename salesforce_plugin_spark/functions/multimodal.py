"""Multimodal column plumbing (SURVEY §2 F4): image/audio/video payloads as
opaque ``binary`` columns with typed metadata, processed through
Arrow-batched ``mapInPandas`` pipelines.

The container ships no media libraries; the formats whose mechanics are
pure public spec decode for real anyway: 24-bit BI_RGB BMP and 16-bit PCM
WAV (round 9, pure struct+numpy), PNG (round 10, widened round 11 to
16-bit depth, sub-byte depths 1/2/4, Adam7 interlace, and gray/RGB tRNS
alpha expansion — stdlib ``zlib`` inflates IDAT, numpy unfilters the
scanlines), and BASELINE sequential JPEG (round 11 — T.81 marker walk,
stream-carried canonical Huffman tables, numpy dequant + orthonormal
IDCT, BT.601 YCbCr; exact on the constant-block/flat-quant tier, lossy
elsewhere as JPEG inherently is). All four have encoders for
deterministic fixtures, are the default seam path sniffed by magic bytes,
and the real-decode operators (:func:`image_pixel_histogram`,
:func:`wav_channel_stats`, :func:`image_ahash_pairs`) drive them
end-to-end under the oracle gate. Still injected-seam-only: progressive/
subsampled JPEG, MP3 (``decode_audio`` raises ``NotImplementedError``
unless a decoder callable is injected).
Everything around the seam — schema contract, Arrow batch shape, UDF
signature, partition behavior — is tested either way
(tests/test_io_multimodal.py; the BMP/WAV, PNG and JPEG decoders in
tests/test_round9_fixes.py, tests/test_round10_fixes.py and
tests/test_round11_fixes.py).

Scale notes: ``mapInPandas`` streams Arrow record batches through one Python
worker per core with no shuffle; payload bytes never visit the driver. For
100 TB of media, pair this with ``spark.sql.files.maxPartitionBytes`` tuned
so one task's batch of payloads fits executor memory, and keep metadata-only
predicates (mime/size filters) *outside* the pandas stage so they push into
the parquet scan.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator
from itertools import chain

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

#: Typed metadata carried alongside every opaque payload column.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("payload_md5", T.StringType()),
    ]
)


# --- real decoders (rounds 9-11): no media libs needed ---------------
#
# "No media libraries in the container" never excused formats whose
# mechanics are public spec: 24-bit BI_RGB BMP and 16-bit PCM WAV
# (round 9, struct + numpy), PNG (round 10-11, stdlib zlib + numpy),
# baseline JPEG (round 11, stream-carried Huffman + numpy IDCT).
# These are the DEFAULT decoders behind decode_image / decode_audio
# (sniffed by magic bytes); the remaining formats (progressive JPEG,
# MP3, ...) still require the injected-decoder seam.


def decode_bmp(payload: bytes) -> np.ndarray:
    """Decode a 24-bit uncompressed (BI_RGB) BMP into an (H, W, 3)
    uint8 RGB array — pure struct+numpy (BITMAPFILEHEADER +
    BITMAPINFOHEADER, BGR pixel order, 4-byte row padding, bottom-up
    rows for positive height / top-down for negative). Raises
    ValueError on anything the format subset doesn't cover."""
    import struct

    if len(payload) < 54:
        raise ValueError(f"BMP too short: {len(payload)} bytes")
    if payload[:2] != b"BM":
        raise ValueError("not a BMP: missing 'BM' magic")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    width, height = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(
            f"only 24-bit BI_RGB BMP decodes natively (got planes={planes} "
            f"bpp={bpp} compression={compression}); inject a decoder"
        )
    if width <= 0 or height == 0:
        raise ValueError(f"bad BMP dimensions {width}x{height}")
    bottom_up = height > 0
    h = abs(height)
    stride = (width * 3 + 3) & ~3  # rows pad to 4-byte multiples
    need = data_off + stride * h
    if len(payload) < need:
        raise ValueError(
            f"truncated BMP: need {need} bytes, have {len(payload)}"
        )
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : width * 3]
    bgr = rows.reshape(h, width, 3)
    if bottom_up:
        bgr = bgr[::-1]
    return bgr[:, :, ::-1].copy()  # BGR -> RGB


def encode_bmp(pixels) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as a 24-bit BI_RGB BMP
    (bottom-up, padded rows) — the deterministic fixture generator for
    the real-decode conformance path; ``decode_bmp(encode_bmp(x)) == x``
    exactly."""
    import struct

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.shape[0] < 1 or arr.shape[1] < 1:
        raise ValueError(f"encode_bmp expects (H, W, 3) uint8, got {arr.shape}")
    h, w = arr.shape[:2]
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # RGB->BGR, flip
    file_size = 54 + stride * h
    return (
        b"BM"
        + struct.pack("<IHHI", file_size, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0)
        + body.tobytes()
    )


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode a 16-bit PCM RIFF/WAVE payload into ``(sample_rate,
    samples)`` with samples shaped (n_frames, n_channels) int16 —
    pure struct+numpy chunk walk (handles extra chunks in any order).
    Raises ValueError outside the PCM-16 subset."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV: missing RIFF/WAVE magic")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if pos + 8 + size > len(payload):
            # a silently-clamped chunk would yield confidently wrong
            # statistics from a partial sample set — fail like the
            # BMP decoder does
            raise ValueError(
                f"truncated WAV: chunk {cid!r} declares {size} bytes, "
                f"payload ends {pos + 8 + size - len(payload)} short"
            )
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if len(fmt) < 16:
        raise ValueError(f"truncated WAV fmt chunk: {len(fmt)} bytes < 16")
    audio_fmt, n_ch, rate = struct.unpack_from("<HHI", fmt, 0)
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if audio_fmt != 1 or bits != 16:
        raise ValueError(
            f"only 16-bit PCM WAV decodes natively (got format={audio_fmt} "
            f"bits={bits}); inject a decoder"
        )
    if n_ch < 1:
        raise ValueError(f"bad WAV channel count {n_ch}")
    frame_bytes = 2 * n_ch
    n_frames = len(data) // frame_bytes
    samples = np.frombuffer(
        data, dtype="<i2", count=n_frames * n_ch
    ).reshape(n_frames, n_ch)
    return rate, samples.astype(np.int16)


def encode_wav(sample_rate: int, samples) -> bytes:
    """Encode (n_frames, n_channels) int16 samples as 16-bit PCM
    RIFF/WAVE — the fixture generator; ``decode_wav(encode_wav(r, x))
    == (r, x)`` exactly."""
    import struct

    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr.reshape(-1, 1)
    if arr.ndim != 2 or arr.shape[1] < 1:
        raise ValueError(f"encode_wav expects (n, ch) int16, got {arr.shape}")
    n_ch = arr.shape[1]
    data = arr.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, n_ch, sample_rate, sample_rate * 2 * n_ch, 2 * n_ch, 16
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+A, RGBA


_ADAM7 = (  # (x0, y0, dx, dy) per pass — RFC 2083 §2.6 interlace grids
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _adam7_scanlines(h: int, w: int) -> int:
    """Scanlines in the Adam7 stream of an ``h``×``w`` image: the rows of
    its non-empty passes (the length :func:`encode_png` wants for
    ``row_filters`` when ``interlace`` is set)."""
    return sum(
        (h - y0 + dy - 1) // dy
        for x0, y0, dx, dy in _ADAM7
        if (w - x0 + dx - 1) // dx > 0 and (h - y0 + dy - 1) // dy > 0
    )


def _png_unfilter(raw, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the five PNG scanline filters over ``h`` scanlines of
    ``stride`` filtered bytes each (``raw`` must be exactly
    ``h * (1 + stride)`` bytes; ``bpp`` is the filter's byte offset —
    bytes per pixel, RFC 2083 §6). None/Up unfilter vectorized
    whole-row; Sub is a per-lane cumulative sum (cumsum mod 256,
    vectorized); Average/Paeth carry an intra-row serial dependency
    and walk bytes. Returns an (h, stride) uint8 array."""
    sl = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    ftypes, rows = sl[:, 0], sl[:, 1:].astype(np.int32)
    lanes = stride // bpp
    out = np.empty((h, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f, cur = int(ftypes[y]), rows[y]
        if f == 0:  # None
            line = cur
        elif f == 1:  # Sub: per-lane cumulative sum (mod distributes)
            line = (
                np.cumsum(cur.reshape(lanes, bpp), axis=0, dtype=np.int64)
                .reshape(stride) & 0xFF
            ).astype(np.int32)
        elif f == 2:  # Up
            line = (cur + prev) & 0xFF
        elif f == 3:  # Average (serial in x through the left term)
            line = cur.copy()
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth (serial in x through the left term)
            line = cur.copy()
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f} on row {y}")
        out[y] = line
        prev = line
    return out.astype(np.uint8)


def _png_unpack_rows(rows: np.ndarray, w: int, depth: int) -> np.ndarray:
    """(h, stride) unfiltered PACKED scanline bytes → (h, w) uint8
    samples for sub-byte depths 1/2/4: bits are big-endian within each
    byte, ``depth`` bits per sample, trailing pad bits discarded
    (RFC 2083 §2.3 — packing never crosses a byte boundary at these
    depths, so a straight bit-slice regroup is exact)."""
    bits = np.unpackbits(rows.astype(np.uint8), axis=1)[:, : w * depth]
    grouped = bits.reshape(rows.shape[0], w, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (grouped * weights).sum(axis=2, dtype=np.uint16).astype(np.uint8)


def _png_pack_rows(samples: np.ndarray, depth: int) -> np.ndarray:
    """(h, w) uint8 samples (< 2^depth) → (h, ceil(w*depth/8)) packed
    scanline bytes, big-endian bit order, zero pad bits — the inverse
    of :func:`_png_unpack_rows`."""
    h, w = samples.shape
    bits = (
        (samples[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1
    ).astype(np.uint8).reshape(h, w * depth)
    return np.packbits(bits, axis=1)


def decode_png(payload: bytes) -> np.ndarray:
    """Decode an 8- or 16-bit, sequential or Adam7-interlaced PNG into
    an (H, W, C) array — uint8 for depth 8, uint16 for depth 16 (C per
    color type: 1 gray / 2 gray+alpha / 3 RGB / 4 RGBA; palette color
    type 3, 8-bit only, maps through PLTE to RGB, or RGBA when a tRNS
    chunk is present). A tRNS chunk on a grayscale/RGB image (color
    types 0/2) expands to an explicit alpha channel: pixels equal to
    the chunk's transparent color get alpha 0, everything else the
    depth's max (round 11 — previously silently dropped, ADVICE r10
    low). Pure stdlib ``zlib`` + numpy, no media libs: PNG is a chunk
    stream (length/type/data/CRC), IDAT is zlib-deflated scanlines,
    each scanline one filter byte + filtered BYTES
    (None/Sub/Up/Average/Paeth operate on bytes with a
    bytes-per-pixel offset, so depth 16 runs the SAME unfilters over
    big-endian u16 lanes — RFC 2083 §6). Adam7 (round 11): the
    deflated stream is seven consecutive sub-images on fixed grids
    (§2.6), each unfiltered independently and scattered into place.
    Sub-byte depths 1/2/4 (round 11, legal for grayscale and palette
    only, §2.3): samples are packed big-endian within scanline bytes,
    the filters still operate on the PACKED bytes with offset 1, and
    the decoder returns RAW samples in [0, 2^depth-1] — no rescale,
    matching the raw-u16 contract of the 16-bit path (palette indices
    map through PLTE as at depth 8). Raises ValueError on anything
    outside the subset (16-bit palette, sub-byte non-gray/palette,
    tRNS on an already-alpha color type, out-of-range palette indices,
    truncated chunks) — a silently-wrong decode is worse than no
    decode. Round 10, widened round 11; the JPEG seam stays
    injected-only."""
    import struct
    import zlib

    if len(payload) < 8 or bytes(payload[:8]) != _PNG_SIG:
        raise ValueError("not a PNG: missing signature")
    pos, ihdr, idat, ended = 8, None, [], False
    plte, trns = None, None
    while pos + 8 <= len(payload):
        length, ctype = struct.unpack_from(">I4s", payload, pos)
        if pos + 12 + length > len(payload):
            raise ValueError(
                f"truncated PNG: chunk {ctype!r} declares {length} bytes, "
                f"payload ends {pos + 12 + length - len(payload)} short"
            )
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"tRNS":
            trns = data
        elif ctype == b"IEND":
            ended = True
            break
        pos += 12 + length
    if not ended:  # a stream cut anywhere past the last whole chunk
        raise ValueError("truncated PNG: missing IEND chunk")
    if ihdr is None or len(ihdr) < 13:
        raise ValueError("PNG missing/short IHDR chunk")
    if not idat:
        raise ValueError("PNG missing IDAT chunk")
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13]
    )
    # palette images (color type 3, round 10): one index byte per pixel
    # unfilters like grayscale, then maps through PLTE (RGB) or
    # PLTE+tRNS (RGBA) at the end
    channels = 1 if color == 3 else _PNG_CHANNELS.get(color)
    if (
        depth not in (1, 2, 4, 8, 16)
        or (depth == 16 and color == 3)
        or (depth < 8 and color not in (0, 3))
        or channels is None
        or comp != 0
        or filt != 0
        or interlace not in (0, 1)
    ):
        raise ValueError(
            f"only 8/16-bit gray/RGB/alpha, 8-bit palette, and "
            f"1/2/4-bit gray/palette PNG decodes natively (got "
            f"depth={depth} color_type={color} "
            f"interlace={interlace}); inject a decoder"
        )
    if color == 3:
        if plte is None or len(plte) == 0 or len(plte) % 3:
            raise ValueError("palette PNG missing/malformed PLTE chunk")
    if trns is not None and color in (4, 6):
        raise ValueError(
            f"invalid PNG: tRNS chunk with color type {color} (the "
            "alpha color types may not carry one, RFC 2083 §4.2.1)"
        )
    if w < 1 or h < 1:
        raise ValueError(f"bad PNG dimensions {w}x{h}")
    try:
        raw = zlib.decompress(b"".join(bytes(c) for c in idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from None
    # filter offset (bytes per pixel, min 1 — sub-byte pixels filter on
    # the PACKED bytes with offset 1, RFC 2083 §6)
    bpp = max(1, (channels * depth) // 8)
    if interlace == 0:
        stride = (w * channels * depth + 7) // 8
        if len(raw) != h * (1 + stride):
            raise ValueError(
                f"PNG scanline size mismatch: {len(raw)} bytes for "
                f"{h}x(1+{stride})"
            )
        rows = _png_unfilter(raw, h, stride, bpp)
        if depth < 8:
            img = _png_unpack_rows(rows, w, depth)[:, :, None]
        else:
            img = rows.reshape(h, w, bpp)
    else:  # Adam7: seven consecutive sub-images, fixed grids
        # byte plane for depth>=8; sample plane (bpp==1) for sub-byte
        img = np.zeros((h, w, bpp), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            stride_p = (wp * channels * depth + 7) // 8
            need = hp * (1 + stride_p)
            if pos + need > len(raw):
                raise ValueError(
                    f"PNG Adam7 pass size mismatch: pass at grid "
                    f"({x0},{y0},{dx},{dy}) needs {need} bytes, "
                    f"{len(raw) - pos} remain"
                )
            sub = _png_unfilter(raw[pos : pos + need], hp, stride_p, bpp)
            if depth < 8:
                img[y0::dy, x0::dx, 0] = _png_unpack_rows(sub, wp, depth)
            else:
                img[y0::dy, x0::dx, :] = sub.reshape(hp, wp, bpp)
            pos += need
        if pos != len(raw):
            raise ValueError(
                f"PNG Adam7 stream size mismatch: {len(raw) - pos} "
                "trailing bytes after the seventh pass"
            )
    if depth <= 8:
        px = img  # (h, w, channels) uint8 — raw samples at sub-byte
    else:  # big-endian u16 lanes through the same byte filters
        px = (
            (img[:, :, 0::2].astype(np.uint16) << 8)
            | img[:, :, 1::2].astype(np.uint16)
        )  # (h, w, channels) uint16
    if color == 3:
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = px[:, :, 0]
        if idx.max(initial=0) >= len(pal):
            raise ValueError(
                f"palette PNG index {int(idx.max())} out of range "
                f"(PLTE has {len(pal)} entries)"
            )
        rgb = pal[idx]  # (H, W, 3)
        if trns is None:
            return rgb.copy()
        alpha = np.full(len(pal), 255, dtype=np.uint8)
        t = np.frombuffer(trns, dtype=np.uint8)
        alpha[: len(t)] = t
        return np.dstack([rgb, alpha[idx]])
    if trns is not None and color in (0, 2):
        # transparent-color semantics (§4.2.1): tRNS holds one 2-byte
        # sample per channel; only the low `depth` bits are
        # significant. Expand to an explicit alpha channel.
        if len(trns) != 2 * channels:
            raise ValueError(
                f"malformed tRNS chunk: {len(trns)} bytes for color "
                f"type {color} (expected {2 * channels})"
            )
        mask = (1 << depth) - 1
        vals = [
            int.from_bytes(trns[2 * i : 2 * i + 2], "big") & mask
            for i in range(channels)
        ]
        tmatch = np.ones(px.shape[:2], dtype=bool)
        for i, v in enumerate(vals):
            tmatch &= px[:, :, i] == v
        amax = np.array(mask, dtype=px.dtype)
        alpha = np.where(tmatch, px.dtype.type(0), amax)
        return np.concatenate([px, alpha[:, :, None]], axis=2)
    return px


def _png_filter_rows(flat: np.ndarray, bpp: int, row_filters) -> list[bytes]:
    """Forward-filter scanlines: ``flat`` is (h, stride) int32 BYTES,
    ``bpp`` the byte offset. Forward Sub/Average/Paeth are vectorized
    (the predictors read ORIGINAL neighbors, no serial dependency).
    Returns the filter-byte-prefixed scanlines."""
    h, stride = flat.shape
    lines, prev = [], np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f, cur = int(row_filters[y]), flat[y]
        left = np.zeros_like(cur)
        left[bpp:] = cur[:-bpp]
        if f == 0:
            enc = cur
        elif f == 1:
            enc = (cur - left) & 0xFF
        elif f == 2:
            enc = (cur - prev) & 0xFF
        elif f == 3:
            enc = (cur - ((left + prev) >> 1)) & 0xFF
        elif f == 4:
            upleft = np.zeros_like(prev)
            upleft[bpp:] = prev[:-bpp]
            p = left + prev - upleft
            pa, pb, pc = (
                np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            )
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = (cur - pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        lines.append(bytes([f]) + enc.astype(np.uint8).tobytes())
        prev = cur
    return lines


def encode_png(
    pixels,
    row_filters=None,
    interlace: bool = False,
    transparent=None,
    depth: int = None,
) -> bytes:
    """Encode an (H, W, C) uint8 OR uint16 array (C ∈ {1, 2, 3, 4}; a
    2-D array is treated as grayscale; uint16 writes bit depth 16 with
    big-endian samples) as a PNG — the fixture generator;
    ``decode_png(encode_png(x)) == x`` exactly, at both depths, both
    interlace modes. ``row_filters`` optionally picks the forward
    filter per scanline (0-4, default all 0/None) so fixtures can
    exercise every unfilter path — with ``interlace=True`` (Adam7,
    round 11) it indexes the SEVEN-PASS scanline stream in order, so
    its length is the total pass-row count, not H. ``transparent``
    (gray value, or (r, g, b) tuple — round 11) writes a tRNS chunk
    for color types 0/2, which :func:`decode_png` expands to an alpha
    channel. ``depth`` ∈ {1, 2, 4} (round 11) writes a sub-byte
    GRAYSCALE PNG from uint8 samples < 2^depth — samples pack
    big-endian into scanline bytes and the filters run over the packed
    bytes with offset 1, mirroring :func:`decode_png`'s sub-byte
    path."""
    import struct
    import zlib

    arr = np.asarray(pixels)
    if depth in (1, 2, 4):
        if arr.dtype == np.uint16:
            raise ValueError(
                f"depth={depth} PNGs hold uint8 samples < {1 << depth}, "
                "not uint16"
            )
        arr = arr.astype(np.uint8)
    elif depth not in (None, 8, 16):
        raise ValueError(f"unsupported encode depth {depth}")
    elif arr.dtype == np.uint16:
        if depth == 8:
            raise ValueError("depth=8 requested for uint16 samples")
        depth = 16
    else:
        if depth == 16:
            raise ValueError("depth=16 requested for uint8 samples")
        arr = arr.astype(np.uint8)
        depth = 8
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3 or arr.shape[2] not in (1, 2, 3, 4) or min(arr.shape[:2]) < 1:
        raise ValueError(
            f"encode_png expects (H, W, 1|2|3|4) uint8/uint16, got {arr.shape}"
        )
    h, w, ch = arr.shape
    if depth < 8:
        if ch != 1:
            raise ValueError(
                f"depth={depth} PNG is grayscale-only (got {ch} channels)"
            )
        if int(arr.max(initial=0)) >= (1 << depth):
            raise ValueError(
                f"depth={depth} samples must be < {1 << depth}, got "
                f"{int(arr.max())}"
            )
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    if transparent is not None and color not in (0, 2):
        raise ValueError(
            "transparent= writes a tRNS chunk, valid only for "
            f"gray/RGB (color types 0/2), not color type {color}"
        )
    # byte plane: big-endian sample bytes, shape (h, w, bpp)
    if depth == 16:
        hi = (arr >> 8).astype(np.uint8)
        lo = (arr & 0xFF).astype(np.uint8)
        planes = np.empty((h, w, ch * 2), dtype=np.uint8)
        planes[:, :, 0::2] = hi
        planes[:, :, 1::2] = lo
    else:
        planes = arr
    bpp = max(1, ch * (depth // 8))

    def pass_rows(p):
        """Sub-image (ph, pw, C) → (ph, stride) int32 packed bytes."""
        ph, pw = p.shape[:2]
        if depth < 8:
            return _png_pack_rows(p[:, :, 0], depth).astype(np.int32)
        return p.reshape(ph, pw * bpp).astype(np.int32)

    if interlace:
        passes = []
        for x0, y0, dx, dy in _ADAM7:
            sub = planes[y0::dy, x0::dx, :]
            if sub.shape[0] and sub.shape[1]:
                passes.append(sub)
        total_rows = sum(p.shape[0] for p in passes)
        if row_filters is None:
            row_filters = [0] * total_rows
        if len(row_filters) != total_rows:
            raise ValueError(
                f"row_filters needs {total_rows} entries (Adam7 "
                f"scanline stream), got {len(row_filters)}"
            )
        lines, at = [], 0
        for p in passes:
            ph = p.shape[0]
            lines += _png_filter_rows(
                pass_rows(p), bpp, row_filters[at : at + ph]
            )
            at += ph
    else:
        if row_filters is None:
            row_filters = [0] * h
        if len(row_filters) != h:
            raise ValueError(
                f"row_filters needs {h} entries, got {len(row_filters)}"
            )
        lines = _png_filter_rows(pass_rows(planes), bpp, row_filters)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, color, 0, 0, 1 if interlace else 0
    )
    out = _PNG_SIG + chunk(b"IHDR", ihdr)
    if transparent is not None:
        vals = (
            [int(transparent)] if color == 0
            else [int(v) for v in transparent]
        )
        if color == 2 and len(vals) != 3:
            raise ValueError("transparent= for RGB needs an (r, g, b) tuple")
        if any(v >= (1 << depth) for v in vals):
            raise ValueError(
                f"transparent= sample {vals} out of range for "
                f"depth={depth} (< {1 << depth})"
            )
        out += chunk(
            b"tRNS", b"".join(struct.pack(">H", v) for v in vals)
        )
    return (
        out
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )


def encode_png_palette(
    indices, palette, row_filters=None, transparency=None, depth: int = 8
) -> bytes:
    """Encode an (H, W) uint8 index array + (n, 3) uint8 palette as a
    color-type-3 PNG (optional ``transparency``: per-entry alpha for a
    tRNS chunk) — the palette-tier fixture generator;
    ``decode_png(encode_png_palette(ix, pal)) == pal[ix]`` exactly.
    ``row_filters`` as in :func:`encode_png` (index bytes filter like
    grayscale, bpp = 1). ``depth`` ∈ {1, 2, 4, 8} (round 11): sub-byte
    depths pack indices big-endian into scanline bytes; the palette
    may then hold at most 2^depth entries."""
    import struct
    import zlib

    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    if idx.ndim != 2 or min(idx.shape) < 1:
        raise ValueError(f"encode_png_palette expects (H, W) indices, got {idx.shape}")
    if pal.ndim != 2 or pal.shape[1] != 3 or not 1 <= len(pal) <= 256:
        raise ValueError(f"palette must be (1..256, 3) uint8, got {pal.shape}")
    if depth not in (1, 2, 4, 8):
        raise ValueError(f"palette PNG depth must be 1/2/4/8, got {depth}")
    if len(pal) > (1 << depth):
        raise ValueError(
            f"{len(pal)}-entry palette does not fit depth={depth} "
            f"(max {1 << depth})"
        )
    if idx.max(initial=0) >= len(pal):
        raise ValueError(
            f"index {int(idx.max())} out of range for {len(pal)}-entry palette"
        )
    h, w = idx.shape
    if row_filters is None:
        row_filters = [0] * h
    if depth < 8:
        flat = _png_pack_rows(idx, depth).astype(np.int32)
        w_packed = flat.shape[1]
    else:
        flat = idx.astype(np.int32)
        w_packed = w
    lines, prev = [], np.zeros(w_packed, dtype=np.int32)
    for y in range(h):
        f, cur = int(row_filters[y]), flat[y]
        left = np.zeros_like(cur)
        left[1:] = cur[:-1]
        if f == 0:
            enc = cur
        elif f == 1:
            enc = (cur - left) & 0xFF
        elif f == 2:
            enc = (cur - prev) & 0xFF
        elif f == 3:
            enc = (cur - ((left + prev) >> 1)) & 0xFF
        elif f == 4:
            upleft = np.zeros_like(prev)
            upleft[1:] = prev[:-1]
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = (cur - pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        lines.append(bytes([f]) + enc.astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 0)
    out = _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"PLTE", pal.tobytes())
    if transparency is not None:
        t = np.asarray(transparency, dtype=np.uint8)
        if t.ndim != 1 or len(t) > len(pal):
            raise ValueError("transparency must be (<=len(palette),) uint8")
        out += chunk(b"tRNS", t.tobytes())
    return (
        out
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )


# --- baseline JPEG (round 11): ITU-T T.81 sequential DCT + Huffman --
#
# Pure stdlib + numpy, no media libs — like PNG, the format mechanics
# are public spec: marker segments, canonical Huffman tables carried
# IN the stream (DHT), zigzag run-length entropy coding, dequant, and
# the 8x8 type-II DCT pair. Supported subset: baseline (SOF0), 8-bit,
# 1 component (grayscale) or 3 components 4:4:4 YCbCr (JFIF
# conversion). Raises loudly on progressive/arithmetic/12-bit/
# subsampled/restart-interval streams — a silently-wrong decode is
# worse than no decode. Losslessness caveat: JPEG is lossy in
# general; decode∘encode is EXACT only where the math makes it so
# (constant 8x8 blocks under a flat quant table — the oracle tier),
# and approximate elsewhere (unit tests bound the error).

_JPEG_ZIGZAG = np.array([  # T.81 Figure A.6 — zigzag scan order
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Standard Huffman tables, T.81 Annex K.3 (luminance; the encoder
# uses them for every component — any valid table is legal since the
# decoder reads tables from the stream's own DHT segments).
_JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_JPEG_AC_VALS = tuple(
    int(h, 16)
    for h in """
    01 02 03 00 04 11 05 12 21 31 41 06 13 51 61 07 22 71 14 32 81 91
    a1 08 23 42 b1 c1 15 52 d1 f0 24 33 62 72 82 09 0a 16 17 18 19 1a
    25 26 27 28 29 2a 34 35 36 37 38 39 3a 43 44 45 46 47 48 49 4a 53
    54 55 56 57 58 59 5a 63 64 65 66 67 68 69 6a 73 74 75 76 77 78 79
    7a 83 84 85 86 87 88 89 8a 92 93 94 95 96 97 98 99 9a a2 a3 a4 a5
    a6 a7 a8 a9 aa b2 b3 b4 b5 b6 b7 b8 b9 ba c2 c3 c4 c5 c6 c7 c8 c9
    ca d2 d3 d4 d5 d6 d7 d8 d9 da e1 e2 e3 e4 e5 e6 e7 e8 e9 ea f1 f2
    f3 f4 f5 f6 f7 f8 f9 fa
    """.split()
)


def _jpeg_dct_matrix() -> np.ndarray:
    """The orthonormal 8x8 type-II DCT basis C (C @ s @ C.T transforms
    a sample block to coefficients; C.T @ S @ C inverts — the pair
    T.81 Annex A.3.3 specifies up to normalization)."""
    k = np.arange(8, dtype=np.float64)
    c = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2
    c[0, :] *= 1 / np.sqrt(2)
    return c


def _jpeg_huffman_encoder(bits, vals):
    """{symbol: (code, length)} for the canonical code T.81 Annex C
    derives from (BITS, HUFFVAL)."""
    table, code, i = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[vals[i]] = (code, ln)
            code += 1
            i += 1
        code <<= 1
    return table


def _jpeg_huffman_decoder(bits, vals):
    """{(length, code): symbol} plus min/max code per length — the
    canonical-code decoder tables of T.81 Annex F.2.2.3."""
    table, code, i = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[i]
            code += 1
            i += 1
        code <<= 1
    return table


class _JpegBitWriter:
    """MSB-first bit stream with T.81 byte stuffing (FF → FF 00)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill, §F.1.2.3
        return bytes(self.out)


class _JpegBitReader:
    """MSB-first reader over entropy-coded data, undoing byte
    stuffing; raises on embedded markers (restart/other)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self, need: int) -> None:
        while self.nbits < need:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG entropy stream")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("truncated JPEG entropy stream")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed FF
                elif 0xD0 <= nxt <= 0xD7:
                    raise ValueError(
                        "JPEG restart markers unsupported (DRI=0 only)"
                    )
                else:
                    raise ValueError(
                        f"unexpected marker FF{nxt:02X} inside "
                        "entropy-coded data"
                    )
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill(n)
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v

    def read_symbol(self, table) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.read(1)
            if (ln, code) in table:
                return table[(ln, code)]
        raise ValueError("invalid JPEG Huffman code (16 bits, no match)")


def _jpeg_extend(v: int, size: int) -> int:
    """T.81 §F.2.2.1 EXTEND: map a SIZE-bit magnitude to its signed
    value."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _jpeg_magnitude(v: int) -> tuple[int, int]:
    """Signed value → (SIZE, SIZE-bit code) per §F.1.2.1 (one's-
    complement representation of negatives)."""
    size = int(abs(v)).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1) & ((1 << size) - 1)


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode a BASELINE sequential JPEG (T.81 SOF0: 8-bit Huffman
    DCT) into an (H, W, 1) uint8 array for grayscale or (H, W, 3)
    RGB for 3-component 4:4:4 YCbCr (BT.601 full-range JFIF
    conversion). Pure stdlib struct-walk + numpy: marker segments →
    DQT/DHT tables (the decoder is fully table-driven from the
    stream's own DHT), MCU-interleaved Huffman entropy decode
    (per-Python-symbol; the IDCT and color conversion are batched
    numpy over all blocks), dequantize, de-zigzag, orthonormal
    inverse DCT, +128 level shift, clamp. Raises ValueError on
    everything outside the subset — progressive (SOF2), arithmetic
    coding, 12-bit, chroma subsampling, restart intervals (DRI>0),
    truncation, embedded markers — a silently-wrong decode is worse
    than no decode."""
    import struct

    p = bytes(payload)
    if p[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG: missing SOI marker")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}  # (class, id) -> decoder
    frame = None
    while True:
        if pos + 4 > len(p):
            raise ValueError("truncated JPEG: ran out of marker segments")
        if p[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at byte {pos}")
        marker = p[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI before SOS
            raise ValueError("JPEG ended before scan data")
        (seglen,) = struct.unpack_from(">H", p, pos)
        if seglen < 2 or pos + seglen > len(p):
            raise ValueError(f"truncated JPEG segment FF{marker:02X}")
        body = p[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            at = 0
            while at < len(body):
                pq, tq = body[at] >> 4, body[at] & 0xF
                if pq != 0:
                    raise ValueError("16-bit JPEG quant tables unsupported")
                if at + 65 > len(body):
                    raise ValueError("truncated DQT segment")
                zz = np.frombuffer(body[at + 1 : at + 65], dtype=np.uint8)
                q = np.zeros(64, dtype=np.int64)
                q[_JPEG_ZIGZAG] = zz
                qtables[tq] = q.reshape(8, 8)
                at += 65
        elif marker == 0xC4:  # DHT
            at = 0
            while at < len(body):
                tc, th = body[at] >> 4, body[at] & 0xF
                bits = tuple(body[at + 1 : at + 17])
                n = sum(bits)
                vals = tuple(body[at + 17 : at + 17 + n])
                if len(vals) < n:
                    raise ValueError("truncated DHT segment")
                htables[(tc, th)] = _jpeg_huffman_decoder(bits, vals)
                at += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError(f"{prec}-bit JPEG unsupported (8 only)")
            if nc not in (1, 3):
                raise ValueError(f"{nc}-component JPEG unsupported (1 or 3)")
            comps = []
            for i in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * i)
                if hv != 0x11:
                    raise ValueError(
                        "chroma-subsampled JPEG unsupported (4:4:4 only, "
                        f"got sampling 0x{hv:02X})"
                    )
                comps.append((cid, tq))
            frame = (h, w, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"non-baseline JPEG (SOF marker FF{marker:02X}) "
                "unsupported: baseline sequential Huffman only"
            )
        elif marker == 0xDD:  # DRI
            (ri,) = struct.unpack_from(">H", body, 0)
            if ri != 0:
                raise ValueError("JPEG restart intervals unsupported")
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF0 frame header")
            ns = body[0]
            h, w, comps = frame
            if ns != len(comps):
                raise ValueError("JPEG scan/frame component count mismatch")
            scan = []
            for i in range(ns):
                cs, tt = body[1 + 2 * i], body[2 + 2 * i]
                td, ta = tt >> 4, tt & 0xF
                if (0, td) not in htables or (1, ta) not in htables:
                    raise ValueError(
                        f"JPEG scan references undefined Huffman table "
                        f"(DC {td} / AC {ta})"
                    )
                cid, tq = comps[i]
                if cs != cid:
                    raise ValueError("JPEG scan component order mismatch")
                if tq not in qtables:
                    raise ValueError(
                        f"JPEG component references undefined quant "
                        f"table {tq}"
                    )
                scan.append((qtables[tq], htables[(0, td)], htables[(1, ta)]))
            ss, se, ahl = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            if ss != 0 or se != 63 or ahl != 0:
                raise ValueError(
                    "progressive JPEG scan parameters unsupported"
                )
            pos += seglen
            break
        # APPn / COM / others: skip
        pos += seglen

    h, w, comps = frame
    if h < 1 or w < 1:
        raise ValueError(f"bad JPEG dimensions {w}x{h}")
    bw, bh = (w + 7) // 8, (h + 7) // 8
    reader = _JpegBitReader(p, pos)
    nc = len(comps)
    coeffs = np.zeros((nc, bh * bw, 64), dtype=np.int64)
    pred = [0] * nc
    for mcu in range(bh * bw):
        for ci in range(nc):
            qt, dc_tab, ac_tab = scan[ci]
            blk = coeffs[ci, mcu]
            size = reader.read_symbol(dc_tab)
            if size > 11:
                raise ValueError(f"bad JPEG DC size category {size}")
            diff = _jpeg_extend(reader.read(size), size) if size else 0
            pred[ci] += diff
            blk[0] = pred[ci]
            k = 1
            while k < 64:
                rs = reader.read_symbol(ac_tab)
                r, s = rs >> 4, rs & 0xF
                if s == 0:
                    if rs == 0x00:  # EOB
                        break
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    raise ValueError(f"bad JPEG AC symbol 0x{rs:02X}")
                k += r
                if k > 63:
                    raise ValueError("JPEG AC run past block end")
                blk[k] = _jpeg_extend(reader.read(s), s)
                k += 1
    # trailing EOI expected (after 1-fill padding)
    tail = p[reader.pos :]
    if b"\xFF\xD9" not in tail[:4]:
        raise ValueError("JPEG missing EOI after entropy data")

    c = _jpeg_dct_matrix()
    planes = np.empty((nc, bh * 8, bw * 8), dtype=np.float64)
    for ci in range(nc):
        qt, _, _ = scan[ci]
        deq = np.zeros((bh * bw, 64), dtype=np.float64)
        deq[:, _JPEG_ZIGZAG] = coeffs[ci]  # de-zigzag
        blocks = deq.reshape(-1, 8, 8) * qt[None, :, :]
        sp = np.einsum("ij,njk,kl->nil", c.T, blocks, c) + 128.0
        sp = sp.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3)
        planes[ci] = sp.reshape(bh * 8, bw * 8)
    planes = planes[:, :h, :w]
    if nc == 1:
        out = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return out[:, :, None]
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=2,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def encode_jpeg(pixels, qtable=None) -> bytes:
    """Encode an (H, W) / (H, W, 1) grayscale or (H, W, 3) RGB uint8
    array as a BASELINE sequential JPEG (SOF0, 4:4:4, standard Annex
    K.3 luminance Huffman tables for every component — legal, since
    tables travel in DHT). ``qtable`` is an 8x8 int array (or scalar)
    of quantization divisors, default 1 (flat): under the flat table
    a constant 8x8 block round-trips EXACTLY through
    :func:`decode_jpeg` (only the DC coefficient survives, and it is
    a power-of-two-exact float) — the property the oracle tier
    leans on; general content is lossy as JPEG always is. Edges pad
    by replication to 8-pixel multiples; RGB converts through
    full-range BT.601 YCbCr."""
    import struct

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3 or arr.shape[2] not in (1, 3) or min(arr.shape[:2]) < 1:
        raise ValueError(
            f"encode_jpeg expects (H, W, 1|3) uint8, got {arr.shape}"
        )
    h, w, nc = arr.shape
    q = np.broadcast_to(
        np.asarray(1 if qtable is None else qtable, dtype=np.int64), (8, 8)
    )
    if q.min() < 1 or q.max() > 255:
        raise ValueError("JPEG quant divisors must be in [1, 255]")

    if nc == 3:
        r, g, b = (arr[:, :, i].astype(np.float64) for i in range(3))
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    else:
        planes = [arr[:, :, 0].astype(np.float64)]
    bh, bw = (h + 7) // 8, (w + 7) // 8
    pad_y, pad_x = bh * 8 - h, bw * 8 - w

    c = _jpeg_dct_matrix()
    comp_coeffs = []
    for pl in planes:
        pl = np.pad(pl, ((0, pad_y), (0, pad_x)), mode="edge") - 128.0
        blocks = (
            pl.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        )
        co = np.einsum("ij,njk,kl->nil", c, blocks, c.T)
        zz = np.round(co / q[None, :, :]).astype(np.int64).reshape(-1, 64)[
            :, _JPEG_ZIGZAG
        ]
        comp_coeffs.append(zz)

    dc_enc = _jpeg_huffman_encoder(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_enc = _jpeg_huffman_encoder(_JPEG_AC_BITS, _JPEG_AC_VALS)
    wtr = _JpegBitWriter()
    pred = [0] * nc
    for mcu in range(bh * bw):
        for ci in range(nc):
            blk = comp_coeffs[ci][mcu]
            diff = int(blk[0]) - pred[ci]
            pred[ci] = int(blk[0])
            size, code = _jpeg_magnitude(diff)
            hc, hl = dc_enc[size]
            wtr.write(hc, hl)
            if size:
                wtr.write(code, size)
            run = 0
            for k in range(1, 64):
                v = int(blk[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    hc, hl = ac_enc[0xF0]  # ZRL
                    wtr.write(hc, hl)
                    run -= 16
                size, code = _jpeg_magnitude(v)
                hc, hl = ac_enc[(run << 4) | size]
                wtr.write(hc, hl)
                wtr.write(code, size)
                run = 0
            if run:
                hc, hl = ac_enc[0x00]  # EOB
                wtr.write(hc, hl)
    entropy = wtr.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    zzq = np.empty(64, dtype=np.uint8)
    zzq[np.arange(64)] = q.reshape(64)[_JPEG_ZIGZAG]
    out = b"\xFF\xD8"  # SOI
    out += seg(0xDB, bytes([0x00]) + zzq.tobytes())  # DQT: 8-bit, id 0
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        sof += struct.pack(">BBB", ci + 1, 0x11, 0)
    out += seg(0xC0, sof)
    out += seg(
        0xC4,
        bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS),
    )
    out += seg(
        0xC4,
        bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS),
    )
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    return out + entropy + b"\xFF\xD9"


def decode_image(payload: bytes, decoder: Callable[[bytes], object] | None = None):
    """Decode an image payload. Default paths: uncompressed 24-bit
    BMP decodes natively via :func:`decode_bmp` (round 9, 'BM' magic),
    8/16-bit and sub-byte sequential or Adam7-interlaced PNG via
    :func:`decode_png` (round 10, widened round 11; PNG signature —
    stdlib zlib IS the codec, no media libs needed), and BASELINE
    sequential JPEG via :func:`decode_jpeg` (round 11, FFD8 magic:
    stream-carried Huffman tables + numpy IDCT). Progressive JPEG and
    other formats still require an injected ``decoder``
    (e.g. PIL.Image.open)."""
    if decoder is None:
        p = bytes(payload)
        if p[:2] == b"BM":
            return decode_bmp(p)
        if p[:8] == _PNG_SIG:
            return decode_png(p)
        if p[:2] == b"\xFF\xD8":
            return decode_jpeg(p)
        raise NotImplementedError(
            "only uncompressed BMP, PNG, and baseline JPEG decode "
            "natively; inject a decoder for other image formats "
            "(no media libs here)"
        )
    return decoder(payload)


def decode_audio(payload: bytes, decoder: Callable[[bytes], object] | None = None):
    """Decode an audio payload. Default path (round 9): 16-bit PCM WAV
    decodes natively via :func:`decode_wav` (RIFF/WAVE magic);
    compressed formats (MP3/OGG/…) still require an injected
    ``decoder``."""
    if decoder is None:
        p = bytes(payload)
        if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
            return decode_wav(p)
        raise NotImplementedError(
            "only 16-bit PCM WAV decodes natively; inject a decoder "
            "for compressed audio formats (no media libs here)"
        )
    return decoder(payload)


#: The pandas dtype of each declared output type a payload stage builds as
#: a numpy column; any other type (string, binary) is an object column.
_STAGE_DTYPES = {"long": "int64", "integer": "int32"}


def _payload_stage(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    schema: T.StructType | str,
    per_payload: Callable[[object, bytes], tuple],
) -> DataFrame:
    """The module's one Arrow stage: ``(id_col, payload_col)`` rows become
    ``schema`` rows (a StructType or DDL string) through ``mapInPandas``.
    ``per_payload(doc_id, octets)`` returns one payload's output columns
    after the first, as equal-length sequences or numpy arrays, so a 1:N
    explode stays vectorized; the first column repeats the doc id once
    per row. A string payload column is read as its UTF-8 bytes, as
    Spark's cast to binary reads it. Every batch's frame, an empty one
    included, takes its dtypes from ``schema``."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.fieldNames()
    dtypes = [
        np.dtype(_STAGE_DTYPES.get(f.dataType.typeName(), object))
        for f in schema.fields
    ]

    def column(parts: list, dtype: np.dtype):
        if dtype == object:
            return list(chain.from_iterable(parts))
        if not parts:
            return np.empty(0, dtype)
        return np.concatenate([np.asarray(p, dtype) for p in parts])

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = [[] for _ in names]
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                if isinstance(payload, str):
                    payload = payload.encode("utf-8")
                out = per_payload(doc_id, bytes(payload))
                cols[0].append(np.full(len(out[0]), doc_id))
                for col, values in zip(cols[1:], out):
                    col.append(values)
            yield pd.DataFrame(
                {n: column(c, dt) for n, c, dt in zip(names, cols, dtypes)}
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        stage, schema
    )


def payload_stats(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Deterministic per-payload stats via mapInPandas — the fake 'decode'
    used to exercise the full Arrow-batched binary pipeline end to end."""
    return _payload_stage(
        df, id_col, payload_col, STATS_SCHEMA,
        lambda _, p: ([len(p)], [hashlib.md5(p).hexdigest()]),
    )


def _check_n_bins(n_bins: int) -> int:
    """Bin count must tile the byte range exactly: a non-divisor
    silently drops the top values via the ``[:n_bins]`` slice, and
    n_bins > 256 floor-divides by zero (numpy only warns) — both
    produce confidently wrong histograms instead of errors (round-9
    review finding)."""
    if not (1 <= n_bins <= 256 and 256 % n_bins == 0):
        raise ValueError(
            f"n_bins must be a divisor of 256 in 1..256, got {n_bins}"
        )
    return 256 // n_bins


def _byte_histogram_kernel(
    df: DataFrame, id_col: str, payload_col: str, n_bins: int, to_bytes
) -> DataFrame:
    """Shared Arrow-stage binning kernel: ``to_bytes(payload) ->
    uint8 ndarray`` is the only thing that differs between the raw
    byte view (:func:`byte_histogram`) and the decoded-pixel view
    (:func:`image_pixel_histogram`) — one implementation, so fixes to
    the binning/explode logic cannot diverge between them."""
    width = _check_n_bins(n_bins)
    bins = np.arange(n_bins)
    return _payload_stage(
        df, id_col, payload_col, "doc_id long, bin int, n long",
        lambda _, p: (
            bins,
            np.bincount(to_bytes(p) // width, minlength=n_bins)[:n_bins],
        ),
    )


def byte_histogram(
    df: DataFrame, id_col: str, payload_col: str, n_bins: int = 16
) -> DataFrame:
    """Per-payload byte histogram in exploded long form — one row per
    ``(doc_id, bin)`` carrying the byte count ``n``, with all ``n_bins``
    rows emitted per payload (zero bins included, so the shape is
    deterministic). A real feature-extraction stage over opaque binary
    (the shape of MFCC/embedding extraction once a decoder is injected):
    numpy over Arrow batches, no shuffle, the 1:n_bins explode happens
    inside the pandas stage.

    Long form is deliberate: result schemas stay scalar-only (array-typed
    output columns break pandas-based canonicalizers downstream — the
    conformance output discipline, same family as the no-DECIMAL rule)."""
    return _byte_histogram_kernel(
        df, id_col, payload_col, n_bins,
        lambda p: np.frombuffer(p, dtype=np.uint8),
    )


def resize_image_plan(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    size: tuple[int, int] = (224, 224),
    decoder: Callable[[bytes], object] | None = None,
    resizer: Callable[[object, tuple[int, int]], bytes] | None = None,
) -> DataFrame:
    """Image resize pipeline shape: decode → resize → re-encode per payload,
    streamed through Arrow batches. Decode/resize are STUBBED (inject e.g.
    PIL.Image.open / a thumbnail+save closure); the Spark-side plumbing —
    schema, batching, partition behavior — is real and tested."""
    if resizer is None:
        def resizer(img, sz):  # noqa: ARG001
            raise NotImplementedError(
                "image resizing requires an injected resizer (no media libs here)"
            )

    return _payload_stage(
        df, id_col, payload_col,
        "doc_id long, resized binary, width int, height int",
        lambda _, p: (
            [resizer(decode_image(p, decoder), size)], [size[0]], [size[1]]
        ),
    )


def frame_sample_plan(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    every_nth: int = 30,
    decoder: Callable[[bytes], list[bytes]] | None = None,
) -> DataFrame:
    """Video frame-sampling pipeline shape: payload → frames (1:N explode
    inside the pandas stage, so frame bytes never concatenate into one row).
    Decoder stubbed like the rest of F4."""

    def sample(_, p):
        frames = decode_image(p, decoder)[::every_nth]  # list[bytes]
        return range(len(frames)), frames

    return _payload_stage(
        df, id_col, payload_col, "doc_id long, frame_no int, frame binary",
        sample,
    )


def channel_stats_plan(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    n_channels: int = 4,
    decoder: Callable[[bytes], bytes] | None = None,
) -> DataFrame:
    """Per-channel sample statistics over decoded media payloads — the
    feature-extraction shape (audio channel energy, image band stats)
    with EXACT integer moments: each decoded byte stream is
    de-interleaved into ``n_channels`` and reduced to (n, Σv, Σv²) as
    int64 INSIDE the Arrow stage (numpy, vectorized), so the per-doc
    rows leaving Python are tiny and the engine-side aggregate is exact
    BIGINT arithmetic. Decoder is the usual injected seam (identity for
    raw-sample formats; no media libs ship here).

    Payload bytes never reach the driver; predicates on id/metadata
    stay OUTSIDE the pandas stage (the F4 pushdown discipline). Output
    (scalar-only): ``(doc_id long, channel int, n long, s long,
    sq long)``.
    """
    if n_channels < 1:
        raise ValueError("channel_stats_plan requires n_channels >= 1")

    def stats(_, p):
        raw = decode_audio(p, decoder)
        arr = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
        subs = [arr[c::n_channels] for c in range(min(n_channels, arr.size))]
        return (
            range(len(subs)),
            [s.size for s in subs],
            [s.sum() for s in subs],
            [(s * s).sum() for s in subs],
        )

    return _payload_stage(
        df, id_col, payload_col,
        "doc_id long, channel int, n long, s long, sq long", stats,
    )


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("seg", T.IntegerType()),
        T.StructField("seg_n", T.LongType()),
        T.StructField("seg_sum", T.LongType()),
    ]
)


def _segment_sums_kernel(
    df: DataFrame, id_col: str, payload_col: str, n_segs: int, to_bytes
) -> DataFrame:
    """Shared Arrow-stage segment-sum kernel (the ahash downsample):
    ``to_bytes`` selects the byte view — raw payload
    (:func:`payload_segment_sums`) or decoded pixels
    (:func:`pixel_segment_sums`). All ``n_segs`` rows emit per payload
    (empty segments as n=0) via the one closed form an engine replays
    without materializing bounds: byte p -> segment (p*n_segs)//len."""
    segs = np.arange(n_segs)

    def sums(_, p):
        b = to_bytes(p)
        seg_of = (np.arange(b.size, dtype=np.int64) * n_segs) // max(b.size, 1)
        return (
            segs,
            np.bincount(seg_of, minlength=n_segs),
            np.bincount(seg_of, weights=b.astype(np.int64), minlength=n_segs),
        )

    return _payload_stage(df, id_col, payload_col, AHASH_SCHEMA, sums)


def payload_segment_sums(
    df: DataFrame, id_col: str, payload_col: str, n_segs: int = 8
) -> DataFrame:
    """Per-payload byte sums over ``n_segs`` contiguous segments — the
    Arrow-batched 'downsample' stage of the perceptual average-hash
    (on real images :func:`pixel_segment_sums` runs the same kernel
    over DECODED pixels; this raw byte view exercises the identical
    numpy-over-Arrow shape). No shuffle — the 1:n_segs explode happens
    inside the pandas stage."""
    return _segment_sums_kernel(
        df, id_col, payload_col, n_segs,
        lambda p: np.frombuffer(p, dtype=np.uint8),
    )


def perceptual_ahash_pairs(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    n_segs: int = 8,
    max_hamming: int = 1,
) -> DataFrame:
    """Perceptual near-duplicate pairs by average-hash: segment-mean
    bits (bit s = 1 iff segment s's mean byte exceeds the payload
    mean — compared by the EXACT integer cross-multiply
    ``seg_sum·total_n > total_sum·seg_n``, no division) and
    Hamming-≤1 candidate pairing via the identity+single-bit-flip
    banding (each payload emits ``n_segs+1`` variant keys; two hashes
    at distance ≤ 1 MUST collide on one — the SimHash band argument
    specialized to radius 1, so pair work is collision-bounded, never
    all-pairs). The F4 member of the near-dup family: byte-identical
    dedup is q_dedup_exact on payload md5; this catches
    re-encoded / near-identical payloads the way pHash does for images,
    with the decode seam stubbed like the rest of F4.

    Output (scalar-only): ``(id_a, id_b, hash_a, hash_b,
    hamming int)`` with id_a < id_b, deduped across bands.
    """
    if max_hamming > 1:
        raise ValueError("banding covers max_hamming <= 1")
    segs = payload_segment_sums(df, id_col, payload_col, n_segs)
    return _ahash_pairs_from_segments(segs, n_segs, max_hamming)


def _ahash_pairs_from_segments(
    segs: DataFrame, n_segs: int, max_hamming: int = 1
) -> DataFrame:
    """Average-hash bit derivation + Hamming-≤1 banding over a
    ``(doc_id, seg, seg_n, seg_sum)`` segment table — shared by the
    raw-byte view (:func:`perceptual_ahash_pairs`) and the real-decode
    pixel view (:func:`image_ahash_pairs`): the downsample stage
    differs, everything from the bit cross-multiply on is one plan."""
    tot = segs.groupBy("doc_id").agg(
        F.sum("seg_n").alias("__tn"), F.sum("seg_sum").alias("__ts")
    )
    bits = (
        segs.join(tot, "doc_id")
        .withColumn(
            "__bit",
            F.when(
                F.col("seg_sum") * F.col("__tn")
                > F.col("__ts") * F.col("seg_n"),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .groupBy("doc_id")
        .agg(
            # pyspark's shiftleft() needs a literal shift; per-row goes
            # through the SQL form (BIGINT 1 — the INT-wrap lesson)
            F.sum(
                F.col("__bit")
                * F.expr("shiftleft(CAST(1 AS BIGINT), seg)")
            ).alias("ahash")
        )
    )
    variants = bits.select(
        "doc_id",
        "ahash",
        F.explode(
            F.array(
                F.col("ahash"),
                *[
                    F.col("ahash").bitwiseXOR(F.lit(1 << s).cast("long"))
                    for s in range(n_segs)
                ],
            )
        ).alias("__band"),
    )
    a = variants.select(
        F.col("doc_id").alias("id_a"),
        F.col("ahash").alias("hash_a"),
        "__band",
    )
    b = variants.select(
        F.col("doc_id").alias("id_b"),
        F.col("ahash").alias("hash_b"),
        "__band",
    )
    pairs = (
        a.join(b, "__band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "hash_a", "hash_b")
        .distinct()
    )
    ham = F.bit_count(
        F.col("hash_a").bitwiseXOR(F.col("hash_b"))
    ).cast("int")
    return pairs.withColumn("hamming", ham).filter(
        F.col("hamming") <= max_hamming
    )


# --- real-decode operators (round 9): the F4 seam driven by the native
# --- BMP/WAV decoders instead of an injected fake ----------------------


def image_pixel_histogram(
    df: DataFrame, id_col: str, payload_col: str, n_bins: int = 16
) -> DataFrame:
    """Per-image PIXEL histogram through ACTUAL decode: each payload is
    decoded by the default :func:`decode_image` seam (native BMP path —
    no injected fake), the (H, W, 3) RGB array flattens row-major, and
    all channel bytes bin into ``256 // n_bins``-wide buckets — the
    same exploded ``(doc_id, bin, n)`` long form as
    :func:`byte_histogram` (the shared kernel), every bin emitted per
    image. Decode + bincount run vectorized inside the Arrow stage;
    only doc × n_bins rows leave Python; no shuffle."""
    return _byte_histogram_kernel(
        df, id_col, payload_col, n_bins,
        lambda p: decode_image(p).reshape(-1),
    )


def image_sample_stats(
    df: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """Per-image exact sample moments through ACTUAL decode: each
    payload decodes via the default :func:`decode_image` seam (BMP,
    or PNG at either bit depth — the operator that makes the 16-bit
    tier observable end-to-end: u16 samples overflow a bincount-style
    256-bin histogram but reduce exactly), and all samples flatten to
    int64 ``(n, Σv, Σv², min, max)`` inside the Arrow stage — the
    normalization / exposure-audit precompute (mean/variance per
    image at 100 TB without a second pass). One row per image leaves
    Python; no shuffle."""

    def stats(_, p):
        v = decode_image(p).reshape(-1).astype(np.int64)
        return [v.size], [v.sum()], [(v * v).sum()], [v.min()], [v.max()]

    return _payload_stage(
        df, id_col, payload_col,
        "doc_id long, n long, s long, sq long, vmin long, vmax long", stats,
    )


def wav_channel_stats(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Per-channel exact sample moments through ACTUAL decode: each
    payload is decoded by the default :func:`decode_audio` seam (native
    16-bit PCM WAV path), and each channel's int16 samples reduce to
    int64 ``(n, Σv, Σv²)`` inside the Arrow stage — the real-decoder
    form of :func:`channel_stats_plan` (which de-interleaves raw bytes
    through an injected decoder). Each output row also carries the
    decoded ``sample_rate`` so the format metadata is exercised, not
    just the samples (the channel COUNT is implied by the per-channel
    rows — there is no separate ``n_channels`` column). Channels with
    zero frames are OMITTED from the output, not emitted as ``n=0``
    rows."""

    def stats(_, p):
        rate, samples = decode_audio(p)
        wide = samples.astype(np.int64)
        k = wide.shape[1] if len(wide) else 0  # zero-frame channels omitted
        return (
            range(k),
            [rate] * k,
            [len(wide)] * k,
            wide.sum(axis=0)[:k],
            (wide * wide).sum(axis=0)[:k],
        )

    return _payload_stage(
        df, id_col, payload_col,
        "doc_id long, channel int, sample_rate int, n long, s long, sq long",
        stats,
    )


def pixel_segment_sums(
    df: DataFrame, id_col: str, payload_col: str, n_segs: int = 8
) -> DataFrame:
    """:func:`payload_segment_sums` over DECODED pixel bytes: each
    payload decodes through the default :func:`decode_image` seam and
    the flattened row-major RGB bytes run the shared segment kernel —
    the real-decoder downsample stage for :func:`image_ahash_pairs`."""
    return _segment_sums_kernel(
        df, id_col, payload_col, n_segs,
        lambda p: decode_image(p).reshape(-1),
    )


def image_ahash_pairs(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    n_segs: int = 8,
    max_hamming: int = 1,
) -> DataFrame:
    """:func:`perceptual_ahash_pairs` through ACTUAL decode: the
    average-hash downsample runs over decoded PIXELS (native BMP path)
    instead of raw payload bytes — on BMPs the two differ (headers,
    BGR order, bottom-up rows, row padding), so near-identical images
    pair correctly regardless of their byte-level framing. Bit
    derivation and Hamming-≤1 banding are the shared
    :func:`_ahash_pairs_from_segments` plan."""
    if max_hamming > 1:
        raise ValueError("banding covers max_hamming <= 1")
    segs = pixel_segment_sums(df, id_col, payload_col, n_segs)
    return _ahash_pairs_from_segments(segs, n_segs, max_hamming)


def image_pixels_long(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Decoded pixels in exploded long form ``(doc_id, r, c, ch, v)``
    through the default :func:`decode_image` seam — scalar-only output
    (the conformance discipline: no array columns), the 1:H·W·3
    explode vectorized inside the Arrow stage."""

    def pixels(_, p):
        px = decode_image(p)
        h, w = px.shape[:2]
        return (
            np.repeat(np.arange(h), w * 3),
            np.tile(np.repeat(np.arange(w), 3), h),
            np.tile(np.arange(3), h * w),
            px.reshape(-1),
        )

    return _payload_stage(
        df, id_col, payload_col, "doc_id long, r int, c int, ch int, v int",
        pixels,
    )


def resize_image_nearest(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    out_w: int,
    out_h: int,
    encoder: Callable[[object], bytes] | None = None,
) -> DataFrame:
    """REAL image resize through the default decode seam (round 9):
    decode (native BMP/PNG, sniffed) → nearest-neighbor resample with
    the exact integer index map ``src_r = (r·H) // out_h, src_c =
    (c·W) // out_w`` (floor sampling — deterministic, no float
    rounding, so an oracle can replay each output pixel as one
    source-byte lookup) → re-encode. The default encoder is chosen
    per payload from the DECODED array's channel count (ADVICE r10
    low: a fixed :func:`encode_bmp` default raised for the
    grayscale/gray+alpha/RGBA payloads the decode seam accepts):
    3-channel uint8 arrays keep the BMP default, everything else
    (1/2/4 channels, 16-bit) re-encodes as PNG. Pass ``encoder``
    explicitly to force one format end-to-end (e.g.
    :func:`encode_png` for a PNG pipeline — round 10). The
    real-decoder form of
    :func:`resize_image_plan`'s injected seam; the whole
    decode→resize→encode chain runs vectorized per payload inside the
    Arrow stage, payload bytes never visit the driver. Output:
    ``(doc_id, resized binary, width, height)``."""
    if out_w < 1 or out_h < 1:
        raise ValueError("resize_image_nearest requires out_w, out_h >= 1")

    def _auto_encode(px) -> bytes:
        arr = np.asarray(px)
        if arr.ndim == 3 and arr.shape[2] == 3 and arr.dtype == np.uint8:
            return encode_bmp(arr)
        return encode_png(arr)

    enc = encoder or _auto_encode

    def resize(_, p):
        px = decode_image(p)
        h, w = px.shape[:2]
        ri = (np.arange(out_h, dtype=np.int64) * h) // out_h
        ci = (np.arange(out_w, dtype=np.int64) * w) // out_w
        return [enc(px[np.ix_(ri, ci)])], [out_w], [out_h]

    return _payload_stage(
        df, id_col, payload_col,
        "doc_id long, resized binary, width int, height int", resize,
    )
