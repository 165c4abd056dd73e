"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (north-star §2.2).

Decode is REAL for PPM (P6) images, RIFF/PCM16 WAV audio and C444
Y4M video (numpy header walk + ``frombuffer``), AND for three
genuinely compressed containers built-in with stdlib only: PNG
(zlib inflate + predictive unfilters), JPEG (one decoder skeleton
whose Huffman, arithmetic — operators/jpeg_arith.py — and lossless
entropy layers cover baseline, multi-scan sequential, progressive,
12-bit, lossless/DNG and the QM-coded SOF9/SOF10 processes), and FLAC
(Rice-coded residuals + FIXED/LPC prediction + stereo
decorrelation — lossless, so decoded audio is bit-identical);
``real_features`` computes content statistics from actual
pixels/samples. PNG covers every valid IHDR
combination (Adam7, 16-bit, and the 1/2/4-bit packed depths). Remaining
compressed formats (MP3, H.264/HEVC frames — the MP4 CONTAINER
parses via operators/mp4.py) need codec libraries this box lacks —
``decode_real`` detects them and raises ``NotImplementedError`` so
a production deployment can plug a codec into the same slot;
``_stub_features`` remains as the hash-based fallback. Everything
*around* the decode — schema, Arrow
batching, ``mapInPandas`` signature, partition sizing — is the same
for both paths.

Scale notes: decode is the textbook ``mapInPandas`` case — per-batch
Python with Arrow transfer, no shuffle; keep binary payloads in their
own table/column family so scans that don't need bytes never read
them (Parquet column pruning does this for free).
"""

from __future__ import annotations

import functools
import hashlib
import struct
from collections.abc import Iterator
from types import SimpleNamespace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: media asset schema: payload + typed metadata, the pattern every
#: modality shares. Width/height/etc. live in metadata so planning
#: (filtering, bucketing) never touches bytes.
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 8

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("content_sha1", T.StringType(), False),
        T.StructField("content_sha256", T.StringType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), False),
    ]
)


def assets_from_documents(docs: DataFrame) -> DataFrame:
    """Build a fake asset table from ``documents`` (bytes = utf-8 of
    text) so the plumbing is exercised on real driver fixtures."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("modality"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            # content-derived dims so geometry ops have real variety
            (F.lit(16) + F.col("n_chars") % 97).cast("int").alias("width"),
            (F.lit(16) + (F.col("n_chars") * 7) % 83).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------
# real codecs: containers decodable with stdlib + numpy alone.
# PPM (P6) images, WAV (RIFF/PCM16) audio, Y4M video — header parse
# + ``np.frombuffer`` — and PNG, the one genuinely COMPRESSED
# container (stdlib zlib inflate + the 5 predictive scanline
# unfilters). Other compressed formats (JPEG/MP3/H.264) still need
# a codec library and raise cleanly.
# ---------------------------------------------------------------


def _loud_corruption(container: str):
    """Decoder-boundary guard: damaged payloads of a RECOGNIZED
    container must surface as ``ValueError`` — loud and routable —
    never as the internal accident of wherever the bytes ran out
    (``struct.error`` unpacking a cut header, ``IndexError`` walking
    a cut table). This is clause 4 of the codec contract
    (docs/CODECS.md) applied to the engine's own built-ins, pinned by
    the exhaustive truncation sweep in tests/test_codec_contract.py.
    ``ValueError``/``NotImplementedError`` pass through untouched."""
    import functools
    import struct as _struct
    import zlib as _zlib

    def deco(fn):
        @functools.wraps(fn)
        def wrapped(payload, *a, **kw):
            try:
                return fn(payload, *a, **kw)
            except (_struct.error, IndexError, _zlib.error) as e:
                raise ValueError(
                    f"corrupt/truncated {container} payload: {e}"
                ) from e

        return wrapped

    return deco


def encode_ppm(arr: "np.ndarray") -> bytes:
    """Encode an (h, w, 3) uint8 array as binary PPM (P6, maxval 255)."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("encode_ppm expects (h, w, 3) uint8")
    h, w = a.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()


@_loud_corruption("PPM")
def decode_ppm(payload: bytes) -> "np.ndarray":
    """Decode binary PPM (P6, maxval<=255, '#' comments) to (h, w, 3)
    uint8. Header grammar per the netpbm spec: magic, whitespace-
    separated width/height/maxval with comment lines, ONE whitespace
    byte, then raw samples."""
    if not payload or payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, fields = 2, []
    while len(fields) < 3:
        if pos >= len(payload):
            raise ValueError("truncated PPM header")
        c = payload[pos:pos + 1]
        if c == b"#":
            pos = payload.index(b"\n", pos) + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(payload) and not payload[end:end + 1].isspace():
                end += 1
            fields.append(int(payload[pos:end]))
            pos = end
    pos += 1  # the single whitespace byte after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    need = w * h * 3
    body = payload[pos:pos + need]
    if len(body) < need:
        raise ValueError("truncated PPM body")
    return np.frombuffer(body, dtype=np.uint8).reshape(h, w, 3)


def encode_wav(
    samples: "np.ndarray", rate: int = 16000, channels: int = 1
) -> bytes:
    """Encode int16 PCM samples (frames × channels, or flat mono) as
    a canonical 44-byte-header RIFF/WAVE file."""
    s = np.ascontiguousarray(samples, dtype="<i2")
    data = s.tobytes()
    byte_rate = rate * channels * 2
    block_align = channels * 2
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack(
            "<IHHIIHH", 16, 1, channels, rate, byte_rate, block_align, 16
        )
        + b"data" + struct.pack("<I", len(data))
    )
    return hdr + data


@_loud_corruption("WAV")
def decode_wav(payload: bytes):
    """Decode RIFF/WAVE PCM16 to ((frames, channels) int16, rate).
    Walks chunks (so extra LIST/fact chunks are fine); PCM16 only."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + size]
        if len(body) < size:
            # the chunk header PROMISED size bytes — silently decoding
            # the shorter remainder would mask corruption (codec
            # contract clause 4)
            raise ValueError(f"truncated WAV {cid!r} chunk")
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, channels, rate, _, _, bits = fmt
    if audio_fmt != 1 or bits != 16:
        raise ValueError("only PCM16 WAV is supported")
    arr = np.frombuffer(
        data[: (len(data) // (2 * channels)) * 2 * channels], dtype="<i2"
    ).reshape(-1, channels)
    return arr, rate


def encode_y4m(
    frames: "np.ndarray", fps_num: int = 25, fps_den: int = 1
) -> bytes:
    """Encode (n, h, w, 3) uint8 YUV frames as YUV4MPEG2 ``C444``
    (full-resolution planar Y/U/V per frame — the uncompressed video
    container mplayer/ffmpeg speak; spec is the public yuv4mpeg(5)
    man page)."""
    a = np.ascontiguousarray(frames, dtype=np.uint8)
    if a.ndim != 4 or a.shape[3] != 3:
        raise ValueError("encode_y4m expects (n, h, w, 3) uint8 YUV")
    n, h, w = a.shape[:3]
    hdr = b"YUV4MPEG2 W%d H%d F%d:%d Ip A1:1 C444\n" % (
        w, h, fps_num, fps_den,
    )
    parts = [hdr]
    for i in range(n):
        parts.append(b"FRAME\n")
        # planar: the whole Y plane, then U, then V
        parts.append(np.ascontiguousarray(a[i].transpose(2, 0, 1)).tobytes())
    return b"".join(parts)


@_loud_corruption("Y4M")
def decode_y4m(payload: bytes):
    """Decode YUV4MPEG2 ``C444`` to ((n, h, w, 3) uint8 YUV, fps).
    Header grammar per yuv4mpeg(5): space-separated tagged params
    after the magic, newline-terminated; each frame is ``FRAME`` (+
    optional params) newline then raw planes."""
    if not payload or not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.index(b"\n")
    w = h = None
    fps_num, fps_den = 25, 1
    colorspace = b"C420"  # the spec default when no C tag is present
    for tag in payload[9:nl].split():
        if tag[:1] == b"W":
            w = int(tag[1:])
        elif tag[:1] == b"H":
            h = int(tag[1:])
        elif tag[:1] == b"F":
            fps_num, fps_den = (int(x) for x in tag[1:].split(b":"))
        elif tag[:1] == b"C":
            colorspace = tag
    if w is None or h is None:
        raise ValueError("missing W/H in YUV4MPEG2 header")
    if colorspace != b"C444":
        raise NotImplementedError(
            "only C444 (full-res planes) decodes without chroma "
            "resampling; subsampled streams need the codec plug-in"
        )
    frame_bytes = w * h * 3
    pos, frames = nl + 1, []
    while pos < len(payload):
        if payload[pos:pos + 5] != b"FRAME":
            raise ValueError("expected FRAME marker")
        pos = payload.index(b"\n", pos) + 1  # skip frame params
        body = payload[pos:pos + frame_bytes]
        if len(body) < frame_bytes:
            raise ValueError("truncated frame")
        frames.append(
            np.frombuffer(body, dtype=np.uint8)
            .reshape(3, h, w)
            .transpose(1, 2, 0)
        )
        pos += frame_bytes
    return np.stack(frames) if frames else np.empty((0, h, w, 3), np.uint8), (
        fps_num / fps_den
    )


def _paeth_predict(a: "np.ndarray", b: "np.ndarray", c: "np.ndarray"):
    """Vectorized Paeth predictor (PNG spec §9.4): per sample pick
    left/up/upper-left, whichever is closest to a+b−c (ties in that
    order). Operates on int arrays with headroom."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where(
        (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
    )


#: Adam7 pass grid (PNG spec §8.2): (x_start, x_step, y_start, y_step)
_ADAM7 = (
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
)


def _png_filter_bytes(mat: "np.ndarray", bpp: int, ft: int) -> bytes:
    """Apply ONE scanline filter to a (h, stride) byte matrix (PNG
    filters operate on BYTES with a ``bpp``-byte left offset — the
    rule that makes the same code serve 8- and 16-bit depths)."""
    h, stride = mat.shape
    raw = mat.astype(np.int16)  # headroom for filter arithmetic
    zeros = np.zeros(bpp, np.int16)
    lines = []
    prev = np.zeros(stride, np.int16)
    for y in range(h):
        cur = raw[y]
        left = np.concatenate([zeros, cur[:-bpp]]) if stride else cur
        ul = np.concatenate([zeros, prev[:-bpp]]) if stride else prev
        if ft == 0:
            filt = cur
        elif ft == 1:
            filt = cur - left
        elif ft == 2:
            filt = cur - prev
        elif ft == 3:
            filt = cur - (left + prev) // 2
        else:
            filt = cur - _paeth_predict(left, prev, ul)
        lines.append(
            bytes([ft]) + (filt % 256).astype(np.uint8).tobytes()
        )
        prev = cur
    return b"".join(lines)


def encode_png(
    arr: "np.ndarray",
    filter_type: int = 0,
    interlace: bool = False,
    depth: int = 8,
) -> bytes:
    """Encode (h, w, 3) uint8 RGB as PNG (color type 2) with only
    stdlib ``zlib`` — the fixture/export twin of :func:`decode_png`.
    ``filter_type`` applies ONE of the five PNG scanline filters
    (0=None 1=Sub 2=Up 3=Average 4=Paeth) to every line, so tests can
    exercise each unfilter path with payloads produced entirely
    in-repo. ``interlace=True`` emits Adam7 (each of the 7 passes
    filtered as its own sub-image, per spec §8.2); ``depth=16``
    widens samples to v·257 big-endian (the exact 8→16 expansion, so
    the decoded MSB round-trips losslessly) — both r6, closing the
    named PNG dialect gaps."""
    import zlib

    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("encode_png expects (h, w, 3) uint8")
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError("filter_type must be 0..4")
    if depth not in (8, 16):
        raise ValueError("depth must be 8 or 16")
    h, w = a.shape[:2]
    bps = depth // 8
    bpp = 3 * bps
    if depth == 16:
        px = (a.astype(np.uint16) * 257).astype(">u2")
        byte_img = np.frombuffer(px.tobytes(), np.uint8).reshape(h, w, bpp)
    else:
        byte_img = a.reshape(h, w, bpp)
    if interlace:
        parts = []
        for x0, dx, y0, dy in _ADAM7:
            sub = byte_img[y0::dy, x0::dx]
            ph, pw = sub.shape[:2]
            if ph == 0 or pw == 0:
                continue  # empty pass: NO bytes at all (spec §8.2)
            parts.append(_png_filter_bytes(
                sub.reshape(ph, pw * bpp), bpp, filter_type))
        body = zlib.compress(b"".join(parts))
    else:
        body = zlib.compress(_png_filter_bytes(
            byte_img.reshape(h, w * bpp), bpp, filter_type))

    def chunk(typ: bytes, data: bytes) -> bytes:
        c = typ + data
        return (
            struct.pack(">I", len(data)) + c
            + struct.pack(">I", zlib.crc32(c))
        )

    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, 2, 0, 0, 1 if interlace else 0
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", body)
        + chunk(b"IEND", b"")
    )


def _png_unfilter(
    raw: bytes, off: int, w: int, h: int, bpp: int, stride: int | None = None
):
    """Unfilter ``h`` scanlines of ``stride`` bytes (default
    ``w·bpp``) starting at ``raw[off]`` (one filter byte per line).
    Returns ``(bytes_consumed, (h, stride) uint8)``. PNG filters
    operate on BYTES with a ``bpp``-byte left offset — one code path
    serves 8/16-bit depths, every Adam7 sub-image, AND (r7) the
    sub-8-bit packed rows, where the caller passes the ceil(w·d/8)
    byte stride with the spec's bpp=1 filter offset."""
    if stride is None:
        stride = w * bpp
    need = h * (stride + 1)
    if len(raw) < off + need:
        raise ValueError("truncated PNG scanlines")
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.uint8)
    for y in range(h):
        o = off + y * (stride + 1)
        ft = raw[o]
        cur = np.frombuffer(raw[o + 1:o + 1 + stride], np.uint8).copy()
        if ft == 0:
            pass
        elif ft == 1:  # Sub: exact mod-256 prefix sum per filter unit
            cur = (
                np.cumsum(cur.reshape(-1, bpp), axis=0,
                          dtype=np.uint64) % 256
            ).astype(np.uint8).reshape(stride)
        elif ft == 2:  # Up: uint8 addition wraps — mod 256 for free
            cur += prev
        elif ft == 3:  # Average
            for x in range(stride):
                left = int(cur[x - bpp]) if x >= bpp else 0
                cur[x] = (int(cur[x]) + (left + int(prev[x])) // 2) & 255
        elif ft == 4:  # Paeth
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = (
                    a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                )
                cur[x] = (int(cur[x]) + pred) & 255
        else:
            raise ValueError(f"invalid PNG filter byte {ft}")
        out[y] = cur
        prev = cur
    return need, out


def _png_unpack_bits(mat: "np.ndarray", w: int, depth: int) -> "np.ndarray":
    """Unpack ``(h, stride)`` filtered bytes into ``(h, w)`` samples
    for sub-8-bit depths: pixels pack MSB-first within each byte
    (PNG spec §7.2), rows pad to a byte boundary."""
    h = mat.shape[0]
    bits = np.unpackbits(mat, axis=1)[:, : w * depth]
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (
        (bits.reshape(h, w, depth) * weights).sum(axis=2).astype(np.uint8)
    )


def _png_pack_bits(samples: "np.ndarray", depth: int) -> "np.ndarray":
    """Pack ``(h, w)`` samples (< 2^depth) into MSB-first rows padded
    to byte boundaries — the encoder twin of :func:`_png_unpack_bits`."""
    h, w = samples.shape
    bits = (
        (samples[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1
    ).reshape(h, w * depth).astype(np.uint8)
    pad = (-bits.shape[1]) % 8
    if pad:
        bits = np.pad(bits, ((0, 0), (0, pad)))
    return np.packbits(bits, axis=1)


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import zlib

    c = typ + data
    return struct.pack(">I", len(data)) + c + struct.pack(
        ">I", zlib.crc32(c)
    )


def encode_png_packed(
    samples: "np.ndarray",
    depth: int,
    palette: "np.ndarray | None" = None,
    filter_type: int = 0,
    interlace: bool = False,
) -> bytes:
    """Encode ``(h, w)`` samples as a sub-8-bit PNG (r7 — the encoder
    twin closing the last PNG dialect gap): color type 0 greyscale
    when ``palette`` is None, else color type 3 with a PLTE built
    from the ``(n, 3)`` uint8 palette. ``depth`` ∈ {1, 2, 4}; every
    sample must be < 2^depth. Same filter/interlace dials as
    :func:`encode_png`, with the spec's bpp=1 byte-offset filters
    over the packed rows, so tests can exercise every unfilter ×
    unpack × Adam7 combination from payloads produced in-repo."""
    import zlib

    s = np.ascontiguousarray(samples, dtype=np.uint8)
    if s.ndim != 2:
        raise ValueError("encode_png_packed expects (h, w) samples")
    if depth not in (1, 2, 4):
        raise ValueError("depth must be 1, 2 or 4")
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError("filter_type must be 0..4")
    if s.size and int(s.max()) >= (1 << depth):
        raise ValueError(f"sample out of range for depth {depth}")
    h, w = s.shape
    if interlace:
        parts = []
        for x0, dx, y0, dy in _ADAM7:
            sub = s[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue  # empty pass: NO bytes at all (spec §8.2)
            parts.append(
                _png_filter_bytes(_png_pack_bits(sub, depth), 1, filter_type)
            )
        body = zlib.compress(b"".join(parts))
    else:
        body = zlib.compress(
            _png_filter_bytes(_png_pack_bits(s, depth), 1, filter_type)
        )

    ctype = 0 if palette is None else 3
    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, ctype, 0, 0, 1 if interlace else 0
    )
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if palette is not None:
        p = np.ascontiguousarray(palette, dtype=np.uint8)
        if p.ndim != 2 or p.shape[1] != 3 or p.shape[0] > (1 << depth):
            raise ValueError("palette must be (n<=2^depth, 3) uint8")
        out += _png_chunk(b"PLTE", p.tobytes())
    return out + _png_chunk(b"IDAT", body) + _png_chunk(b"IEND", b"")


@_loud_corruption("PNG")
def decode_png(payload: bytes) -> "np.ndarray":
    """Decode PNG to (h, w, 3) uint8 with only stdlib ``zlib`` +
    numpy — the first genuinely COMPRESSED container that decodes
    built-in (PNG spec, RFC 2083 / ISO 15948: chunked container,
    zlib-deflated scanlines, 5 per-line predictive filters).

    Supported: EVERY valid IHDR combination (spec §11.2.2) — bit
    depths 8/16 (big-endian; 16-bit reduces to the MSB, the standard
    strip-16 rule) across color types 0 (grey → replicated), 2
    (RGB), 3 (palette via PLTE), 4 (grey+alpha), 6 (RGBA — alpha
    dropped, matching the (h,w,3) decode_real contract), PLUS (r7)
    the sub-8-bit depths 1/2/4 for grey (left-bit-replication scale
    to 8-bit) and palette (direct index), with MSB-first bit packing
    and byte-padded rows; interlace 0 AND Adam7 (each of the 7
    passes unfiltered as its own sub-image — packed to its OWN
    ceil(pw·d/8) stride at sub-8 depths — then scattered onto the
    ``[y0::dy, x0::dx]`` grid). No named PNG dialect gaps remain;
    invalid depth×color combinations raise ValueError.

    Unfiltering: Up is one vectorized row op, Sub is an exact
    mod-256 cumulative sum per filter unit; Average/Paeth carry an
    inherent left-neighbor dependency, so they run per-byte on the
    one scanline (w·bpp-bounded — the payload never leaves the task,
    and a production deployment hooks a C codec for bulk JPEG/PNG
    anyway)."""
    import zlib

    if not payload or payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos:pos + 4])
        typ = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + ln]
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        pos += 12 + ln  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, depth, ctype, comp, filt_method, interlace = ihdr
    if comp != 0 or filt_method != 0:
        raise ValueError("unknown PNG compression/filter method")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if channels is None:
        raise ValueError(f"invalid PNG color type {ctype}")
    valid_depths = {0: (1, 2, 4, 8, 16), 3: (1, 2, 4, 8)}.get(
        ctype, (8, 16)
    )
    if depth not in valid_depths:
        raise ValueError(
            f"invalid PNG depth {depth} for color type {ctype}"
        )
    raw = zlib.decompress(b"".join(idat))
    if depth < 8:  # packed rows: bpp=1 byte filters + MSB-first bits
        if interlace == 0:
            _, mat = _png_unfilter(
                raw, 0, w, h, 1, stride=(w * depth + 7) // 8
            )
            samples = _png_unpack_bits(mat, w, depth)
        elif interlace == 1:
            samples = np.zeros((h, w), np.uint8)
            off = 0
            for x0, dx, y0, dy in _ADAM7:
                pw = (w - x0 + dx - 1) // dx
                ph = (h - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                used, mat = _png_unfilter(
                    raw, off, pw, ph, 1, stride=(pw * depth + 7) // 8
                )
                off += used
                samples[y0::dy, x0::dx] = _png_unpack_bits(mat, pw, depth)
        else:
            raise ValueError(f"invalid PNG interlace method {interlace}")
        if ctype == 0:  # left-bit-replication: 255/85/17 at d=1/2/4
            g = samples * np.uint8(255 // ((1 << depth) - 1))
            return np.repeat(g[:, :, None], 3, axis=2)
        if plte is None:
            raise ValueError("palette PNG without PLTE chunk")
        return plte[samples]
    bps = depth // 8
    bpp = channels * bps
    if interlace == 0:
        _, byte_img = _png_unfilter(raw, 0, w, h, bpp)
    elif interlace == 1:  # Adam7
        byte_img = np.zeros((h, w * bpp), np.uint8)
        view = byte_img.reshape(h, w, bpp)
        off = 0
        for x0, dx, y0, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # empty pass contributes zero bytes
            used, mat = _png_unfilter(raw, off, pw, ph, bpp)
            off += used
            view[y0::dy, x0::dx] = mat.reshape(ph, pw, bpp)
    else:
        raise ValueError(f"invalid PNG interlace method {interlace}")
    # big-endian samples: byte 0 is the MSB, so taking every bps-th
    # byte IS the 16→8 strip; for bps=1 it's the identity
    img = np.ascontiguousarray(
        byte_img.reshape(h, w, channels, bps)[:, :, :, 0]
    )
    if ctype == 2:
        return img
    if ctype == 6:
        return np.ascontiguousarray(img[:, :, :3])
    if ctype == 0:
        return np.repeat(img, 3, axis=2)
    if ctype == 4:
        return np.repeat(img[:, :, :1], 3, axis=2)
    if plte is None:
        raise ValueError("palette PNG without PLTE chunk")
    return plte[img[:, :, 0]]


# ------------------------------------------------------------- JPEG
# Pure stdlib+numpy JPEG codec (ITU T.81 / ISO 10918-1 — public
# spec). The tables below are Annex K reference material: the
# example quantization tables, the typical Huffman tables, and the
# zig-zag order.

_ZIGZAG = np.array(
    [ 0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
     12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
     35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
     58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int64,
)

_QUANT_LUM = np.array(
    [16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
     14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
     18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113,
     92, 49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112,
     100, 103, 99],
    dtype=np.int64,
)
_QUANT_CHROM = np.array(
    [17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
     24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99]
    + [99] * 32,
    dtype=np.int64,
)

# (bits-per-length[1..16], symbol list) — T.81 tables K.3-K.6
_HUFF_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_DC_CHROM = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    list(bytes.fromhex(
        "01 02 03 00 04 11 05 12 21 31 41 06 13 51 61 07"
        "22 71 14 32 81 91 a1 08 23 42 b1 c1 15 52 d1 f0"
        "24 33 62 72 82 09 0a 16 17 18 19 1a 25 26 27 28"
        "29 2a 34 35 36 37 38 39 3a 43 44 45 46 47 48 49"
        "4a 53 54 55 56 57 58 59 5a 63 64 65 66 67 68 69"
        "6a 73 74 75 76 77 78 79 7a 83 84 85 86 87 88 89"
        "8a 92 93 94 95 96 97 98 99 9a a2 a3 a4 a5 a6 a7"
        "a8 a9 aa b2 b3 b4 b5 b6 b7 b8 b9 ba c2 c3 c4 c5"
        "c6 c7 c8 c9 ca d2 d3 d4 d5 d6 d7 d8 d9 da e1 e2"
        "e3 e4 e5 e6 e7 e8 e9 ea f1 f2 f3 f4 f5 f6 f7 f8"
        "f9 fa"
    )),
)
_HUFF_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    list(bytes.fromhex(
        "00 01 02 03 11 04 05 21 31 06 12 41 51 07 61 71"
        "13 22 32 81 08 14 42 91 a1 b1 c1 09 23 33 52 f0"
        "15 62 72 d1 0a 16 24 34 e1 25 f1 17 18 19 1a 26"
        "27 28 29 2a 35 36 37 38 39 3a 43 44 45 46 47 48"
        "49 4a 53 54 55 56 57 58 59 5a 63 64 65 66 67 68"
        "69 6a 73 74 75 76 77 78 79 7a 82 83 84 85 86 87"
        "88 89 8a 92 93 94 95 96 97 98 99 9a a2 a3 a4 a5"
        "a6 a7 a8 a9 aa b2 b3 b4 b5 b6 b7 b8 b9 ba c2 c3"
        "c4 c5 c6 c7 c8 c9 ca d2 d3 d4 d5 d6 d7 d8 d9 da"
        "e2 e3 e4 e5 e6 e7 e8 e9 ea f2 f3 f4 f5 f6 f7 f8"
        "f9 fa"
    )),
)


def _dct_matrix() -> "np.ndarray":
    """Orthonormal 8-point DCT-II matrix: forward F = C·X·Cᵀ,
    inverse X = Cᵀ·F·C."""
    x = np.arange(8)
    c = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    c *= np.sqrt(2 / 8)
    c[0] *= np.sqrt(0.5)
    return c


def _huff_encode_table(bits, vals):
    """(symbol → (code, length)) from the canonical (bits, vals)."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _HuffTable:
    """Canonical Huffman decode table with an 8-bit first-level LUT
    (optimization r13, guide §4.2: the per-bit dict walk was ~45% of
    JPEG decode kernel time — 3.7M read_bit calls on the sf0.1 image
    corpus). ``lut[p]`` resolves every code of length ≤ 8 from one
    8-bit peek; longer codes (rare in real streams) fall back to the
    original per-bit ``walk`` dict from length 9. Decoded symbols are
    exact integers, so the fast path is bit-identical by
    construction."""

    __slots__ = ("lut", "walk")

    def __init__(self, bits, vals):
        lut = [None] * 256
        walk, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                sym = vals[k]
                if ln <= 8:
                    base = code << (8 - ln)
                    hit = (sym, ln)
                    for p in range(base, base + (1 << (8 - ln))):
                        lut[p] = hit
                else:
                    walk[(ln, code)] = sym
                code += 1
                k += 1
            code <<= 1
        self.lut = lut
        self.walk = walk


def _ijg_scale(tbl: "np.ndarray", quality: int) -> "np.ndarray":
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    return np.clip((tbl * scale + 50) // 100, 1, 255)


#: Progressive-scan AC table: the Annex K baseline tables define no
#: EOBn symbols for n ≥ 1 (their code space is complete — only the
#: forbidden all-ones 16-bit point is free), which is exactly why
#: real progressive encoders ship custom DHTs. This is a flat
#: canonical 8-bit-code table covering every symbol a progressive AC
#: scan can emit: EOB0, EOB1..EOB14 runs, ZRL, and (run, size) for
#: run 0..15 × size 1..14 — 240 symbols, a valid (incomplete) prefix
#: code any conformant decoder reads from the DHT segment.
_HUFF_AC_PROG = (
    [0] * 7 + [240] + [0] * 8,
    [0x00] + [n << 4 for n in range(1, 15)] + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 15)],
)


#: Lossless DC diff categories run 0..16 (T.81 H.1.2.2; category 16
#: has NO appended bits, diff ≡ 32768 mod 2^16). Annex K's baseline
#: DC tables stop at 11, so — like the progressive AC case — a
#: conformant lossless encoder ships its own DHT: 17 symbols, flat
#: canonical 5-bit codes (all-ones code unused, as required).
_HUFF_DC_LOSSLESS = ([0, 0, 0, 0, 17] + [0] * 11, list(range(17)))


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s
        return bytes(self.buf)


def _mag_bits(v: int) -> tuple[int, int]:
    """JPEG magnitude category + appended bits for a coefficient."""
    s = int(abs(v)).bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _put_dc(bw: "_BitWriter", table: dict, diff: int) -> None:
    """One DC difference: its category's code and magnitude bits in a
    single fused put (the same bitstream as two puts, half the calls)."""
    sz, bits_v = _mag_bits(diff)
    code, ln = table[sz]
    bw.put((code << sz) | bits_v, ln + sz)


def _ceil(a: int, b: int) -> int:
    return -(-a // b)


def _walk_scan(comps, ih, iw, cids, interval, restart, block, unit=8):
    """The block order of one scan (T.81 A.2), shared by every encoder
    and decoder: ``block(cid, by, bx)`` per block, ``restart(k)``
    before the MCU that follows the k-th RSTn marker of a restart
    ``interval``. A single-component scan is NON-interleaved — one
    block per MCU over the component's OWN ceil(dim/8) grid, not the
    MCU-padded one (A.2.2); an interleaved scan walks the frame's
    hmax×vmax MCU grid, components in scan order, h×v blocks each
    (A.2.3). ``comps`` are the frame's [(cid, h, v, tq)]; ``unit=1``
    gives the lossless process's sample grid."""
    fac = {cid: (hh, v) for cid, hh, v, _ in comps}
    hmax = max(hh for hh, _ in fac.values())
    vmax = max(v for _, v in fac.values())
    if len(cids) == 1:
        hh, v = fac[cids[0]]
        rows = _ceil(_ceil(ih * v, vmax), unit)
        cols = _ceil(_ceil(iw * hh, hmax), unit)
        layout = [(cids[0], 1, 1, 0, 0)]  # one block per MCU
    else:
        rows, cols = _ceil(ih, unit * vmax), _ceil(iw, unit * hmax)
        layout = [(cid, fac[cid][1], fac[cid][0], by, bx) for cid in cids
                  for by in range(fac[cid][1]) for bx in range(fac[cid][0])]
    n = 0
    for m_y in range(rows):
        for m_x in range(cols):
            if interval and n and n % interval == 0:
                restart(n // interval - 1)
            n += 1
            for cid, v, hh, by, bx in layout:
                block(cid, m_y * v + by, m_x * hh + bx)


def _code_scan(comps, h, w, cids, interval, segment, unit=8) -> bytes:
    """Encode one scan: ``segment()`` opens fresh coder state
    (predictors, statistics) as ``(block, flush)``; every
    ``interval`` MCUs the open segment is flushed behind its RSTn
    marker and a new one opened."""
    blob = bytearray()
    block, flush = segment()

    def restart(k):
        nonlocal block, flush
        blob.extend(flush() + bytes([0xFF, 0xD0 + k % 8]))
        block, flush = segment()

    _walk_scan(comps, h, w, cids, interval, restart,
               lambda cid, by, bx: block(cid, by, bx), unit)
    return bytes(blob) + flush()


def _progressive_scans(comps, h, w, dc_first, ac_first, ac_refine,
                       dc_refine) -> list:
    """The T.81 Annex G script both DCT encoders emit: DC first
    (interleaved, Al=1) → per-component AC first (band 1..63, Al=1) →
    per-component AC refinement (Ah=1 → Al=0) → DC refinement. One
    full successive-approximation level exercises every progressive
    decode path. Each opener takes the scan's components and opens
    its coder as :func:`_code_scan`'s ``segment`` does."""
    plan = (
        [(comps, 0, 0, 0x01, dc_first)]
        + [([c], 1, 63, 0x01, ac_first) for c in comps]
        + [([c], 1, 63, 0x10, ac_refine) for c in comps]
        + [(comps, 0, 0, 0x10, dc_refine)]
    )
    return [
        (sc, ss, se, ahal, _code_scan(
            comps, h, w, [c[0] for c in sc], 0, functools.partial(op, sc)
        ))
        for sc, ss, se, ahal, op in plan
    ]


def _segment(marker: int, body: bytes) -> bytes:
    """One marker segment: 0xFF, marker, 16-bit length, body."""
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _sof(marker: int, prec: int, h: int, w: int, comps) -> bytes:
    """Frame header (T.81 B.2.2) for components [(cid, h, v, tq)]."""
    return _segment(
        marker,
        struct.pack(">BHHB", prec, h, w, len(comps))
        + b"".join(bytes([cid, hh << 4 | v, tq]) for cid, hh, v, tq in comps),
    )


def _dht(tc: int, th: int, table) -> bytes:
    bits, vals = table
    return _segment(0xC4, bytes([tc << 4 | th]) + bytes(bits) + bytes(vals))


def _dct_head(qtabs) -> bytes:
    """APP0 (JFIF) and one DQT per natural-order table, stored in
    zigzag order with 16-bit entries (Pq=1) whenever one exceeds a
    byte, as the 12-bit ×16 tables do."""
    out = _segment(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tid, tbl in enumerate(qtabs):
        zz = tbl[_ZIGZAG]
        if int(zz.max()) > 255:
            out += _segment(0xDB, bytes([0x10 | tid])
                            + zz.astype(">u2").tobytes())
        else:
            out += _segment(0xDB, bytes([tid]) + bytes(zz.tolist()))
    return out


def _jpeg_file(head: bytes, sof: bytes, tables: bytes,
               restart_interval: int, scans) -> bytes:
    """SOI, ``head``, frame header, ``tables``, DRI, then each scan
    (comps, Ss, Se, Ah<<4|Al, entropy bytes) behind its SOS, EOI. A
    component's ``tq`` also selects its DC and AC entropy tables."""
    out = b"\xff\xd8" + head + sof + tables
    if restart_interval:
        out += _segment(0xDD, struct.pack(">H", restart_interval))
    for comps, ss, se, ahal, blob in scans:
        out += _segment(
            0xDA,
            bytes([len(comps)])
            + b"".join(bytes([cid, tq * 0x11]) for cid, _, _, tq in comps)
            + bytes([ss, se, ahal]),
        ) + blob
    return out + b"\xff\xd9"


def _dct_coefficients(arr, quality: int, subsample: int, depth: int,
                      name: str):
    """Front end of both DCT encoders (Huffman here, QM-coder in
    jpeg_arith): RGB→YCbCr, edge padding to whole MCUs, the 4:2:0 2×2
    mean, IJG-scaled Annex K tables (samples and tables widened ×16
    into the 12-bit domain at ``depth=12``), then FDCT + quantize per
    8×8 block. Returns the frame's components [(cid, h, v, tq)],
    {cid: (bh, bw, 64) zigzag coefficients} over the MCU-padded
    planes, the natural-order tables in use, h and w — so a Huffman
    and an arithmetic encode of one image carry IDENTICAL
    coefficients."""
    if depth not in (8, 12):
        raise ValueError("depth must be 8 or 12")
    gray = arr.ndim == 2
    if gray:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError(f"{name} expects (h, w, 3) or (h, w) uint8")
    if subsample not in (1, 2) or (gray and subsample != 1):
        raise ValueError("subsample must be 1 (4:4:4) or 2 (4:2:0)")
    h, w, _ = arr.shape
    rgb = arr.astype(np.float64)
    y = (0.299 * rgb[..., 0] + 0.587 * rgb[..., 1]
         + 0.114 * rgb[..., 2])
    cb = (128 - 0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1]
          + 0.5 * rgb[..., 2])
    cr = (128 + 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1]
          - 0.081312 * rgb[..., 2])
    s = subsample
    mcu = 8 * s
    mx, my = _ceil(w, mcu), _ceil(h, mcu)

    def pad(p, hh, ww):
        return np.pad(p, ((0, hh - p.shape[0]), (0, ww - p.shape[1])),
                      mode="edge")

    y = pad(y, my * mcu, mx * mcu)
    if s == 2:  # pad to whole MCUs, then the 2×2 mean
        cb = pad(cb, my * mcu, mx * mcu)
        cr = pad(cr, my * mcu, mx * mcu)
        cb = cb.reshape(my * 8, 2, mx * 8, 2).mean(axis=(1, 3))
        cr = cr.reshape(my * 8, 2, mx * 8, 2).mean(axis=(1, 3))
    else:
        cb, cr = pad(cb, my * 8, mx * 8), pad(cr, my * 8, mx * 8)
    qtabs = [_ijg_scale(_QUANT_LUM, quality),
             _ijg_scale(_QUANT_CHROM, quality)]
    if depth == 12:
        # same effective quality in the 12-bit domain: level shift
        # 2^11, Pq=1 DQT fields
        y, cb, cr = y * 16.0, cb * 16.0, cr * 16.0
        qtabs = [q * 16 for q in qtabs]
    level = float(1 << (depth - 1))
    C = _dct_matrix()
    comps = [(1, s, s, 0)]
    if not gray:
        comps += [(2, 1, 1, 1), (3, 1, 1, 1)]
    grids = {}
    for (cid, _, _, tq), plane in zip(comps, (y, cb, cr)):
        # the scaled tables are in NATURAL order (for dividing the DCT
        # block); the coefficients are kept in ZIGZAG order
        qd = qtabs[tq].reshape(8, 8).astype(np.float64)
        out = np.zeros((plane.shape[0] // 8, plane.shape[1] // 8, 64),
                       np.int64)
        for by in range(out.shape[0]):
            for bx in range(out.shape[1]):
                block = plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - level
                fq = np.round((C @ block @ C.T) / qd).astype(np.int64)
                out[by, bx] = fq.reshape(64)[_ZIGZAG]
        grids[cid] = out
    return comps, grids, qtabs[:1 if gray else 2], h, w


def encode_jpeg(
    arr: "np.ndarray",
    quality: int = 85,
    subsample: int = 1,
    restart_interval: int = 0,
    scans: str = "interleaved",
    depth: int = 8,
) -> bytes:
    """Huffman-coded JFIF encoder for (h, w, 3) uint8 RGB or (h, w)
    uint8 grayscale — the fixture/roundtrip twin of
    :func:`decode_jpeg`, the role encode_png plays for the PNG
    decoder. Annex K tables scaled by the IJG quality rule.
    ``subsample=2`` emits 4:2:0 chroma (2×2-mean downsample),
    ``subsample=1`` 4:4:4. ``restart_interval=r`` emits DRI + an RSTn
    marker every r MCUs (predictor reset, byte-aligned), the
    error-resilience feature every camera writes.

    ``scans``: ``'interleaved'`` is one baseline (SOF0) scan;
    ``'separate'`` is multi-scan sequential, one non-interleaved SOS
    per component over T.81 A.2.2 ceil(comp_dim/8) block grids, the
    other layout camera firmwares write; ``'progressive'`` (SOF2) is
    the Annex G script of :func:`_progressive_scans`. ``depth=12``
    emits extended sequential (SOF1) or 12-bit progressive: samples
    widened ×16, level shift 2048, 16-bit (Pq=1) quantization tables.
    Annex K's Huffman tables stop at DC category 11 / AC size 10 and
    define no EOBn run symbols, so 12-bit frames ship the flat
    17-symbol DC table and 12-bit or progressive frames the extended
    AC table in their DHT segments — the custom-table story real
    progressive and lossless encoders share."""
    if scans not in ("interleaved", "separate", "progressive"):
        raise ValueError(
            "scans must be 'interleaved', 'separate' or 'progressive'"
        )
    comps, grids, qtabs, h, w = _dct_coefficients(
        arr, quality, subsample, depth, "encode_jpeg"
    )
    if scans == "progressive" and restart_interval:
        raise ValueError("restart markers unsupported with progressive scans")
    dc_tbls = (
        [_HUFF_DC_LOSSLESS] * 2 if depth == 12
        else [_HUFF_DC_LUM, _HUFF_DC_CHROM]
    )
    ac_tbls = (
        [_HUFF_AC_PROG] * 2 if depth == 12 or scans == "progressive"
        else [_HUFF_AC_LUM, _HUFF_AC_CHROM]
    )
    enc_dc = [_huff_encode_table(*t) for t in dc_tbls]
    enc_ac = [_huff_encode_table(*t) for t in ac_tbls]
    tq = {cid: t for cid, _, _, t in comps}

    def sequential(sc, al=0, ac=True):
        # DC differences (shifted by Al), then run-length AC symbols
        bw, pred = _BitWriter(), {}

        def block(cid, by, bx):
            vals = grids[cid][by, bx].tolist()
            dc = vals[0] >> al
            _put_dc(bw, enc_dc[tq[cid]], dc - pred.get(cid, 0))
            pred[cid] = dc
            if not ac:
                return
            tab, run = enc_ac[tq[cid]], 0
            for v in vals[1:]:
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    bw.put(*tab[0xF0])  # ZRL
                    run -= 16
                sz, bits_v = _mag_bits(v)
                code, ln = tab[(run << 4) | sz]
                bw.put((code << sz) | bits_v, ln + sz)
                run = 0
            if run:
                bw.put(*tab[0x00])  # EOB

        return block, bw.flush

    def ac_band(sc, refine):
        # progressive AC over 1..63: EOBn runs span blocks; the
        # refinement pass buffers one correction bit per
        # nonzero-history coefficient behind the symbol that covers it
        tab, bw = enc_ac[sc[0][3]], _BitWriter()
        eobrun, brbits = 0, []

        def flush_eob():
            nonlocal eobrun, brbits
            if eobrun:
                nb = eobrun.bit_length() - 1
                bw.put(*tab[nb << 4])
                if nb:
                    bw.put(eobrun - (1 << nb), nb)
            for b in brbits:
                bw.put(b, 1)
            eobrun, brbits = 0, []

        def first(cid, by, bx):
            nonlocal eobrun
            r = 0
            for v in grids[cid][by, bx].tolist()[1:]:
                av = abs(v) >> 1  # Al=1, trunc toward zero
                if av == 0:
                    r += 1
                    continue
                flush_eob()
                while r > 15:
                    bw.put(*tab[0xF0])
                    r -= 16
                sz, bits_v = _mag_bits(av if v > 0 else -av)
                code, ln = tab[(r << 4) | sz]
                bw.put((code << sz) | bits_v, ln + sz)
                r = 0
            if r > 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()

        def refinement(cid, by, bx):
            nonlocal eobrun
            blk = grids[cid][by, bx].tolist()
            absv = [abs(v) for v in blk]
            eob_k = 0
            for k in range(1, 64):
                if absv[k] == 1:
                    eob_k = k  # last NEWLY-significant coef
            r = 0
            pend: list[int] = []
            for k in range(1, 64):
                av = absv[k]
                if av == 0:
                    r += 1
                    continue
                # ZRL flush at EVERY nonzero encounter (the libjpeg
                # span-safety rule): any buffered correction bit was
                # appended while r <= 15, so it lies inside the
                # 16-zero span this ZRL covers and the decoder's
                # inline walk reads it in order
                while r > 15 and k <= eob_k:
                    flush_eob()
                    bw.put(*tab[0xF0])
                    r -= 16
                    for b in pend:
                        bw.put(b, 1)
                    pend = []
                if av > 1:
                    # nonzero history → one correction bit
                    pend.append(av & 1)
                    continue
                # newly significant (±1 at this Al)
                flush_eob()
                bw.put(*tab[(r << 4) | 1])
                bw.put(1 if blk[k] > 0 else 0, 1)
                for b in pend:
                    bw.put(b, 1)
                pend = []
                r = 0
            if r > 0 or pend:
                eobrun += 1
                brbits.extend(pend)
                if eobrun == 0x7FFF:
                    flush_eob()

        def flush():
            flush_eob()
            return bw.flush()

        return (refinement if refine else first), flush

    def dc_refine(sc):
        bw = _BitWriter()
        return (
            lambda cid, by, bx: bw.put(int(grids[cid][by, bx, 0]) & 1, 1)
        ), bw.flush

    if scans == "progressive":
        coded = _progressive_scans(
            comps, h, w, functools.partial(sequential, al=1, ac=False),
            functools.partial(ac_band, refine=False),
            functools.partial(ac_band, refine=True), dc_refine,
        )
    else:
        groups = [[c] for c in comps] if scans == "separate" else [comps]
        coded = [
            (g, 0, 63, 0, _code_scan(
                comps, h, w, [c[0] for c in g], restart_interval,
                functools.partial(sequential, g),
            ))
            for g in groups
        ]
    dht = b"".join(
        _dht(0, th, dc_tbls[th]) + _dht(1, th, ac_tbls[th])
        for th in range(len(qtabs))
    )
    sof = 0xC2 if scans == "progressive" else 0xC1 if depth == 12 else 0xC0
    return _jpeg_file(_dct_head(qtabs), _sof(sof, depth, h, w, comps), dht,
                      restart_interval, coded)


class _BitReader:
    """MSB-first bit reader over de-stuffed entropy segments.

    Optimization r13 (guide §4.2): position is ONE bit offset
    (``bp``) instead of (byte, bit); multi-bit reads slice bytes and
    extract in one ``int.from_bytes`` instead of n per-bit calls, and
    ``read_symbol`` resolves short codes from one 8-bit peek via
    :class:`_HuffTable`. Overrun semantics unchanged: T.81 pads the
    final byte, so ≤ 7 phantom zero-bits past the segment end are
    legal; consuming an 8th raises (codec contract clause 4 — a cut
    stream must never silently decode as zeros)."""

    def __init__(self, segments):
        self.segments = segments  # list of de-stuffed entropy chunks
        self.seg_i = 0
        self._load(segments[0] if segments else b"")

    def _load(self, data) -> None:
        self.data = data
        self.nbits = 8 * len(data)
        self.bp = 0  # bit offset into data
        self.overrun = 0  # bits read past the segment end

    def next_segment(self) -> None:
        """Byte-align and jump past the next restart marker."""
        self.seg_i += 1
        if self.seg_i >= len(self.segments):
            # a truncated stream loses its tail restart segments —
            # damaged payloads must surface as ValueError (the codec
            # contract clause 4, docs/CODECS.md), never IndexError
            raise ValueError(
                "truncated JPEG entropy stream (missing restart segment)"
            )
        # each segment pads to its own byte boundary
        self._load(self.segments[self.seg_i])

    def _phantom(self, n: int) -> None:
        """Account for n zero-bits consumed past the segment end."""
        self.overrun += n
        if self.overrun > 7:
            raise ValueError("truncated JPEG entropy stream")

    def read_bit(self) -> int:
        bp = self.bp
        if bp >= self.nbits:
            self._phantom(1)
            return 0
        self.bp = bp + 1
        return (self.data[bp >> 3] >> (7 - (bp & 7))) & 1

    def read_bits(self, n: int) -> int:
        bp = self.bp
        end = bp + n
        if end <= self.nbits:
            b0 = bp >> 3
            b1 = (end + 7) >> 3
            chunk = int.from_bytes(self.data[b0:b1], "big")
            self.bp = end
            return (chunk >> ((b1 << 3) - end)) & ((1 << n) - 1)
        avail = self.nbits - bp
        v = self.read_bits(avail) if avail > 0 else 0
        self._phantom(n - max(avail, 0))
        return v << (n - max(avail, 0))

    def _peek8(self) -> int:
        """Next 8 bits without consuming, zero-padded past the end."""
        bp = self.bp
        seg = self.data[bp >> 3:(bp >> 3) + 2]
        chunk = int.from_bytes(seg, "big") << (16 - 8 * len(seg))
        return (chunk >> (8 - (bp & 7))) & 0xFF

    def read_symbol(self, table: "_HuffTable") -> int:
        hit = table.lut[self._peek8()]
        if hit is not None:
            sym, ln = hit
            end = self.bp + ln
            if end <= self.nbits:
                self.bp = end
            else:
                phantom = end - max(self.bp, self.nbits)
                self.bp = self.nbits
                self._phantom(phantom)
            return sym
        # no code of length ≤ 8 prefixes the peek: consume those 8
        # bits and continue the canonical walk from length 9
        code = self.read_bits(8)
        ln = 8
        walk = table.walk
        while ln < 16:
            code = (code << 1) | self.read_bit()
            ln += 1
            sym = walk.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG huffman code")

    def read_rs_val(self, table: "_HuffTable") -> tuple:
        """Fused AC-coefficient read: the (run<<4 | size) Huffman
        symbol plus its ``size`` magnitude bits extended to a signed
        value (0 when size == 0) — ONE 40-bit buffer slice for the
        common case instead of two method calls per coefficient
        (r13 §4.2; the AC loop is the hottest path in baseline
        decode). Long codes (> 8 bits) and the segment tail fall back
        to the generic calls, which keep overrun bookkeeping exact.
        Integer-exact, so bit-identical to the unfused reads."""
        bp = self.bp
        b0 = bp >> 3
        seg = self.data[b0:b0 + 5]
        # 40-bit window: worst case bit-offset 7 + 8-bit code +
        # 15 magnitude bits = 30 bits — always inside the window
        chunk = int.from_bytes(seg, "big") << (40 - 8 * len(seg))
        off = bp & 7
        hit = table.lut[(chunk >> (32 - off)) & 0xFF]
        if hit is not None:
            rs, ln = hit
            size = rs & 15
            end = bp + ln + size
            if end <= self.nbits:
                self.bp = end
                if size == 0:
                    return rs, 0
                v = (chunk >> (40 - off - ln - size)) & ((1 << size) - 1)
                return rs, (
                    v if v >= (1 << (size - 1)) else v - (1 << size) + 1
                )
        rs = self.read_symbol(table)
        size = rs & 15
        if size == 0:
            return rs, 0
        return rs, _extend(self.read_bits(size), size)


def _extend(v: int, s: int) -> int:
    """Map s appended magnitude bits back to a signed coefficient."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _ac_first_scan(br, tab, blk, ss, se, al, state):
    """Progressive AC first scan for one block (T.81 G.1.2.2):
    run-length coding of ``coef >> al`` magnitudes with EOB RUNS —
    the (r, 0) symbol with r < 15 ends 2^r + r-appended-bits blocks
    at once. ``state['eobrun']`` carries the remaining run across
    blocks (this block consumed)."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = br.read_symbol(tab)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                continue
            state["eobrun"] = (1 << r) - 1
            if r:
                state["eobrun"] += br.read_bits(r)
            return
        k += r
        if k > se:
            raise ValueError("JPEG AC index out of range")
        blk[k] = _extend(br.read_bits(s), s) << al
        k += 1


def _ac_refine_scan(br, tab, blk, ss, se, al, state):
    """Progressive AC refinement for one block (T.81 G.1.2.3):
    newly-significant coefficients arrive as ±1·2^al with runs
    counted over ZERO-history positions only; every nonzero-history
    position passed over reads one correction bit (applied when bit
    ``al`` is still clear — the libjpeg-identical rule, two's
    complement semantics for negatives)."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = br.read_symbol(tab)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r < 15:
                    # store the FULL run: the tail walk below still
                    # owes this block its correction bits, then
                    # consumes one run slot
                    state["eobrun"] = 1 << r
                    if r:
                        state["eobrun"] += br.read_bits(r)
                    break
                val = 0  # ZRL: pass 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError(
                        "bad progressive refinement magnitude"
                    )
                val = p1 if br.read_bit() else m1
            while k <= se:
                c = int(blk[k])
                if c != 0:
                    if br.read_bit() and (c & p1) == 0:
                        blk[k] = c + (p1 if c > 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if state["eobrun"] > 0:
        # correction bits for the rest of the band, then consume one
        # block of the run
        while k <= se:
            c = int(blk[k])
            if c != 0 and br.read_bit() and (c & p1) == 0:
                blk[k] = c + (p1 if c > 0 else m1)
            k += 1
        state["eobrun"] -= 1


def _entropy_segments(payload: bytes, i: int) -> tuple[list, int]:
    """De-stuff one scan's entropy bytes from offset ``i``: 0xFF00 →
    0xFF, RSTn splits segments, any other marker (or the end) ends
    the scan. Returns (segments, offset of the ending marker)."""
    segments, cur = [], bytearray()
    while True:
        j = payload.find(b"\xff", i)
        if j < 0:
            cur += payload[i:]
            i = len(payload)
            break
        cur += payload[i:j]
        nxt = payload[j + 1] if j + 1 < len(payload) else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
        elif 0xD0 <= nxt <= 0xD7:  # RSTn
            segments.append(bytes(cur))
            cur = bytearray()
        else:
            i = j  # EOI or the next real marker
            break
        i = j + 2
    segments.append(bytes(cur))
    return segments, i


def _huff_tables(sc, need_dc: bool, need_ac: bool) -> tuple[dict, dict]:
    """The scan's per-component (DC, AC) Huffman tables. Progressive
    refinement scans legitimately reference no DC table, but a scan
    that NEEDS a table its file never defined is malformed and must
    raise ValueError (hook-routable), not AttributeError out of the
    bit reader."""
    dc, ac = {}, {}
    for cid, td, ta in sc.comps:
        dc[cid], ac[cid] = sc.huff.get((0, td)), sc.huff.get((1, ta))
        if need_dc and dc[cid] is None:
            raise ValueError(
                "JPEG scan references undefined DC huffman table"
            )
        if need_ac and ac[cid] is None:
            raise ValueError(
                "JPEG scan references undefined AC huffman table"
            )
    return dc, ac


def _huffman_scan(sc):
    """Huffman entropy layer of the DCT processes, returning the
    skeleton's (restart, block) pair. Sequential (T.81 F.2.2): a DC
    difference and run-length AC symbols per block. Progressive
    (G.2): DC first (shifted by Al) or refinement (one raw bit), AC
    bands with multi-block EOB runs and successive-approximation
    correction bits. Blocks land in the zigzag coefficient store;
    predictors and the EOB run reset at every restart."""
    prog, ss, se, ah = sc.progressive, sc.ss, sc.se, sc.ah
    al = sc.al if prog else 0
    dc_tab, ac_tab = _huff_tables(
        sc, not prog or (ss == 0 and ah == 0), not prog or ss > 0
    )
    br = _BitReader(sc.segments)
    pred = {cid: 0 for cid, _, _ in sc.comps}
    state = {"eobrun": 0}
    coefs = sc.store

    def restart(k):
        br.next_segment()
        state["eobrun"] = 0
        for cid in pred:
            pred[cid] = 0

    if not prog or (ss == 0 and ah == 0):
        def block(cid, by, bx):
            blk = coefs[cid][by, bx]
            s = br.read_symbol(dc_tab[cid])
            if s > 16:  # T.81 F.1.2.1.2 category cap
                raise ValueError("JPEG DC size out of range")
            pred[cid] += _extend(br.read_bits(s), s) if s else 0
            blk[0] = pred[cid] << al
            if prog:
                return
            tab, k = ac_tab[cid], 1
            while k < 64:
                rs, val = br.read_rs_val(tab)
                run, size = rs >> 4, rs & 15
                if size == 0:
                    if run == 15:  # ZRL
                        k += 16
                        continue
                    break  # EOB
                k += run
                if k > 63:
                    raise ValueError("JPEG AC index out of range")
                blk[k] = val
                k += 1
    elif ss == 0:
        def block(cid, by, bx):
            if br.read_bit():
                coefs[cid][by, bx, 0] |= 1 << al
    else:
        band = _ac_refine_scan if ah else _ac_first_scan

        def block(cid, by, bx):
            band(br, ac_tab[cid], coefs[cid][by, bx], ss, se, al, state)

    return restart, block


#: T.81 B.1.1.3 frame markers → (entropy layer, progressive). ``None``
#: marks the differential-hierarchy and lossless-arithmetic
#: processes: NotImplementedError, so the codec-hook chain can claim
#: them.
_JPEG_PROCESSES = {
    0xC0: ("huffman", False), 0xC1: ("huffman", False),
    0xC2: ("huffman", True), 0xC3: ("lossless", False),
    0xC9: ("arith", False), 0xCA: ("arith", True),
    **dict.fromkeys((0xC5, 0xC6, 0xC7, 0xCB, 0xCD, 0xCE, 0xCF)),
}


def _qtable(qt: dict, tq: int) -> "np.ndarray":
    if tq not in qt:
        raise ValueError(
            "JPEG component references undefined quantization table"
        )
    return qt[tq]


def _frame_header(process, data: bytes) -> tuple:
    """SOFn (T.81 B.2.2) of a process (entropy layer, progressive):
    (layer, progressive, precision, ih, iw, [(cid, h, v, tq)])."""
    if process is None:
        raise NotImplementedError(
            "differential-hierarchy/lossless-arithmetic JPEG "
            "needs the codec plug-in"
        )
    layer, progressive = process
    prec, ih, iw, nc = struct.unpack(">BHHB", data[:6])
    if layer == "lossless" and not 2 <= prec <= 16:
        raise ValueError(f"invalid lossless precision {prec}")
    if layer != "lossless" and prec not in (8, 12):
        raise NotImplementedError(f"{prec}-bit JPEG needs the codec plug-in")
    comps = []
    for c in range(nc):
        cid, hv, tq = data[6 + 3 * c:9 + 3 * c]
        if layer == "lossless" and hv != 0x11:
            raise NotImplementedError(
                "subsampled lossless JPEG needs the plug-in"
            )
        if not (1 <= hv >> 4 <= 4 and 1 <= (hv & 15) <= 4):
            raise ValueError("JPEG sampling factors out of range")
        comps.append((cid, hv >> 4, hv & 15, tq))
    return layer, progressive, prec, ih, iw, comps


def _scan_header(frame: tuple, data: bytes) -> SimpleNamespace:
    """SOS (T.81 B.2.3) checked against its frame: the scan's
    [(cid, Td, Ta)] and Ss/Se/Ah/Al (Ss is the lossless predictor, Al
    its point transform), as the namespace an entropy layer opens."""
    layer, progressive, prec, _, _, comps = frame
    ns = data[0]
    scan = [(data[1 + 2 * i], data[2 + 2 * i] >> 4, data[2 + 2 * i] & 15)
            for i in range(ns)]
    ss, se = data[1 + 2 * ns], data[2 + 2 * ns]
    ah, al = data[3 + 2 * ns] >> 4, data[3 + 2 * ns] & 15
    if layer == "lossless" and not 1 <= ss <= 7:
        raise ValueError(f"invalid lossless predictor {ss}")
    known = {c[0] for c in comps}
    if any(cid not in known for cid, _, _ in scan):
        raise ValueError("JPEG scan references unknown component")
    if progressive:
        # G.1.1.1.1: a DC scan (Ss=0) carries Se=0; an AC scan has
        # 1 <= Ss <= Se <= 63 and ONE component — malformed headers
        # raise instead of quietly reading a DC-only scan or an empty
        # band out of the stream
        if ss == 0 and se != 0:
            raise ValueError("progressive DC scan requires Se=0 (T.81 G.1)")
        if ss > 0 and not ss <= se <= 63:
            raise ValueError("progressive AC scan needs 1 <= Ss <= Se <= 63")
        if ss > 0 and ns != 1:
            raise ValueError("progressive AC scan with >1 component")
    elif layer == "arith" and (ss, se, ah, al) != (0, 63, 0, 0):
        raise ValueError(
            "sequential arithmetic scan with progressive spectral parameters"
        )
    return SimpleNamespace(comps=scan, ss=ss, se=se, ah=ah, al=al,
                           progressive=progressive, prec=prec)


def _decode_jpeg_frames(payload: bytes, processes: dict) -> "np.ndarray":
    """The decoder skeleton behind :func:`decode_jpeg` and
    ``jpeg_arith.decode_jpeg_arith``; ``processes`` maps the frame
    markers it accepts to their (entropy layer, progressive) — any
    other frame marker is skipped."""
    if not payload or payload[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG payload")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffTable] = {}
    dac: dict[tuple[int, int], object] = {}  # (Tc, Tb) → conditioning
    frame = None  # (layer, progressive, precision, ih, iw, comps)
    restart = 0
    store = None  # per component: zigzag coefficients or samples
    quant: dict[int, np.ndarray] = {}
    decoded: set[int] = set()
    saw_eoi = False
    pt = 0
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may pad a marker
        while pos + 2 <= len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        m = payload[pos + 1]
        if m == 0xD9:  # EOI
            saw_eoi = True
            break
        (ln,) = struct.unpack(">H", payload[pos + 2:pos + 4])
        data = payload[pos + 4:pos + 2 + ln]
        pos += 2 + ln
        if m == 0xDB:  # DQT (possibly several tables per segment)
            i = 0
            while i < len(data):
                wide = bool(data[i] >> 4)  # Pq=1: 16-bit entries
                qt[data[i] & 15] = np.frombuffer(
                    data[i + 1:i + 65 + 64 * wide], ">u2" if wide else np.uint8
                ).astype(np.int64)
                i += 65 + 64 * wide
        elif m == 0xC4:  # DHT
            i = 0
            while i < len(data):
                bits = list(data[i + 1:i + 17])
                nv = sum(bits)
                huff[(data[i] >> 4, data[i] & 15)] = _HuffTable(
                    bits, list(data[i + 17:i + 17 + nv])
                )
                i += 17 + nv
        elif m == 0xCC:  # DAC: arithmetic conditioning (B.2.4.3)
            i = 0
            while i + 1 < len(data):
                tc, tb, val = data[i] >> 4, data[i] & 15, data[i + 1]
                if tc == 0:
                    if val & 15 > val >> 4:
                        raise ValueError("DAC DC conditioning L > U")
                    dac[(0, tb)] = (val & 15, val >> 4)
                else:
                    if not 1 <= val <= 63:
                        raise ValueError("DAC AC Kx out of range")
                    dac[(1, tb)] = val
                i += 2
        elif m in processes:  # SOFn
            frame = _frame_header(processes[m], data)
        elif m == 0xDD:  # DRI (may be redefined between scans)
            (restart,) = struct.unpack(">H", data[:2])
        elif m == 0xDA:  # SOS — decode this scan, keep walking
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            layer, _, _, ih, iw, comps = frame
            sc = _scan_header(frame, data)
            sc.segments, pos = _entropy_segments(payload, pos)
            unit = 1 if layer == "lossless" else 8
            if store is None:
                # one cell per block (8×8 zigzag coefficients) or sample
                # of the frame's MCU-padded grid
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                rows, cols = _ceil(ih, unit * vmax), _ceil(iw, unit * hmax)
                cell = () if unit == 1 else (64,)
                store = {
                    cid: np.zeros((rows * v, cols * hh) + cell, np.int64)
                    for cid, hh, v, _ in comps
                }
            sc.huff, sc.dac, sc.store = huff, dac, store
            if layer == "huffman":
                open_scan = _huffman_scan
            elif layer == "lossless":
                open_scan = _lossless_scan
            else:
                from ceres_spark.operators.jpeg_arith import (
                    _arith_scan as open_scan,
                )
            on_restart, block = open_scan(sc)
            cids = [cid for cid, _, _ in sc.comps]
            if unit == 8 and not sc.progressive:
                # sequential: the table in force at the component's scan
                tqs = {c[0]: c[3] for c in comps}
                for cid in cids:
                    quant[cid] = _qtable(qt, tqs[cid])
            _walk_scan(comps, ih, iw, cids, restart, on_restart, block, unit)
            decoded.update(cids)
            pt = sc.al  # lossless: the point transform undone at the end
    if frame is None or store is None:
        raise ValueError("missing SOF/SOS in JPEG stream")
    if not saw_eoi:
        # the loop needs marker+length lookahead (pos+4), so a
        # trailing EOI — two bytes, no length field — exits the loop
        # unseen; recognize it (plus optional 0xFF fill bytes) here
        t = payload[pos:]
        while len(t) >= 3 and t[0] == 0xFF and t[1] == 0xFF:
            t = t[1:]
        saw_eoi = t[:2] == b"\xff\xd9"
    if not saw_eoi:
        # T.81 requires EOI; without it a truncation that removed
        # whole trailing scans (progressive refinements, later
        # components) would decode silently coarse/partial (codec
        # contract clause 4)
        raise ValueError("JPEG stream ended without EOI")
    layer, progressive, prec, ih, iw, comps = frame
    if decoded != {cid for cid, *_ in comps}:
        raise ValueError(
            "JPEG stream ended before all components were decoded"
        )
    if layer == "lossless":
        return _lossless_pixels(store, comps, prec, pt)
    tables = {
        cid: quant[cid] if cid in quant else _qtable(qt, tq)
        for cid, _, _, tq in comps
    }
    return _dct_pixels(store, comps, tables, prec, ih, iw,
                       matmul=layer == "huffman" and not progressive)


def _dct_pixels(coefs, comps, tables, prec, ih, iw,
                matmul: bool) -> "np.ndarray":
    """The DCT processes' one epilogue: per component dequantize,
    de-zigzag and a batched IDCT over the whole coefficient store,
    replication upsampling to the frame's hmax×vmax grid, 12-bit
    reduced to the 8-bit domain, then YCbCr→RGB (gray replicated to 3
    channels, the decode_real contract)."""
    C = _dct_matrix()
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    full = {}
    for cid, hh, v, _ in comps:
        if hmax % hh or vmax % v:
            raise NotImplementedError(
                "fractional JPEG sampling ratios need the codec plug-in"
            )
        zz = coefs[cid] * tables[cid][None, None, :]
        nat = np.zeros_like(zz)
        nat[:, :, _ZIGZAG] = zz  # de-zigzag all blocks at once
        bh, bw = nat.shape[:2]
        f = nat.reshape(bh * bw, 8, 8).astype(np.float64)
        # the two IDCT spellings round apart in the last ulp, which
        # flips a pixel sitting on an exact .5 tie: Huffman sequential
        # takes the matmul and the other DCT processes the einsum, the
        # pixels tests/test_jpeg_golden.py pins for each
        idct = (C.T @ f @ C if matmul
                else np.einsum("ij,njk,kl->nil", C.T, f, C))
        px = idct + float(1 << (prec - 1))  # level shift 2^(P-1)
        plane = px.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(
            bh * 8, bw * 8
        )
        p = np.repeat(np.repeat(plane, vmax // v, axis=0), hmax // hh, axis=1)
        # 12-bit frames reduce to the 8-bit domain here (÷2^(P−8), the
        # strip-high-bits rule) so the shared YCbCr→RGB stays 128-centered
        full[cid] = p[:ih, :iw] / float(1 << (prec - 8))
    if len(comps) == 1:
        g = np.clip(np.round(full[comps[0][0]]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    if len(comps) != 3:
        raise NotImplementedError("CMYK/unknown JPEG needs the plug-in")
    yy = full[comps[0][0]]
    cb = full[comps[1][0]] - 128.0
    cr = full[comps[2][0]] - 128.0
    rgb = np.stack(
        [yy + 1.402 * cr,
         yy - 0.344136 * cb - 0.714136 * cr,
         yy + 1.772 * cb],
        axis=2,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


@_loud_corruption("JPEG")
def decode_jpeg(payload: bytes) -> "np.ndarray":
    """Decode a JPEG to (h, w, 3) uint8 with stdlib + numpy only
    (grayscale replicated to 3 channels, the decode_real contract).

    One skeleton serves every built-in process: it walks the markers
    and parses DQT/DHT/DAC/SOF/DRI/SOS once, validates each scan
    header (T.81 G.1 bands included), de-stuffs the scan's entropy
    bytes and splits them at RSTn, and walks its blocks in A.2 order
    (interleaved MCUs over the frame's hmax×vmax grid, or one
    component's own ceil(dim/8) grid) through :func:`_walk_scan`. Each
    scan's blocks go to its frame's entropy layer:

    - Huffman sequential and progressive — SOF0/SOF1/SOF2, 8- and
      12-bit (:func:`_huffman_scan`);
    - arithmetic (QM-coder) sequential and progressive — SOF9/SOF10,
      8- and 12-bit, DAC conditioning (``jpeg_arith._arith_scan``);
    - lossless DPCM — SOF3, precision 2..16, predictors 1..7, point
      transform (:func:`_lossless_scan`).

    The DCT layers fill one zigzag coefficient store, and after EOI
    one epilogue (:func:`_dct_pixels`) dequantizes, runs a batched
    IDCT, upsamples, reduces 12-bit to 8 and converts YCbCr→RGB.
    Lossless components come back as RGB directly (the DNG/raw
    convention): P>8 stripped to the top byte, P<8 scaled by
    255/(2^P−1).

    Damage is loud (codec contract clause 4): a missing EOI, an
    undecoded component, a cut entropy segment or a malformed header
    raises ``ValueError``. The differential-hierarchy (SOF5-7,
    SOF13-15) and lossless-arithmetic (SOF11) processes, fractional
    sampling ratios and CMYK raise ``NotImplementedError`` so the
    codec-hook chain can claim them. Per-block Python loops suit
    fixture-scale payloads; a production deployment registers a
    native codec for bulk JPEG (the plug-in path)."""
    return _decode_jpeg_frames(payload, _JPEG_PROCESSES)


# ------------------------------------------- JPEG lossless (Annex H)
# Predictive DPCM, no DCT/quantization — the compression inside DNG
# and several camera-raw containers, so a multimodal pipeline
# ingesting raws actually meets SOF3.


def _lossless_predict(
    plane: "np.ndarray", y: int, x: int, sel: int, default: int
) -> int:
    """T.81 H.1.2.1 prediction for sample (y, x): a=left, b=above,
    c=above-left; first sample → ``default`` (2^(P-Pt-1)), rest of
    the first line → a, first column → b."""
    if y == 0:
        return int(plane[0, x - 1]) if x else default
    if x == 0:
        return int(plane[y - 1, 0])
    a = int(plane[y, x - 1])
    b = int(plane[y - 1, x])
    c = int(plane[y - 1, x - 1])
    return (
        a if sel == 1 else
        b if sel == 2 else
        c if sel == 3 else
        a + b - c if sel == 4 else
        a + ((b - c) >> 1) if sel == 5 else
        b + ((a - c) >> 1) if sel == 6 else
        (a + b) >> 1
    )


def _lossless_scan(sc):
    """Lossless entropy layer (T.81 Annex H), the skeleton's
    (restart, block) pair over the sample store: Huffman-coded DPCM
    residuals (categories 0..16, category 16 = +32768 with no
    appended bits) against the predictor Ss selects, modulo 2^16. The
    first sample of each component in the scan and in every restart
    segment is predicted from 2^(P-Pt-1) (H.2.2)."""
    sel, planes = sc.ss, sc.store
    tabs, _ = _huff_tables(sc, True, False)
    br = _BitReader(sc.segments)
    default = 1 << (sc.prec - sc.al - 1)
    fresh = {cid for cid, _, _ in sc.comps}

    def restart(k):
        br.next_segment()
        fresh.update(cid for cid, _, _ in sc.comps)

    def block(cid, y, x):
        if cid in fresh:
            px = default
            fresh.discard(cid)
        else:
            px = _lossless_predict(planes[cid], y, x, sel, default)
        s = br.read_symbol(tabs[cid])
        if s > 16:  # H.1.2.2 category cap
            raise ValueError("JPEG DC size out of range")
        diff = 32768 if s == 16 else _extend(br.read_bits(s), s) if s else 0
        planes[cid][y, x] = (px + diff) & 0xFFFF

    return restart, block


def _lossless_pixels(planes, comps, prec: int, pt: int) -> "np.ndarray":
    """Lossless epilogue: undo the point transform, strip P>8 to the
    top byte (the encoder twin widens by pure left-shift, so
    strip∘widen is the identity and 8-bit roundtrips are exact),
    scale P<8 by 255/(2^P−1). 3-component lossless carries no
    mandated colour transform — components are RGB directly."""
    out = []
    for cid, *_ in comps:
        v = (planes[cid] << pt) & 0xFFFF
        if prec > 8:
            v = v >> (prec - 8)
        elif prec < 8:
            v = (v * 255) // ((1 << prec) - 1)
        out.append(np.clip(v, 0, 255).astype(np.uint8))
    if len(out) == 1:
        return np.repeat(out[0][:, :, None], 3, axis=2)
    if len(out) != 3:
        raise NotImplementedError(
            "n-component lossless JPEG needs the plug-in"
        )
    return np.stack(out, axis=2)


def encode_jpeg_lossless(
    arr: "np.ndarray",
    predictor: int = 4,
    precision: int = 8,
    point_transform: int = 0,
    interleaved: bool = True,
    restart_interval: int = 0,
) -> bytes:
    """Lossless JPEG encoder (SOF3) — the fixture/roundtrip twin of
    :func:`decode_jpeg`'s lossless process: (h, w, 3) RGB or (h, w)
    grayscale uint8, widened to ``precision`` bits by pure left-shift
    (so the decoder's top-byte strip inverts it exactly and 8-bit
    roundtrips are bit-identical — LOSSLESS end to end). Ships the
    flat 17-symbol DC table (Annex K defines no category-12..16 codes
    — the same why-custom-DHT story as the progressive AC table).
    ``predictor`` ∈ 1..7, ``point_transform`` shifts samples right
    before coding (decoder shifts back), ``interleaved`` picks one
    3-component sample-interleaved scan vs one scan per component,
    ``restart_interval`` emits DRI + RSTn every r samples/MCUs with
    scan-start prediction resets."""
    if not 1 <= int(predictor) <= 7:
        raise ValueError("predictor must be 1..7")
    if not 8 <= int(precision) <= 16:
        raise ValueError("precision must be 8..16 for the twin")
    pt = int(point_transform)
    if not 0 <= pt < precision:
        raise ValueError("point_transform out of range")
    gray = arr.ndim == 2
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if gray:
        chans = [a]
    elif a.ndim == 3 and a.shape[2] == 3:
        chans = [a[:, :, i] for i in range(3)]
    else:
        raise ValueError(
            "encode_jpeg_lossless expects (h, w, 3) or (h, w) uint8"
        )
    h, w = chans[0].shape
    prec = int(precision)
    samples = {
        i + 1: (c.astype(np.int64) << (prec - 8)) >> pt
        for i, c in enumerate(chans)
    }
    comps = [(cid, 1, 1, 0) for cid in samples]
    default = 1 << (prec - pt - 1)
    sel = int(predictor)
    enc = _huff_encode_table(*_HUFF_DC_LOSSLESS)

    def segment(sc):
        bw, fresh = _BitWriter(), {c[0] for c in sc}

        def block(cid, y, x):
            plane = samples[cid]
            if cid in fresh:
                px = default
                fresh.discard(cid)
            else:
                px = _lossless_predict(plane, y, x, sel, default)
            d = (int(plane[y, x]) - px) & 0xFFFF
            if d == 32768:  # category 16: no appended bits
                bw.put(*enc[16])
            else:
                _put_dc(bw, enc, d - 65536 if d > 32768 else d)

        return block, bw.flush

    groups = [comps] if gray or interleaved else [[c] for c in comps]
    coded = [
        (g, sel, 0, pt, _code_scan(
            comps, h, w, [c[0] for c in g], restart_interval,
            functools.partial(segment, g), unit=1,
        ))
        for g in groups
    ]
    return _jpeg_file(b"", _sof(0xC3, prec, h, w, comps),
                      _dht(0, 0, _HUFF_DC_LOSSLESS), restart_interval, coded)


# --------------------------------------------------------- FLAC
# Pure stdlib+numpy FLAC codec (RFC 9639 / xiph spec — public).
# Decoder covers the full baseline surface: CONSTANT / VERBATIM /
# FIXED(0-4) / LPC subframes, Rice residual partitions (4- and 5-bit
# params, escape codes), wasted bits, and all four stereo
# assignments (independent, left/side, right/side, mid/side). The
# encoder is the fixture/roundtrip twin: FIXED predictors with
# per-subframe order search + Rice coding — LOSSLESS, so
# decode(encode(x)) == x exactly.

_CRC8_TBL = None
_CRC16_TBL = None


def _crc_tables():
    global _CRC8_TBL, _CRC16_TBL
    if _CRC8_TBL is None:
        t8 = []
        for b in range(256):
            c = b
            for _ in range(8):
                c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
            t8.append(c)
        t16 = []
        for b in range(256):
            c = b << 8
            for _ in range(8):
                c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
            t16.append(c)
        _CRC8_TBL, _CRC16_TBL = t8, t16
    return _CRC8_TBL, _CRC16_TBL


def _crc8(data: bytes) -> int:
    t8, _ = _crc_tables()
    c = 0
    for b in data:
        c = t8[c ^ b]
    return c


def _crc16(data: bytes) -> int:
    _, t16 = _crc_tables()
    c = 0
    for b in data:
        c = ((c << 8) & 0xFFFF) ^ t16[((c >> 8) ^ b) & 0xFF]
    return c


class _MSBWriter:
    """MSB-first bit packer (FLAC's bit order)."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, bits: int) -> None:
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.n += bits
        while self.n >= 8:
            self.buf.append((self.acc >> (self.n - 8)) & 0xFF)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def put_unary(self, q: int) -> None:
        while q >= 32:
            self.put(0, 32)
            q -= 32
        self.put(1, q + 1)  # q zeros then a one

    def align(self) -> None:
        if self.n:
            self.put(0, 8 - self.n)

    def bytes(self) -> bytes:
        assert self.n == 0
        return bytes(self.buf)


class _MSBReader:
    """MSB-first bit reader for the FLAC paths.

    Optimization r13 (guide §4.2, same treatment as the JPEG
    ``_BitReader``): position is one bit offset; ``take`` slices the
    needed bytes and extracts in a single ``int.from_bytes`` instead
    of a per-bit loop (was ~55% of FLAC decode kernel time — 1.7M
    per-bit ``take`` calls on the sf0.1 audio corpus), and
    ``take_unary`` scans zeros a byte-window at a time via
    ``bit_length``. Integer-exact, so bit-identical; reading past the
    end still raises ValueError (codec contract clause 4)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.bp = pos * 8
        self.nbits = 8 * len(data)

    @property
    def byte(self) -> int:
        """Current byte offset (callers read it only byte-aligned)."""
        return self.bp >> 3

    def take(self, bits: int) -> int:
        bp = self.bp
        end = bp + bits
        if end > self.nbits:
            # damaged payloads surface as ValueError (the codec
            # contract clause 4, docs/CODECS.md), never IndexError
            raise ValueError("truncated FLAC bitstream")
        b0 = bp >> 3
        b1 = (end + 7) >> 3
        chunk = int.from_bytes(self.data[b0:b1], "big")
        self.bp = end
        return (chunk >> ((b1 << 3) - end)) & ((1 << bits) - 1)

    def take_signed(self, bits: int) -> int:
        v = self.take(bits)
        return v - (1 << bits) if v >= (1 << (bits - 1)) else v

    def take_unary(self) -> int:
        data = self.data
        bp = self.bp
        nbits = self.nbits
        q = 0
        while True:
            if bp >= nbits:
                raise ValueError("truncated FLAC bitstream")
            window = data[bp >> 3] & ((1 << (8 - (bp & 7))) - 1)
            if window == 0:
                skipped = 8 - (bp & 7)
                q += skipped
                bp += skipped
                continue
            lead = (8 - (bp & 7)) - window.bit_length()
            self.bp = bp + lead + 1
            return q + lead

    def align(self) -> None:
        if self.bp & 7:
            self.bp = (self.bp | 7) + 1


def _utf8_code(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame index)."""
    if n < 0x80:
        return bytes([n])
    # canonical byte count (RFC 9639 / UTF-8): k continuation bytes
    # carry 6+5k payload bits, so k is the MINIMAL count with
    # n < 2**(6+5k) — one extra continuation (overlong form) makes
    # strict decoders reject frames past the 127th (ADVICE r5)
    out, bits = [], 6
    while n >> bits and bits < 36:
        bits += 5
    nbytes = (bits - 6) // 5
    lead = (0xFF << (7 - nbytes)) & 0xFF
    out.append(lead | (n >> (6 * nbytes)) & ((1 << (6 - nbytes)) - 1))
    for i in range(nbytes - 1, -1, -1):
        out.append(0x80 | ((n >> (6 * i)) & 0x3F))
    return bytes(out)


def _utf8_decode(r: "_MSBReader") -> int:
    b0 = r.take(8)
    if b0 < 0x80:
        return b0
    n_follow = 0
    mask = 0x40
    while b0 & mask:
        n_follow += 1
        mask >>= 1
    v = b0 & (mask - 1)
    for _ in range(n_follow):
        v = (v << 6) | (r.take(8) & 0x3F)
    return v


_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _zigzag(v: "np.ndarray") -> "np.ndarray":
    return np.where(v >= 0, v.astype(np.int64) * 2, -2 * v.astype(np.int64) - 1)


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def encode_flac(
    samples: "np.ndarray", rate: int = 44100, block_size: int = 4096
) -> bytes:
    """FLAC encoder for int16 PCM ((frames,) mono or (frames, ch) up
    to 2 channels): independent channels, FIXED predictor per
    subframe (order 0-2 chosen by residual magnitude), single-
    partition Rice residual with a near-optimal parameter — a small
    but fully CONFORMANT encoder (CRCs, STREAMINFO, UTF-8 frame
    numbers), and exactly lossless."""
    if samples.ndim == 1:
        samples = samples[:, None]
    if samples.dtype != np.int16 or samples.shape[1] not in (1, 2):
        raise ValueError("encode_flac expects int16 (frames[, 1|2ch])")
    nfr, nch = samples.shape
    bps = 16

    out = bytearray(b"fLaC")
    si = _MSBWriter()
    si.put(block_size, 16)
    si.put(block_size, 16)
    si.put(0, 24)
    si.put(0, 24)
    si.put(rate, 20)
    si.put(nch - 1, 3)
    si.put(bps - 1, 5)
    si.put(nfr, 36)
    sib = si.bytes() if si.n == 0 else None
    if sib is None:
        si.align()
        sib = si.bytes()
    out += bytes([0x80]) + len(sib + b"\x00" * 16).to_bytes(3, "big")
    out += sib + b"\x00" * 16  # md5 unset (0 = not provided)

    frame_no = 0
    for start in range(0, nfr, block_size):
        blk = samples[start:start + block_size]
        n = len(blk)
        hdr = _MSBWriter()
        hdr.put(0b11111111111110, 14)
        hdr.put(0, 1)   # reserved
        hdr.put(0, 1)   # fixed blocksize strategy
        hdr.put(0b0111, 4)   # block size: get 16 bit (n-1) at end
        hdr.put(0b0000, 4)   # sample rate: from STREAMINFO
        hdr.put(nch - 1, 4)  # independent channels
        hdr.put(0b100, 3)    # 16 bps
        hdr.put(0, 1)
        hdr.align()
        head = hdr.bytes() + _utf8_code(frame_no)
        head += struct.pack(">H", n - 1)
        head += bytes([_crc8(head)])

        body = _MSBWriter()
        for c in range(nch):
            x = blk[:, c].astype(np.int64)
            best, best_cost = 0, None
            for order in (0, 1, 2):
                if n <= order:
                    continue
                res = x.copy()
                for _ in range(order):
                    res = np.diff(res)
                cost = int(np.abs(res).sum())
                if best_cost is None or cost < best_cost:
                    best, best_cost = order, cost
            order = best
            res = x.copy()
            for _ in range(order):
                res = np.diff(res)
            body.put(0, 1)           # padding
            body.put(8 + order, 6)   # FIXED, order
            body.put(0, 1)           # no wasted bits
            for w in x[:order]:
                body.put(int(w) & 0xFFFF, bps)
            # residual: rice method 0, partition order 0
            body.put(0, 2)
            body.put(0, 4)
            zz = _zigzag(res)
            mean = max(float(zz.mean()) if len(zz) else 0.0, 0.0)
            p = 0
            while (1 << (p + 1)) < mean + 1 and p < 14:
                p += 1
            body.put(p, 4)
            # one fused put per residual (r13 §4.2): q unary zeros,
            # the stop 1, then the p low bits as a single
            # (q+1+p)-bit field — byte-identical bitstream, half the
            # bit-writer calls
            put = body.put
            mask = (1 << p) - 1
            for u in zz.tolist():
                put((1 << p) | (u & mask), (u >> p) + 1 + p)
        body.align()
        bb = body.bytes()
        frame = head + bb
        out += frame + struct.pack(">H", _crc16(frame))
        frame_no += 1
    return bytes(out)


@_loud_corruption("FLAC")
def decode_flac(payload: bytes):
    """Decode FLAC to (frames, channels) int16 + rate with stdlib +
    numpy only: Rice-coded residuals (4/5-bit params, escapes),
    CONSTANT/VERBATIM/FIXED/LPC subframes, wasted bits, and the four
    stereo decorrelation modes. >16-bit depth raises
    NotImplementedError for the codec plug-in chain (same loud-gap
    contract as progressive JPEG)."""
    if not payload or payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    sinfo = None
    last = 0
    while pos + 4 <= len(payload):
        hdr = payload[pos]
        last = hdr & 0x80
        btype = hdr & 0x7F
        ln = int.from_bytes(payload[pos + 1:pos + 4], "big")
        if pos + 4 + ln > len(payload):
            # truncated block body: ValueError (not IndexError) so
            # decode_real's hook-routing except clause applies
            raise ValueError("truncated FLAC metadata")
        if btype == 0:
            r = _MSBReader(payload, pos + 4)
            r.take(16); r.take(16); r.take(24); r.take(24)
            rate = r.take(20)
            nch = r.take(3) + 1
            bps = r.take(5) + 1
            total = r.take(36)
            sinfo = (rate, nch, bps, total)
        pos += 4 + ln
        if last:
            break
    if not last:
        raise ValueError("truncated FLAC metadata")
    if sinfo is None:
        raise ValueError("FLAC stream without STREAMINFO")
    rate, nch, bps, total = sinfo
    if bps > 16:
        raise NotImplementedError(
            ">16-bit FLAC needs the codec plug-in"
        )

    chans = [[] for _ in range(nch)]
    while pos < len(payload) - 1:
        r = _MSBReader(payload, pos)
        sync = r.take(14)
        if sync != 0b11111111111110:
            raise ValueError("bad FLAC frame sync")
        r.take(1)
        r.take(1)
        bs_code = r.take(4)
        sr_code = r.take(4)
        ch_code = r.take(4)
        ss_code = r.take(3)
        r.take(1)
        _utf8_decode(r)
        if bs_code == 0b0110:
            n = r.take(8) + 1
        elif bs_code == 0b0111:
            n = r.take(16) + 1
        elif bs_code == 1:
            n = 192
        elif 2 <= bs_code <= 5:
            n = 576 << (bs_code - 2)
        else:
            n = 256 << (bs_code - 8)
        if sr_code == 0b1100:
            r.take(8)
        elif sr_code in (0b1101, 0b1110):
            r.take(16)
        r.take(8)  # crc-8 (not re-verified — our own writer)

        if ch_code < 8:
            n_sub = ch_code + 1
        else:
            n_sub = 2  # stereo decorrelation modes

        subs = []
        for s in range(n_sub):
            sbps = bps
            # side channel carries one extra bit
            if (ch_code == 8 and s == 1) or (ch_code == 9 and s == 0) \
                    or (ch_code == 10 and s == 1):
                sbps += 1
            r.take(1)
            t = r.take(6)
            wasted = 0
            if r.take(1):
                wasted = 1 + r.take_unary()
            eff = sbps - wasted
            if t == 0:  # CONSTANT
                v = r.take_signed(eff)
                x = np.full(n, v, dtype=np.int64)
            elif t == 1:  # VERBATIM
                x = np.array(
                    [r.take_signed(eff) for _ in range(n)], dtype=np.int64
                )
            elif 8 <= t <= 12 or t >= 32:  # FIXED / LPC
                order = (t - 8) if t <= 12 else (t & 0x1F) + 1
                warm = [r.take_signed(eff) for _ in range(order)]
                if t >= 32:
                    prec = r.take(4) + 1
                    shift = r.take_signed(5)
                    coefs = [r.take_signed(prec) for _ in range(order)]
                else:
                    coefs = _FIXED_COEFS[order]
                    shift = 0
                # residual
                method = r.take(2)
                if method > 1:
                    raise ValueError("reserved residual method")
                pbits = 4 if method == 0 else 5
                po = r.take(4)
                res = []
                nparts = 1 << po
                for part in range(nparts):
                    cnt = (n >> po) - (order if part == 0 else 0)
                    param = r.take(pbits)
                    if param == (1 << pbits) - 1:  # escape: raw
                        raw_bits = r.take(5)
                        for _ in range(cnt):
                            res.append(
                                r.take_signed(raw_bits) if raw_bits else 0
                            )
                    else:
                        # fused Rice loop (r13 §4.2): unary scan +
                        # param bits + unzigzag inlined over local
                        # state — 3 method calls per residual was the
                        # remaining FLAC hot spot (1.7M residuals per
                        # sf0.1 corpus pass). Same bit math as
                        # take_unary/take/_unzigzag, bit-identical.
                        data = r.data
                        bp = r.bp
                        nbits = r.nbits
                        app = res.append
                        for _ in range(cnt):
                            q = 0
                            while True:
                                if bp >= nbits:
                                    raise ValueError(
                                        "truncated FLAC bitstream"
                                    )
                                rem = 8 - (bp & 7)
                                window = data[bp >> 3] & ((1 << rem) - 1)
                                if window == 0:
                                    q += rem
                                    bp += rem
                                    continue
                                lead = rem - window.bit_length()
                                q += lead
                                bp += lead + 1
                                break
                            if param:
                                end = bp + param
                                if end > nbits:
                                    raise ValueError(
                                        "truncated FLAC bitstream"
                                    )
                                b1 = (end + 7) >> 3
                                chunk = int.from_bytes(
                                    data[bp >> 3:b1], "big"
                                )
                                u = (q << param) | (
                                    (chunk >> ((b1 << 3) - end))
                                    & ((1 << param) - 1)
                                )
                                bp = end
                            else:
                                u = q
                            app((u >> 1) ^ -(u & 1))
                        r.bp = bp
                # pure-int recurrence (r13 §4.2): the numpy
                # slice-reverse-multiply-sum per SAMPLE was ~600k
                # numpy reductions per sf0.1 corpus pass; plain
                # Python ints compute the identical exact integer
                # dot (arithmetic >> matches int64 floor shift)
                xs = [int(w) for w in warm]
                cl = [int(c) for c in coefs]
                app = xs.append
                for i in range(order, n):
                    acc = 0
                    for j, c in enumerate(cl):
                        acc += c * xs[i - 1 - j]
                    app((acc >> shift) + res[i - order])
                x = np.array(xs, dtype=np.int64)
            else:
                raise ValueError(f"reserved subframe type {t}")
            if wasted:
                x = x << wasted
            subs.append(x)

        if ch_code < 8:
            for c in range(n_sub):
                chans[c].extend(subs[c].tolist())
        elif ch_code == 8:  # left/side
            left, side = subs
            chans[0].extend(left.tolist())
            chans[1].extend((left - side).tolist())
        elif ch_code == 9:  # right/side
            side, right = subs
            chans[0].extend((right + side).tolist())
            chans[1].extend(right.tolist())
        elif ch_code == 10:  # mid/side
            mid, side = subs
            left = ((mid << 1) | (side & 1)) + side
            chans[0].extend((left >> 1).tolist())
            chans[1].extend(((left >> 1) - side).tolist())
        else:
            raise ValueError(f"reserved channel assignment {ch_code}")
        r.align()
        pos = r.byte + 2  # skip crc-16

    arr = np.stack(
        [np.array(c, dtype=np.int64) for c in chans], axis=1
    )
    if total:
        if len(arr) < total:
            # STREAMINFO promised more samples — a truncation that
            # happened to cut at a frame boundary would otherwise
            # decode silently short (codec contract clause 4)
            raise ValueError(
                f"truncated FLAC stream: {len(arr)} of {total} samples"
            )
        arr = arr[:total]
    return arr.astype(np.int16), rate


#: Third-party codec hooks for containers the built-in pure-numpy
#: decoders don't handle (JPEG/PNG/MP3/H.264...). Each hook is
#: ``fn(payload: bytes, modality: str) -> decoded | None`` where
#: decoded is the decode_real contract — ("image", (h,w,3) uint8) /
#: ("audio", (frames, ch) int16, rate) / ("video", (n,h,w,3) uint8,
#: fps) — and None declines (the next hook is tried).
#:
#: Distribution contract: registration is per-Python-process, so the
#: Spark operators below snapshot the registry AT PLAN-BUILD TIME and
#: close over it — cloudpickle ships the hook functions to executor
#: workers with the UDF, exactly like any other closure. Register
#: codecs on the driver BEFORE building the extract_features /
#: frame_sample_real plan (the production JPEG path: a thin wrapper
#: around PIL/pyav registered at pipeline startup).
_CODECS: list = []


def register_codec(fn) -> None:
    """Register a third-party decode hook (see ``_CODECS``)."""
    _CODECS.append(fn)


def unregister_codec(fn) -> None:
    """Remove a previously registered decode hook."""
    _CODECS.remove(fn)


def decode_real(payload: bytes, modality: str, codecs=None):
    """Real decode: PPM (P6) and PNG images, RIFF/PCM16 WAV audio,
    and YUV4MPEG2 (C444) video via stdlib-zlib/pure-numpy header
    parse + ``frombuffer``. Returns ``("image", (h,w,3) uint8)``,
    ``("audio", (frames, ch) int16, rate)``, or ``("video",
    (n,h,w,3) uint8 YUV, fps)``. Other compressed containers (JPEG/
    MP3/H.264) are routed to the registered codec hooks (``codecs``
    overrides the module registry — the Spark operators pass their
    build-time snapshot); with no hook willing, raises
    ``NotImplementedError`` so the gap is loud, never garbled."""
    head = (payload or b"")[:12]
    hooks = _CODECS if codecs is None else codecs
    try:
        if head[:2] == b"P6":
            return ("image", decode_ppm(payload))
        if head[:8] == b"\x89PNG\r\n\x1a\n":
            return ("image", decode_png(payload))
        if head[:3] == b"\xff\xd8\xff":
            return ("image", decode_jpeg(payload))
        if head[:4] == b"RIFF" and head[8:12] == b"WAVE":
            arr, rate = decode_wav(payload)
            return ("audio", arr, rate)
        if head[:4] == b"fLaC":
            arr, rate = decode_flac(payload)
            return ("audio", arr, rate)
        if head[:9] == b"YUV4MPEG2":
            frames, fps = decode_y4m(payload)
            return ("video", frames, fps)
        # (JPEG's \xff\xd8\xff prefix matched above, so a remaining
        # 0xFF + 3-sync-bits head is an MP3 frame header)
        if head[:3] == b"ID3" or (
            len(head) >= 2
            and head[0] == 0xFF
            and head[1] & 0xE0 == 0xE0
        ):
            # MP3 (ID3v2 tag or bare frame sync): the frame-header
            # CENSUS parses built-in (operators/mp3.parse_mp3 —
            # duration/bitrate manifest, no decoder), but sample
            # decode is real-codec territory — plug-in chain
            raise NotImplementedError(
                "MP3 sample decode needs a codec plug-in "
                "(register_codec); use ceres_spark.operators.mp3."
                "audio_manifest for the frame-header census"
            )
        if head[4:8] == b"ftyp":
            # ISO-BMFF (MP4/MOV): the CONTAINER parses built-in
            # (operators/mp4.parse_mp4 — manifest, sample tables,
            # keyframe offsets) but FRAME decode is real-codec
            # territory (H.264/HEVC) — plug-in chain, loud gap
            raise NotImplementedError(
                "MP4 frame decode needs a codec plug-in "
                "(register_codec); use ceres_spark.operators.mp4."
                "video_manifest for the container manifest and "
                "keyframe seek offsets"
            )
    except NotImplementedError:
        # built-in recognised the container but can't decode this
        # variant (e.g. subsampled-chroma Y4M) — a plug-in may
        for fn in hooks:
            out = fn(payload, modality)
            if out is not None:
                return out
        raise
    for fn in hooks:
        out = fn(payload, modality)
        if out is not None:
            return out
    raise NotImplementedError(
        "no built-in decoder for this container (JPEG/MP3/H.264 need "
        "a codec library — register one with register_codec); PPM, "
        "PNG, PCM16 WAV and Y4M decode for real"
    )


def real_features(payload: bytes, modality: str, codecs=None) -> list[float]:
    """FEATURE_DIM real content features from a decoded asset —
    deterministic numpy math on actual pixels/samples, the non-stub
    twin of :func:`_stub_features`.

    image: [w/4096, h/4096, mean R, mean G, mean B, overall std,
            mean luma (Rec.601), mean |horizontal gradient|] — the
            last six normalized to [0, 1] by /255.
    audio: [log10(frames)/10, rate/48000, RMS, zero-crossing rate,
            mean |x|, peak |x|, std, DC offset] — sample stats on
            [-1, 1]-scaled PCM.

    video: [n_frames/1e3, fps/60, mean Y, std Y, mean U, mean V,
            mean |temporal diff| (motion proxy), mean |horizontal
            gradient| of Y (detail proxy)] — the last six /255."""
    decoded = decode_real(payload, modality, codecs)
    if decoded[0] == "video":
        fr = decoded[1].astype(np.float64)
        fps = decoded[2]
        n = fr.shape[0]
        y = fr[..., 0]
        tdiff = (
            float(np.abs(np.diff(fr, axis=0)).mean()) if n > 1 else 0.0
        )
        grad = (
            float(np.abs(np.diff(y, axis=2)).mean())
            if n > 0 and fr.shape[2] > 1
            else 0.0
        )
        return [
            n / 1e3,
            fps / 60.0,
            float(y.mean()) / 255.0 if n else 0.0,
            float(y.std()) / 255.0 if n else 0.0,
            float(fr[..., 1].mean()) / 255.0 if n else 0.0,
            float(fr[..., 2].mean()) / 255.0 if n else 0.0,
            tdiff / 255.0,
            grad / 255.0,
        ]
    if decoded[0] == "image":
        px = decoded[1].astype(np.float64)
        h, w = px.shape[:2]
        luma = (
            0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
        )
        grad = (
            float(np.abs(np.diff(px, axis=1)).mean()) if w > 1 else 0.0
        )
        return [
            w / 4096.0,
            h / 4096.0,
            float(px[..., 0].mean()) / 255.0,
            float(px[..., 1].mean()) / 255.0,
            float(px[..., 2].mean()) / 255.0,
            float(px.std()) / 255.0,
            float(luma.mean()) / 255.0,
            grad / 255.0,
        ]
    _, arr, rate = decoded
    x = arr.astype(np.float64).mean(axis=1) / 32768.0
    n = max(len(x), 1)
    zc = float((np.diff(np.signbit(x)) != 0).sum()) / n if len(x) > 1 else 0.0
    return [
        float(np.log10(n)) / 10.0,
        rate / 48000.0,
        float(np.sqrt((x * x).mean())) if len(x) else 0.0,
        zc,
        float(np.abs(x).mean()) if len(x) else 0.0,
        float(np.abs(x).max()) if len(x) else 0.0,
        float(x.std()) if len(x) else 0.0,
        float(x.mean()) if len(x) else 0.0,
    ]


def _stub_features(payload: bytes) -> list[float]:
    """Deterministic fake feature vector from content bytes."""
    h = hashlib.sha1(payload or b"").digest()
    return [h[i] / 255.0 for i in range(FEATURE_DIM)]


def real_assets_from_documents(docs: DataFrame) -> DataFrame:
    """Build REAL decodable payloads from ``documents``: doc_id % 3
    == 0 → an image whose pixels tile the utf-8 text bytes
    (dimensions content-derived; containers cycle P6 PPM /
    lossless-compressed PNG / lossy-compressed baseline JPEG —
    PNG pixels equal the PPM twin's, JPEG pixels are near them, the
    real-world mix), == 1 → a PCM16 WAV whose
    samples map the text bytes onto the full int16 range, == 2 → a
    YUV4MPEG2 C444 video whose frames tile the text bytes (frame
    count content-derived). Deterministic, so the encode → decode →
    feature pipeline is reproducible end-to-end; one mapInPandas
    encode pass, no shuffle."""

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, modalities = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = np.frombuffer(
                    (text or " ").encode("utf-8"), dtype=np.uint8
                )
                sel = int(doc_id) % 3
                if sel == 0:
                    w = 16 + len(raw) % 17
                    h = 16 + (len(raw) * 7) % 13
                    px = np.resize(raw, (h, w, 3))
                    if int(doc_id) % 6 == 0:
                        # doc_id%12==0/6: COMPRESSED lossless (PNG,
                        # filter type cycling through all five) with
                        # pixels identical to the PPM twin — decoded
                        # features / aHash fingerprints are
                        # container-invariant and the registry
                        # entries exercise the zlib+unfilter path.
                        # r6: every 3rd PNG is Adam7-interlaced and
                        # every 4th is 16-bit (v·257 — lossless both
                        # ways). r7: two sub-cycle slots emit the
                        # sub-8-bit dialects — 4-bit grey (high
                        # nibble, left-bit-replicated on decode) and
                        # 2-bit palette — so no PNG dialect exists
                        # only in unit tests
                        k = int(doc_id) // 6
                        if k % 7 == 5:  # 4-bit greyscale, packed
                            payloads.append(encode_png_packed(
                                (px[:, :, 0] >> 4).astype(np.uint8),
                                depth=4,
                                filter_type=k % 5,
                                interlace=k % 3 == 1,
                            ))
                        elif k % 7 == 6:  # 2-bit palette, packed
                            pal = np.array(
                                [[0, 0, 0], [85, 40, 200],
                                 [170, 220, 30], [255, 255, 255]],
                                np.uint8,
                            )
                            payloads.append(encode_png_packed(
                                (px[:, :, 0] >> 6).astype(np.uint8),
                                depth=2,
                                palette=pal,
                                filter_type=k % 5,
                                interlace=k % 3 == 1,
                            ))
                        else:
                            payloads.append(encode_png(
                                px,
                                filter_type=k % 5,
                                interlace=k % 3 == 1,
                                depth=16 if k % 4 == 2 else 8,
                            ))
                    elif int(doc_id) % 12 == 9:
                        # doc_id%12==9: COMPRESSED lossy (baseline
                        # JPEG q95, cycling 4:4:4/4:2:0 and restart
                        # intervals) — pixels near but not equal to
                        # the source tile, the real-world image case;
                        # exercises huffman+IDCT+upsample+RST decode.
                        # doc_id%48==21 emits MULTI-SCAN SEQUENTIAL
                        # (one SOS per component), %48==45 emits
                        # PROGRESSIVE (SOF2, Annex G scan script) —
                        # the other two layouts real files use (r6)
                        # r7 sub-cycles: %48==33 emits LOSSLESS
                        # (SOF3, predictor cycling 1..7 — the
                        # DNG-style payload, decoded pixels EQUAL
                        # the PPM twin's), %96==9 emits 12-BIT
                        # extended sequential (SOF1, Pq=1 tables)
                        if int(doc_id) % 48 == 45:
                            jscans = "progressive"
                        elif int(doc_id) % 48 == 21:
                            jscans = "separate"
                        else:
                            jscans = "interleaved"
                        if int(doc_id) % 48 == 33:
                            payloads.append(encode_jpeg_lossless(
                                px,
                                predictor=1 + (int(doc_id) // 48) % 7,
                            ))
                        else:
                            payloads.append(encode_jpeg(
                                px,
                                quality=95,
                                subsample=1 + (int(doc_id) // 12) % 2,
                                restart_interval=0
                                if jscans == "progressive"
                                else (int(doc_id) // 24) % 3,
                                scans=jscans,
                                depth=12 if int(doc_id) % 96 == 9
                                else 8,
                            ))
                    else:
                        # doc_id%12==3: uncompressed P6 PPM
                        payloads.append(encode_ppm(px))
                    modalities.append("image")
                elif sel == 1:
                    samples = (
                        np.resize(raw, 2048).astype(np.int32) * 257
                        - 32768
                    ).astype(np.int16)
                    rate = 8000 + (len(raw) % 9) * 1000
                    if int(doc_id) % 6 == 1:
                        # doc_id%6==1: COMPRESSED LOSSLESS (FLAC) with
                        # samples identical to the WAV twin — decoded
                        # audio, features and fingerprints are
                        # container-invariant BIT-FOR-BIT (lossless),
                        # and the entries exercise the rice+predictor
                        # decode path
                        payloads.append(
                            encode_flac(
                                samples, rate=rate,
                                block_size=512 << (int(doc_id) // 6 % 3),
                            )
                        )
                    else:
                        payloads.append(encode_wav(samples, rate=rate))
                    modalities.append("audio")
                else:
                    n = 2 + len(raw) % 5
                    payloads.append(
                        encode_y4m(
                            np.resize(raw, (n, 12, 16, 3)),
                            fps_num=10 + len(raw) % 21,
                        )
                    )
                    modalities.append("video")
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "modality": modalities,
                    "payload": payloads,
                }
            )

    # the encode pass is CPU-bound Python; a toy-scale documents
    # table arrives as 1-2 parquet row groups, which would serialize
    # the whole encode (and every downstream decode that inherits
    # this partitioning) onto 1-2 cores. spread() shuffles only
    # (doc_id, text) up to the session's core count, and SKIPS the
    # exchange at production scale where the input already has many
    # splits (guide §2.5).
    from ceres_spark.sources.tables import spread

    return spread(docs.select("doc_id", "text")).mapInPandas(
        enc,
        schema="asset_id long, modality string, payload binary",
    )


def extract_features(
    assets: DataFrame, batch_hint: int = 1024, real: bool = False
) -> DataFrame:
    """Decode/feature-extract via ``mapInPandas``: Arrow batches in,
    Arrow batches out; one Python worker per partition, no shuffle.
    ``real=True`` decodes the payload (PPM/WAV, pure numpy; other
    containers via codecs registered with :func:`register_codec` —
    snapshotted HERE at plan-build time so cloudpickle ships them to
    the workers) and computes content features; the default stub path
    hashes bytes — same plan, same schema, swappable kernel."""
    codecs = tuple(_CODECS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            if real:
                feats = [
                    real_features(b, m, codecs)
                    for b, m in zip(payloads, pdf["modality"])
                ]
            else:
                feats = payloads.map(_stub_features)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": payloads.map(
                        lambda b: len(b) if b is not None else 0
                    ).astype("int32"),
                    "content_sha1": payloads.map(
                        lambda b: hashlib.sha1(b or b"").hexdigest()
                    ),
                    "content_sha256": payloads.map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                    "features": feats,
                }
            )

    return assets.mapInPandas(run, schema=FEATURES_SCHEMA)


def frame_sample(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: explode sample timestamps from
    metadata (cheap, no decode), ready to join against a frame
    decoder. Shows the pattern: plan on metadata, decode late."""
    return assets.filter(F.col("modality") == "video").select(
        "asset_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
                F.lit(int(every_ms)),
            )
        ).alias("sample_ms"),
    )


def frame_sample_real(assets: DataFrame, every_n: int = 2) -> DataFrame:
    """Video frame-sampling made REAL: decode Y4M payloads, keep
    every ``every_n``-th frame, emit per-frame stats — the actual
    "sample frames from 100 TB of video" kernel. Decode + sample run
    in one mapInPandas pass (map-only, no shuffle; payload bytes
    never leave the task — only the small per-frame stat rows do).
    Non-Y4M containers route through the codec hooks registered with
    :func:`register_codec` (snapshotted at plan-build time)."""
    n_every = int(every_n)
    codecs = tuple(_CODECS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ys, motion = [], [], [], []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                _kind, frames, _fps = decode_real(
                    payload, "video", codecs
                )
                f = frames.astype(np.float64)
                for i in range(0, len(f), n_every):
                    ids.append(int(asset_id))
                    idxs.append(i)
                    ys.append(float(f[i, ..., 0].mean()) / 255.0)
                    motion.append(
                        float(np.abs(f[i] - f[i - 1]).mean()) / 255.0
                        if i > 0
                        else 0.0
                    )
            yield pd.DataFrame(
                {
                    "asset_id": pd.array(ids, dtype="Int64"),
                    "frame_idx": pd.array(idxs, dtype="Int64"),
                    "mean_luma": ys,
                    "motion": motion,
                }
            )

    return (
        assets.filter(F.col("modality") == "video")
        .select("asset_id", "payload")
        .mapInPandas(
            run,
            schema="asset_id long, frame_idx long, "
            "mean_luma double, motion double",
        )
    )


def resize(
    assets: DataFrame,
    target_w: int = 32,
    target_h: int = 32,
    preserve_aspect: bool = True,
) -> DataFrame:
    """Image-resize plumbing (§2.2 multimodal: decode / feature /
    **resize** / frame-sample). The geometry — fit-inside aspect
    math, even-dimension rounding — is real and computed JVM-side
    from metadata alone; the pixel resample is the stubbed decode
    step (``decode_real``), exactly like ``extract_features``: plan
    and prune on metadata, touch bytes last.

    Output carries the payload through untouched (a real kernel
    would map it batch-wise in the same mapInPandas slot), so
    downstream stages see the final schema today."""
    w, h = F.col("meta.width"), F.col("meta.height")
    if preserve_aspect:
        # scale = min(tw/w, th/h), exact in doubles for sane dims
        scale = F.least(
            F.lit(float(target_w)) / w, F.lit(float(target_h)) / h
        )
        out_w = F.greatest(F.floor(w * scale).cast("int"), F.lit(1))
        out_h = F.greatest(F.floor(h * scale).cast("int"), F.lit(1))
    else:
        scale = F.lit(None).cast("double")
        out_w, out_h = F.lit(target_w), F.lit(target_h)
    return assets.filter(F.col("modality") == "image").select(
        "asset_id",
        w.alias("in_w"),
        h.alias("in_h"),
        out_w.alias("out_w"),
        out_h.alias("out_h"),
        scale.alias("scale"),
        "payload",
    )


def _ahash64(px: "np.ndarray", hash_size: int = 8) -> int:
    """Average-hash (aHash, public perceptual-hash family): grayscale
    → hash_size² block means (deterministic integer-boundary pooling,
    no resampling library) → bit i set iff block i > global block
    mean. 64 bits at the default 8×8."""
    luma = (
        0.299 * px[..., 0].astype(np.float64)
        + 0.587 * px[..., 1].astype(np.float64)
        + 0.114 * px[..., 2].astype(np.float64)
    )
    h, w = luma.shape
    ys = np.linspace(0, h, hash_size + 1).astype(np.int64)
    xs = np.linspace(0, w, hash_size + 1).astype(np.int64)
    blocks = np.empty((hash_size, hash_size), dtype=np.float64)
    for i in range(hash_size):
        for j in range(hash_size):
            cell = luma[ys[i]:max(ys[i + 1], ys[i] + 1),
                        xs[j]:max(xs[j + 1], xs[j] + 1)]
            blocks[i, j] = cell.mean()
    bits = (blocks > blocks.mean()).ravel()
    out = 0
    for i, b in enumerate(bits):
        if b:
            out |= 1 << i
    # two's-complement into signed 64-bit (BIGINT column)
    return out - (1 << 64) if out >= (1 << 63) else out


def image_phash(assets: DataFrame, hash_size: int = 8) -> DataFrame:
    """Per-image perceptual hash — the image twin of text simhash:
    near-identical images (re-encodes, small edits, brightness-
    preserving crops) land within a few Hamming bits. Decode +
    hash run in one mapInPandas pass (map-only; payload bytes never
    leave the task). Registered codecs (see :func:`register_codec`)
    extend coverage beyond PPM.

    Output: ``asset_id, phash`` (BIGINT, hash_size² ≤ 64 bits)."""
    if int(hash_size) ** 2 > 64:
        raise ValueError("hash_size^2 must fit 64 bits")
    hs = int(hash_size)
    codecs = tuple(_CODECS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                kind_px = decode_real(payload, "image", codecs)
                ids.append(int(asset_id))
                hashes.append(_ahash64(kind_px[1], hs))
            yield pd.DataFrame(
                {
                    "asset_id": pd.array(ids, dtype="Int64"),
                    "phash": pd.array(hashes, dtype="Int64"),
                }
            )

    return (
        assets.filter(F.col("modality") == "image")
        .select("asset_id", "payload")
        .mapInPandas(run, schema="asset_id long, phash long")
    )


def reencode_images(
    assets: DataFrame, quality: int = 95
) -> DataFrame:
    """Decode each image asset and re-encode its pixels as a baseline
    JPEG twin — the real-world cross-container near-dup scenario: the
    same photograph saved once lossless and once lossy must land
    within a few aHash bits. The twin's id is ``-asset_id - 1``:
    source ids are non-negative (doc_ids), so the mirror-image id
    space is collision-free at ANY corpus size — a fixed offset would
    silently alias twins onto real assets past the offset. One
    mapInPandas pass (decode + DCT re-encode in-task, payloads never
    shuffled); registered codecs extend the decodable inputs, same
    snapshot contract as :func:`extract_features`."""
    codecs = tuple(_CODECS)
    q = int(quality)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                _, px = decode_real(bytes(payload), "image", codecs)
                ids.append(-int(asset_id) - 1)
                payloads.append(encode_jpeg(px, quality=q))
            yield pd.DataFrame(
                {
                    "asset_id": pd.array(ids, dtype="Int64"),
                    "modality": pd.array(
                        ["image"] * len(ids), dtype="str"
                    ),
                    "payload": payloads,
                }
            )

    return (
        assets.filter(F.col("modality") == "image")
        .select("asset_id", "payload")
        .mapInPandas(
            run, schema="asset_id long, modality string, payload binary"
        )
    )


def _hamming_band_pairs(
    fp: DataFrame,
    fp_col: str,
    max_hamming: int,
    allow_weak_blocking: bool = False,
) -> DataFrame:
    """Shared lossless pairing kernel for 64-bit perceptual
    fingerprints (image aHash, audio envelope hash): pigeonhole
    bit-band LSH (b = max_hamming + 1 disjoint bands — any pair
    within max_hamming agrees on ≥1 band) + exact Hamming verify.

    The bands are the blocking, so band WIDTH is the scale contract:
    64/b bits per band → ~N²/2^(64/b) random candidate pairs per
    band. At max_hamming ≤ 6 (≥ 9-bit bands) blocking is strong; past
    ~max_hamming 7 (sub-8-bit bands) the candidate set degenerates
    toward all-pairs, so large dials raise unless the caller opts in
    with ``allow_weak_blocking=True`` (fine on bounded corpora; a
    100 TB run at such dials needs a multi-probe index instead)."""
    import ceres_spark.operators.dedup as dd

    b = int(max_hamming) + 1
    if 64 // b < 8 and not allow_weak_blocking:
        raise ValueError(
            f"max_hamming={max_hamming} gives {64 // b}-bit bands — "
            "blocking degenerates toward all-pairs at scale. Lower "
            "the threshold (≤ 6) or pass allow_weak_blocking=True "
            "for a bounded corpus."
        )
    # eager localCheckpoint: the fingerprint input is the OUTPUT of a
    # full decode pipeline (Python mapInPandas passes); without a
    # materialization barrier the whole decode subtree is duplicated
    # on both sides of the band self-join below — measured as the
    # dominant cost of phash/audio_neardup (guide §3.3/§8: stage the
    # tiny signature table, self-join that). Blocks are
    # reference-counted away after driver GC (see the minhash note in
    # operators/dedup.py).
    fp = fp.localCheckpoint(eager=True)
    banded = fp.select(
        "asset_id",
        fp_col,
        F.posexplode(
            F.array(*dd.simhash_bands(F.col(fp_col), b))
        ).alias("_band", "_val"),
    )
    left = banded.select(
        F.col("asset_id").alias("asset_a"),
        F.col(fp_col).alias("_fa"),
        "_band",
        "_val",
    )
    right = banded.select(
        F.col("asset_id").alias("asset_b"),
        F.col(fp_col).alias("_fb"),
        "_band",
        "_val",
    )
    ham = F.expr("bit_count(_fa ^ _fb)")
    return (
        left.join(right, ["_band", "_val"])
        .filter(F.col("asset_a") < F.col("asset_b"))
        .select("asset_a", "asset_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= int(max_hamming))
        .distinct()
    )


def phash_pairs(
    assets: DataFrame,
    max_hamming: int = 6,
    allow_weak_blocking: bool = False,
) -> DataFrame:
    """Near-duplicate image pairs: aHash fingerprints through the
    shared band-LSH + exact-Hamming kernel (see the kernel docstring
    for the band-width scale contract behind ``allow_weak_blocking``).

    Output: ``asset_a, asset_b, hamming`` (a < b, deduped)."""
    return _hamming_band_pairs(
        image_phash(assets), "phash", max_hamming, allow_weak_blocking
    )


def _afp64(samples: "np.ndarray", n_bits: int = 64) -> int:
    """64-bit audio envelope fingerprint: mono mean → n_bits+1 equal
    time segments (deterministic integer boundaries) → RMS envelope →
    bit i = env[i+1] > env[i]. Sign-of-derivative coding is
    level-invariant (gain changes don't flip bits) — the property
    audio near-dup needs; same public family as spectral landmark
    fingerprints, reduced to the envelope so it stays numpy-only."""
    x = samples.astype(np.float64)
    mono = x.mean(axis=1) if x.ndim == 2 else x
    n = mono.shape[0]
    if n == 0:
        return 0
    bounds = np.linspace(0, n, n_bits + 2).astype(np.int64)
    env = np.empty(n_bits + 1, dtype=np.float64)
    for i in range(n_bits + 1):
        seg = mono[bounds[i]:max(bounds[i + 1], bounds[i] + 1)]
        env[i] = float(np.sqrt((seg * seg).mean()))
    out = 0
    for i in range(n_bits):
        if env[i + 1] > env[i]:
            out |= 1 << i
    return out - (1 << 64) if out >= (1 << 63) else out


def audio_fingerprint(assets: DataFrame) -> DataFrame:
    """Per-clip audio fingerprint (see :func:`_afp64`) — decode + hash
    in one mapInPandas pass, payload bytes never leave the task.
    Registered codecs extend coverage beyond PCM16 WAV.

    Output: ``asset_id, afp`` (BIGINT)."""
    codecs = tuple(_CODECS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                decoded = decode_real(payload, "audio", codecs)
                ids.append(int(asset_id))
                fps.append(_afp64(decoded[1]))
            yield pd.DataFrame(
                {
                    "asset_id": pd.array(ids, dtype="Int64"),
                    "afp": pd.array(fps, dtype="Int64"),
                }
            )

    return (
        assets.filter(F.col("modality") == "audio")
        .select("asset_id", "payload")
        .mapInPandas(run, schema="asset_id long, afp long")
    )


def audio_pairs(
    assets: DataFrame,
    max_hamming: int = 6,
    allow_weak_blocking: bool = False,
) -> DataFrame:
    """Near-duplicate audio pairs: envelope fingerprints through the
    shared band-LSH + exact-Hamming kernel (the audio member of the
    multimodal dedup trio: text simhash / image aHash / audio afp).

    Output: ``asset_a, asset_b, hamming`` (a < b, deduped)."""
    return _hamming_band_pairs(
        audio_fingerprint(assets), "afp", max_hamming, allow_weak_blocking
    )
