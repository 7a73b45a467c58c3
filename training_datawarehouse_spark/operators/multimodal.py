"""Multimodal column plumbing (charter extension).

Images / audio / video ride through the engine as opaque ``binary``
columns with typed metadata structs. ``decode_metadata`` is the one
decode crossing: a partition-preserving, Arrow-batched pass through
``functions/crossing.map_batches`` that turns (id, payload) rows into ``MEDIA_META_SCHEMA`` rows through a
per-format adapter. The adapters run real codecs that need only the
standard library and numpy: PNG (``encode_png`` / ``decode_png``: chunk
+ CRC validation, zlib inflate, all five scanline filters), WAV
(``encode_wav`` / ``decode_wav`` via the ``wave`` module), baseline JPEG
(``operators/jpeg.py``: Annex-K Huffman, FDCT/IDCT, 4:2:0 MCU
interleave), WebP-lossless (``operators/vp8l.py``) and AVI
(``operators/video.py``). Formats still needing external libraries
(lossy WebP, progressive JPEG) stay behind the
``deterministic_fake_decode`` stub, which produces stable fake metadata.

Malformed media degrades a row; it never fails the job (see
``decode_metadata``).

At 100 TB: binary payloads dominate row size, so the operators are
careful to (a) select only the needed columns into the UDF
(``map_batches`` crosses only its ``cols``), (b) never shuffle the
binary column for metadata-only outputs (project metadata first, then
aggregate), and (c) bound Arrow batch memory via
``spark.sql.execution.arrow.maxRecordsPerBatch`` for wide payloads.
"""

from __future__ import annotations

import hashlib
import struct
import wave
import zlib
from typing import Callable

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.crossing import map_batches

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: minimum Arrow-batch payload count before ``decode_metadata`` routes
#: through a decoder's vectorized ``batch`` twin (see decode_metadata)
_BATCH_DECODE_MIN = 1024

# What a real decode adapter raises on a payload its codec does not
# support or cannot parse (palette PNG, progressive JPEG, lossy WebP,
# a truncated or corrupt file). ``decode_metadata`` degrades such a row
# to the stub instead of failing the whole job from inside an executor.
_CODEC_ERRORS = (
    NotImplementedError, ValueError, EOFError,
    struct.error, zlib.error, wave.Error,
)


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9.4)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(width: int, height: int, pixels: bytes,
               filter_type: int = 0) -> bytes:
    """Minimal REAL PNG encoder: 8-bit grayscale, one IDAT, correct
    CRCs, any of the five scanline filters applied for real (so the
    decoder's un-filtering paths are exercised by round-trips)."""
    if len(pixels) != width * height:
        raise ValueError("pixels must be width*height bytes")
    if not 0 <= filter_type <= 4:
        raise ValueError("filter_type must be 0..4")
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    raw = bytearray()
    prev = np.zeros(width, dtype=np.uint8)
    for y in range(height):
        line = img[y]
        if filter_type == 0:
            filt = line
        elif filter_type == 1:   # Sub
            filt = line - np.concatenate(([0], line[:-1])).astype(np.uint8)
        elif filter_type == 2:   # Up
            filt = line - prev
        elif filter_type == 3:   # Average
            left = np.concatenate(([0], line[:-1])).astype(np.uint16)
            filt = (line - ((left + prev.astype(np.uint16)) // 2).astype(np.uint8))
        else:                    # Paeth — vectorized: predictors use
            # ORIGINAL neighbors on encode, so no serial dependency
            a = np.concatenate(([0], line[:-1])).astype(np.int16)
            b = prev.astype(np.int16)
            c = np.concatenate(([0], prev[:-1])).astype(np.int16)
            p = a + b - c
            pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
            pred = np.where((pa <= pb) & (pa <= pc), a,
                            np.where(pb <= pc, b, c)).astype(np.uint8)
            filt = line - pred
        raw.append(filter_type)
        raw.extend(filt.astype(np.uint8).tobytes())
        prev = line
    def chunk(typ: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF))
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + chunk(b"IEND", b""))


def decode_png(data: bytes) -> dict:
    """REAL PNG decoder (stdlib + numpy): validates the signature and
    every chunk CRC, parses IHDR, inflates IDAT, un-filters all five
    scanline filter types. Supports 8-bit grayscale non-interlaced
    (what this engine's synthetic corpus uses); other color types raise
    ``NotImplementedError`` — honest partial support, not a fake.
    Returns {width, height, bit_depth, color_type, pixels}."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, idat, ihdr = 8, b"", None
    while pos + 12 <= len(data):
        ln = struct.unpack(">I", data[pos:pos + 4])[0]
        typ = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + ln]
        crc = struct.unpack(">I", data[pos + 8 + ln:pos + 12 + ln])[0]
        if zlib.crc32(typ + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {typ!r} chunk")
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("missing IHDR")
    width, height, depth, ctype, comp, filt, interlace = ihdr
    if (depth, ctype, comp, filt, interlace) != (8, 0, 0, 0, 0):
        raise NotImplementedError(
            "only 8-bit grayscale non-interlaced PNGs are supported"
        )
    raw = zlib.decompress(idat)
    stride = width + 1
    if len(raw) != stride * height:
        raise ValueError("IDAT length does not match dimensions")
    out = np.zeros((height, width), dtype=np.uint8)
    prev = np.zeros(width, dtype=np.uint8)
    for y in range(height):
        ftype = raw[y * stride]
        line = np.frombuffer(raw[y * stride + 1:(y + 1) * stride], dtype=np.uint8)
        if ftype == 0:
            cur = line.copy()
        elif ftype == 1:      # Sub — cumulative left sum, mod-256 wrap
            cur = np.add.accumulate(line, dtype=np.uint8)
        elif ftype == 2:      # Up
            cur = line + prev
        elif ftype == 3:      # Average
            cur = np.empty(width, dtype=np.uint8)
            for x in range(width):
                left = int(cur[x - 1]) if x else 0
                cur[x] = (int(line[x]) + (left + int(prev[x])) // 2) & 0xFF
        elif ftype == 4:      # Paeth
            cur = np.empty(width, dtype=np.uint8)
            for x in range(width):
                a = int(cur[x - 1]) if x else 0
                b = int(prev[x])
                c = int(prev[x - 1]) if x else 0
                cur[x] = (int(line[x]) + _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"unknown filter type {ftype}")
        out[y] = cur
        prev = cur
    return {
        "width": width, "height": height, "bit_depth": depth,
        "color_type": ctype, "pixels": out.tobytes(),
    }


def encode_wav(samples: list[int], framerate: int = 8000) -> bytes:
    """REAL WAV encoder (stdlib ``wave``): mono 16-bit PCM."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(framerate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def decode_wav(data: bytes) -> dict:
    """REAL WAV decoder (stdlib ``wave``): header + PCM frames.
    Returns {n_channels, framerate, n_frames, sampwidth, pcm}."""
    import io
    import wave

    try:
        w = wave.open(io.BytesIO(data), "rb")
    except RuntimeError as e:
        # wave's chunk reader raises a bare RuntimeError when a chunk
        # size points past the end of its parent chunk
        raise wave.Error("chunk size overruns the RIFF body") from e
    with w:
        return {
            "n_channels": w.getnchannels(),
            "framerate": w.getframerate(),
            "n_frames": w.getnframes(),
            "sampwidth": w.getsampwidth(),
            "pcm": w.readframes(w.getnframes()),
        }

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("format", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("checksum", T.StringType()),
])

#: (id, payload) rows: what every ``synthesize_*_payload`` source emits
PAYLOAD_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("payload", T.BinaryType()),
])


def attach_binary_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Test/demo source: derive a deterministic binary payload from a
    text column (stands in for reading image bytes from a store)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.unhex(F.md5(F.col(text_col))).alias("payload"),
    )


def deterministic_fake_decode(payload: bytes) -> dict:
    """STUB decode for formats whose codecs need external libraries
    (lossy/extended WebP, video, progressive-JPEG — PIL/libav class
    work). PNG, WAV, baseline JPEG and WebP-LOSSLESS have REAL
    decoders (``png_decode_meta`` / ``wav_decode_meta`` /
    ``jpeg_decode_meta`` / ``webp_decode_meta``); this stub derives
    stable pseudo-metadata from the bytes so the plumbing stays
    testable for the rest.
    """
    if payload is None or len(payload) == 0:
        raise NotImplementedError("empty payload: real decoder not available")
    import hashlib

    digest = hashlib.sha256(payload).hexdigest()
    return {
        "n_bytes": len(payload),
        "format": ["png", "jpeg", "webp"][payload[0] % 3],
        "width": 64 + payload[0] % 64,
        "height": 64 + payload[min(1, len(payload) - 1)] % 64,
        "checksum": digest[:16],
    }


def _md5_dims(text: str) -> tuple[int, int, bytes]:
    """The synthesized-PNG dims rule: width/height from the first two
    md5 bytes of the text — the same bytes the SQL oracle reads, so the
    real-codec path stays differentially comparable. 16–31 px a side:
    large enough to exercise every filter path, small enough that the
    serial un-filter loops (Average/Paeth are pixel-recurrences by
    spec) stay off the query's critical path at bench scale."""
    digest = hashlib.md5(text.encode("utf-8")).digest()
    return 16 + digest[0] % 16, 16 + digest[1] % 16, digest


def synthesize_png_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Source stand-in producing REAL image bytes: a valid PNG per row
    (dims md5-derived, pixels the tiled digest, scanline filter chosen
    per-row so all five filter paths run), in place of reading image
    files from a store. One ``map_batches`` crossing; output is
    (id, payload) like ``attach_binary_payload``."""
    def gen(ids: list, texts: list) -> list:
        payloads = []
        for text in texts:
            w, h, digest = _md5_dims(text)
            n = w * h
            pixels = (digest * (n // len(digest) + 1))[:n]
            payloads.append(encode_png(w, h, pixels,
                                       filter_type=digest[2] % 5))
        return list(zip(ids, payloads))

    return map_batches(df, [id_col, text_col], PAYLOAD_SCHEMA, gen)


def png_decode_meta(payload: bytes) -> dict:
    """REAL decode adapter for ``decode_metadata``: parse the PNG
    (CRCs, inflate, un-filter), report decoded-raster size as
    ``n_bytes`` and a checksum of the reconstructed pixels — values
    that only a correct decoder can produce."""
    if payload is None or len(payload) == 0:
        raise ValueError("empty payload")
    img = decode_png(payload)
    return {
        "n_bytes": len(img["pixels"]),
        "format": "png",
        "width": img["width"],
        "height": img["height"],
        "checksum": hashlib.sha256(img["pixels"]).hexdigest()[:16],
    }


def synthesize_wav_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Source stand-in producing REAL audio bytes: a 16-bit PCM WAV per
    row (framerate/frame-count md5-derived, samples from the tiled
    digest)."""
    def gen(ids: list, texts: list) -> list:
        payloads = []
        for text in texts:
            digest = hashlib.md5(text.encode("utf-8")).digest()
            framerate = 8000 + (digest[2] % 8) * 1000
            n_frames = 256 + digest[3]
            raw = (digest * (2 * n_frames // len(digest) + 1))[: 2 * n_frames]
            samples = list(struct.unpack(f"<{n_frames}h", raw))
            payloads.append(encode_wav(samples, framerate))
        return list(zip(ids, payloads))

    return map_batches(df, [id_col, text_col], PAYLOAD_SCHEMA, gen)


def synthesize_jpeg_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Source stand-in producing REAL JPEG bytes: a valid baseline JFIF
    per row (dims md5-derived exactly like the PNG twin, pixels the
    tiled digest, alternating grayscale / YCbCr-4:2:0 layout per row so
    both MCU paths run)."""
    from . import jpeg

    def gen(ids: list, texts: list) -> list:
        items = []
        for text in texts:
            w, h, digest = _md5_dims(text)
            n = w * h
            pixels = (digest * (n // len(digest) + 1))[:n]
            items.append((w, h, pixels, bool(digest[3] % 2)))
        # r17: every image in the Arrow batch rides one entropy-
        # encode numpy pass (byte-identical to per-row encode_jpeg)
        payloads = jpeg.encode_jpeg_batch(items, quality=85)
        return list(zip(ids, payloads))

    return map_batches(df, [id_col, text_col], PAYLOAD_SCHEMA, gen)


def synthesize_webp_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Source stand-in producing REAL WebP-lossless bytes: a valid
    RIFF/VP8L file per row (dims md5-derived exactly like the PNG/JPEG
    twins, RGBA pixels the tiled digest), with the encoder's option mix
    — subtract-green transform, predictor transform mode, color cache —
    chosen per row from digest bytes so every decoder path (canonical
    prefix codes, both transforms, cache hits) runs across a corpus."""
    from . import vp8l

    def gen(ids: list, texts: list) -> list:
        payloads = []
        for text in texts:
            w, h, digest = _md5_dims(text)
            n = w * h * 4
            rgba = (digest * (n // len(digest) + 1))[:n]
            payloads.append(vp8l.encode_vp8l(
                w, h, rgba,
                subtract_green=bool(digest[4] % 2),
                predictor_mode=[None, 1, 2, 7][digest[5] % 4],
                cache_bits=[0, 6][digest[6] % 2],
            ))
        return list(zip(ids, payloads))

    return map_batches(df, [id_col, text_col], PAYLOAD_SCHEMA, gen)


def webp_decode_meta(payload: bytes) -> dict:
    """REAL decode adapter for WebP-lossless payloads: full VP8L
    decode (canonical prefix codes, color cache, inverse subtract-green
    / predictor transforms); ``n_bytes`` is the reconstructed RGBA
    raster size (4·w·h — only a correct decoder knows it) and
    ``checksum`` its hash."""
    if payload is None or len(payload) == 0:
        raise ValueError("empty payload")
    from . import vp8l

    img = vp8l.decode_vp8l(payload)
    return {
        "n_bytes": len(img["pixels"]),
        "format": "webp",
        "width": img["width"],
        "height": img["height"],
        "checksum": hashlib.sha256(img["pixels"]).hexdigest()[:16],
    }


def jpeg_decode_meta(payload: bytes) -> dict:
    """REAL decode adapter for JPEG payloads: full baseline decode
    (Huffman, dequantize, IDCT), ``n_bytes`` is the reconstructed LUMA
    raster size and ``checksum`` its hash — values only a correct
    decoder produces; width/height are the true frame dims (the SQL
    oracle checks them against the synthesis md5 rule)."""
    if payload is None or len(payload) == 0:
        raise ValueError("empty payload")
    from . import jpeg

    return _jpeg_meta(jpeg.decode_jpeg(payload))


def _jpeg_meta(img: dict) -> dict:
    return {
        "n_bytes": len(img["pixels"]),
        "format": "jpeg",
        "width": img["width"],
        "height": img["height"],
        "checksum": hashlib.sha256(img["pixels"]).hexdigest()[:16],
    }


def _jpeg_decode_meta_batch(payloads: list) -> list[dict]:
    """Batch twin of ``jpeg_decode_meta`` riding the lane-stepped
    ``decode_jpeg_many`` (r17, §4.2 array-at-once entropy decode):
    per-payload results and error classes are identical — any lane
    outside the fast path's envelope is re-decoded scalar."""
    from . import jpeg

    for p in payloads:
        if p is None or len(p) == 0:
            raise ValueError("empty payload")
    return [
        _jpeg_meta(img)
        for img in jpeg.decode_jpeg_many([bytes(p) for p in payloads])
    ]


jpeg_decode_meta.batch = _jpeg_decode_meta_batch


def wav_decode_meta(payload: bytes) -> dict:
    """REAL decode adapter for WAV payloads: ``width`` carries the
    framerate and ``height`` the channel count (the generic int
    metadata slots), ``n_bytes`` the PCM byte count."""
    if payload is None or len(payload) == 0:
        raise ValueError("empty payload")
    meta = decode_wav(payload)
    return {
        "n_bytes": meta["n_frames"] * meta["sampwidth"] * meta["n_channels"],
        "format": "wav",
        "width": meta["framerate"],
        "height": meta["n_channels"],
        "checksum": hashlib.sha256(meta["pcm"]).hexdigest()[:16],
    }


def decode_metadata(
    df: DataFrame,
    decode_fn: Callable[[bytes], dict] = deterministic_fake_decode,
) -> DataFrame:
    """Row-local decode: (id, payload) → MEDIA_META_SCHEMA rows.

    Arrow-batched; one Python crossing per batch, not per row. The
    binary column is consumed here and does not survive into the
    output — downstream aggregations never shuffle payload bytes.

    Malformed media degrades a row and never fails the job: a payload
    ``decode_fn`` rejects with a ``_CODEC_ERRORS`` member gets
    ``deterministic_fake_decode``'s stub metadata, and an empty or null
    payload gets nulls in every metadata column.
    """

    # r17: a decode_fn may expose a ``batch`` twin (same per-payload
    # results and error classes) that decodes the whole Arrow batch
    # array-at-once — the lane-stepped JPEG decoder rides this seam.
    # Engaged only at >= _BATCH_DECODE_MIN payloads: the lane
    # decoder's per-step vector costs amortize with batch width
    # (measured: ~break-even at 312 lanes, 1.6x at 5000), so small
    # bench-scale batches keep the scalar path and production-width
    # Arrow batches (10k rows) get the vectorized one.
    batch_fn = getattr(decode_fn, "batch", None)

    def decode_one(payload) -> dict:
        if payload is None or len(payload) == 0:
            return {}
        try:
            return decode_fn(payload)
        except _CODEC_ERRORS:
            return deterministic_fake_decode(payload)

    def decode_batch(ids: list, payloads: list) -> list[dict]:
        metas = None
        if batch_fn is not None and len(payloads) >= _BATCH_DECODE_MIN:
            try:
                metas = batch_fn(payloads)
            except _CODEC_ERRORS:
                pass  # a payload the twin rejects: decode row by row
        if metas is None:
            metas = [decode_one(p) for p in payloads]
        return [{**m, "id": i} for i, m in zip(ids, metas)]

    return map_batches(df, ["id", "payload"], MEDIA_META_SCHEMA, decode_batch)

