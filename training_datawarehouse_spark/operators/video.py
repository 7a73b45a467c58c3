"""Video-CONTENT dedup over REAL container-decoded frames.

Completes the modality triad (image `phash.py` r9, audio `audiofp.py`
r9): a REAL AVI/RIFF container codec (the public Microsoft AVI RIFF
spec — 'RIFF…AVI ', 'hdrl' with `avih`/`strh`/`strf`, 'movi' frame
chunks, 'idx1' index) written and parsed with stdlib `struct` only,
per-frame DCT perceptual hashes (`phash.phash_bands` — the SAME
64-bit fixed-point pHash), and temporal-alignment voting to lift
frame-grain matches to video-grain near-dup pairs — the published
video-fingerprinting shape (frame fingerprints + temporal consistency;
e.g. Oostveen, Kalker & Haitsma 2002, "Feature extraction and a
database strategy for video fingerprinting").

Frame synthesis keeps the corpus similarity-preserving AND
oracle-re-derivable: token ``i`` (0-based) of a document lands in
frame ``i % n_frames``, and each frame is the 16×16 token-histogram
grid of its token subset (the `phash.token_grid_pixels` cell/gain
conventions exactly) — near-dup texts share tokens in the same
positions => similar frames => close per-frame pHashes, while a
DuckDB oracle re-derives every pixel from `string_split` + the
md5-prefix integer convention. Positional assignment is deliberately
sensitive the way real video frames are: a token SUBSTITUTION edits
one frame (the "few edited frames" near-dup), a whole-rotation by k
tokens permutes frames cyclically (the re-timed copy — recovered by
offset voting), while an insertion/deletion reshuffles the tail
across frames (a re-cut — genuinely different frame content, found
only if enough frames survive).

Two codec paths:

- '00db' uncompressed DIB frames (BITMAPINFOHEADER, 8-bit grayscale
  palette, bottom-up rows, 4-byte stride padding). PIXEL-IDENTITY, so
  the oracle-checked pipeline hashes pixels the container codec
  genuinely round-tripped (the PNG/WAV convention of the image/audio
  stages: the codec step is identity by construction, pinned by
  pytest).
- '00dc' MJPEG frames through the in-tree REAL baseline-JPEG codec
  (`jpeg.encode_jpeg`/`decode_jpeg`). Lossy => pytest-verified
  (quantization-bounded pixel error, near-dup fingerprints survive),
  not oracle-checked.

Reference parity: the reference engine has no video support — this is
the charter multimodal extension (SURVEY §2.2 "multimodal columns …
frame-sample").

Scale shape (100 TB): synthesis + AVI encode + parse + per-frame DCT
are ROW-LOCAL inside one Arrow crossing; nothing wider than
(id, frame, 4×int) survives it — a 1-hour 1080p video and a 4-frame
synthetic clip cost the same downstream because only fingerprints
shuffle. Candidate generation reuses `phash_candidate_pairs` on
COMPOSITE ids (video·n_frames + frame), so banding, the doc-weighted
hot-bucket cap, and rep-grain dedup all apply per frame unchanged;
temporal voting then touches frame-grain candidate pairs only (a
groupBy on integer arithmetic). Frame sampling reads the 'idx1' index
and decodes ONLY the sampled chunks — the seek-not-scan access
pattern a real frame sampler needs.
"""
from __future__ import annotations

import hashlib
import struct

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from ..functions.caching import release_local_checkpoint
from ..functions.crossing import map_batches
from . import phash as ph
from .jpeg import decode_jpeg, encode_jpeg_frames_many
from .multimodal import PAYLOAD_SCHEMA

N_FRAMES = 4           # frames per synthesized fingerprint clip
DEFAULT_FPS = 8
# a video pair needs >= this many frame matches (at the best temporal
# offset) to count as a near-dup — 2 of 4 tolerates one edited/missing
# frame plus one hash miss while still requiring corroboration
DEFAULT_MIN_FRAMES = 2

_AVIF_HASINDEX = 0x10
_AVIIF_KEYFRAME = 0x10
# 8-bit grayscale DIB palette — constant; formerly rebuilt per
# encode_avi call (256 struct.packs each, visible in the r17 profile)
_GRAY_PALETTE = b"".join(struct.pack("<4B", g, g, g, 0) for g in range(256))


# --------------------------------------------------------- container

def _chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _list(listtype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", listtype + body)


def _dib_frame(width: int, height: int, pixels: bytes) -> bytes:
    """Top-down grayscale raster -> DIB frame body: bottom-up rows,
    stride padded to 4 bytes (the BMP/DIB rule)."""
    stride = (width + 3) // 4 * 4
    rows = [
        pixels[y * width:(y + 1) * width].ljust(stride, b"\x00")
        for y in range(height - 1, -1, -1)
    ]
    return b"".join(rows)


def encode_avi(frames: list[bytes], width: int, height: int,
               fps: int = DEFAULT_FPS, codec: str = "DIB ") -> bytes:
    """REAL AVI writer. ``codec='DIB '``: each frame is a top-down
    grayscale raster of ``width*height`` bytes, stored as an
    uncompressed bottom-up 8-bit-palette DIB in a '00db' chunk
    (lossless => pixel-identity round trip). ``codec='MJPG'``: each
    frame is pre-encoded JPEG bytes stored in a '00dc' chunk.
    Always writes the 'idx1' index (AVIF_HASINDEX)."""
    if codec == "DIB ":
        # validate BEFORE building bodies: _dib_frame silently
        # ljust-pads/truncates wrong-size rasters
        for f in frames:
            if len(f) != width * height:
                raise ValueError("DIB frame raster size mismatch")
        bodies = [_dib_frame(width, height, f) for f in frames]
        ckid, compression = b"00db", 0
    elif codec == "MJPG":
        bodies = list(frames)
        ckid = b"00dc"
        compression = struct.unpack("<I", b"MJPG")[0]
    else:
        raise ValueError(f"unsupported codec {codec!r}")

    avih = struct.pack(
        "<14I",
        1_000_000 // fps,          # dwMicroSecPerFrame
        0, 0, _AVIF_HASINDEX,      # maxbytes/sec, padding, flags
        len(frames), 0, 1,         # total frames, initial, streams
        max((len(b) for b in bodies), default=0),
        width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sI2HIIIIIIII4h",
        b"vids", codec.encode("ascii"), 0, 0, 0, 0,
        1, fps, 0, len(frames),    # scale, rate, start, length
        max((len(b) for b in bodies), default=0),
        0xFFFFFFFF, 0,             # quality, samplesize
        0, 0, width, height,       # rcFrame
    )
    palette = _GRAY_PALETTE
    strf = struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, 8, compression,
        len(bodies[0]) if bodies else 0, 0, 0,
        256 if codec == "DIB " else 0, 0,
    ) + (palette if codec == "DIB " else b"")
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh)
                         + _chunk(b"strf", strf)))

    movi_body = b"movi"
    idx_entries = []
    for body in bodies:
        # idx1 offsets are relative to the first byte of the 'movi'
        # fourcc (the common writer convention; the parser mirrors it)
        idx_entries.append((len(movi_body), len(body)))
        movi_body += _chunk(ckid, body)
    movi = _chunk(b"LIST", movi_body)
    idx1 = _chunk(b"idx1", b"".join(
        ckid + struct.pack("<3I", _AVIIF_KEYFRAME, off, ln)
        for off, ln in idx_entries))
    riff_body = b"AVI " + hdrl + movi + idx1
    return _chunk(b"RIFF", riff_body)


def _parse_headers(data: bytes) -> dict:
    """Walk the RIFF tree up to (not including) frame data: returns
    header fields plus the movi payload span and the idx1 entries."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI stream")
    riff_size = struct.unpack("<I", data[4:8])[0]
    if 8 + riff_size > len(data):
        raise ValueError("truncated RIFF payload")
    meta: dict = {"idx": []}
    pos = 12
    end = 8 + riff_size
    while pos + 8 <= end:
        fourcc = data[pos:pos + 4]
        size = struct.unpack("<I", data[pos + 4:pos + 8])[0]
        body_start = pos + 8
        if body_start + size > end:
            raise ValueError(f"chunk {fourcc!r} overruns the file")
        if fourcc == b"LIST":
            listtype = data[body_start:body_start + 4]
            if listtype == b"hdrl":
                _parse_hdrl(data, body_start + 4, body_start + size, meta)
            elif listtype == b"movi":
                meta["movi_start"] = body_start  # first byte of 'movi'
                meta["movi_end"] = body_start + size
        elif fourcc == b"idx1":
            for off in range(body_start, body_start + size, 16):
                ckid = data[off:off + 4]
                _flags, coff, clen = struct.unpack(
                    "<3I", data[off + 4:off + 16])
                meta["idx"].append((ckid, coff, clen))
        pos = body_start + size + (size % 2)
    for key in ("usec_per_frame", "n_frames", "width", "height",
                "codec", "movi_start"):
        if key not in meta:
            raise ValueError(f"missing AVI header field {key}")
    return meta


def _parse_hdrl(data: bytes, pos: int, end: int, meta: dict) -> None:
    # a strf belongs to the stream whose strh preceded it — without
    # tracking that, a foreign AVI's AUDIO strl would overwrite the
    # video bit_count/compression with WAVEFORMATEX bytes (silent
    # mis-parse — the class this strict parser exists to refuse)
    in_video_stream = False
    while pos + 8 <= end:
        fourcc = data[pos:pos + 4]
        size = struct.unpack("<I", data[pos + 4:pos + 8])[0]
        body = data[pos + 8:pos + 8 + size]
        if fourcc == b"avih":
            f = struct.unpack("<14I", body[:56])
            meta["usec_per_frame"], meta["n_frames"] = f[0], f[4]
            meta["width"], meta["height"] = f[8], f[9]
        elif fourcc == b"LIST" and body[:4] == b"strl":
            _parse_hdrl(data, pos + 12, pos + 8 + size, meta)
        elif fourcc == b"strh":
            in_video_stream = body[:4] == b"vids"
            if in_video_stream:
                meta["codec"] = body[4:8].decode("ascii")
                scale, rate = struct.unpack("<II", body[20:28])
                meta["fps"] = rate // max(scale, 1)
        elif fourcc == b"strf":
            if in_video_stream:
                bit_count, compression = struct.unpack("<HI", body[14:20])
                meta["bit_count"] = bit_count
                meta["compression"] = compression
        pos += 8 + size + (size % 2)


def _frame_spans(data: bytes, meta: dict) -> list[tuple[int, int]]:
    """(absolute offset, length) of each frame chunk body, from idx1
    (verified against the movi walk) or the walk alone."""
    movi_start, movi_end = meta["movi_start"], meta["movi_end"]
    walk = []
    pos = movi_start + 4
    while pos + 8 <= movi_end:
        ckid = data[pos:pos + 4]
        size = struct.unpack("<I", data[pos + 4:pos + 8])[0]
        if ckid in (b"00db", b"00dc"):
            walk.append((pos + 8, size))
        pos += 8 + size + (size % 2)
    if meta["idx"]:
        spans = []
        for ckid, coff, clen in meta["idx"]:
            if ckid not in (b"00db", b"00dc"):
                continue
            abs_off = movi_start + coff + 8  # skip the chunk header
            if data[movi_start + coff:movi_start + coff + 4] != ckid:
                raise ValueError("idx1 offset does not land on its chunk")
            spans.append((abs_off, clen))
        if spans != walk:
            raise ValueError("idx1 disagrees with the movi chunk walk")
        return spans
    return walk


def _decode_frame_body(body: bytes, meta: dict) -> bytes:
    """One frame chunk body -> top-down grayscale raster bytes."""
    w, h = meta["width"], meta["height"]
    if meta["codec"] == "DIB ":
        stride = (w + 3) // 4 * 4
        if len(body) != stride * h:
            raise ValueError("DIB frame size mismatch")
        rows = [body[y * stride:y * stride + w]
                for y in range(h - 1, -1, -1)]
        return b"".join(rows)
    if meta["codec"] == "MJPG":
        dec = decode_jpeg(body)
        if dec["width"] != w or dec["height"] != h:
            raise ValueError("MJPEG frame dims disagree with the header")
        return dec["pixels"]
    raise NotImplementedError(
        f"AVI codec {meta['codec']!r}: only DIB and MJPG streams are "
        "supported in-tree (others are decode_fn-seam territory)")


def decode_avi(data: bytes) -> dict:
    """REAL AVI parse + frame decode: returns width/height/fps/
    n_frames/codec and the list of top-down grayscale frame rasters.
    Strict: sizes, the idx1-vs-walk agreement, and the header frame
    count must all line up."""
    meta = _parse_headers(data)
    spans = _frame_spans(data, meta)
    if len(spans) != meta["n_frames"]:
        raise ValueError(
            f"header says {meta['n_frames']} frames, movi has {len(spans)}")
    frames = [_decode_frame_body(data[o:o + ln], meta) for o, ln in spans]
    return {
        "width": meta["width"], "height": meta["height"],
        "fps": meta.get("fps") or 1_000_000 // max(meta["usec_per_frame"], 1),
        "n_frames": meta["n_frames"], "codec": meta["codec"],
        "frames": frames,
    }


# ------------------------------------------------- synthesis + hash

def frame_token_grids(text: str, n_frames: int = N_FRAMES) -> list[bytes]:
    """Per-frame grid×grid token-histogram rasters: token i (0-based,
    bare split on ' ' to match DuckDB `string_split`) lands in frame
    ``i % n_frames``, cell ``md5-prefix(token) % grid²``, pixel
    ``min(255, gain·count)`` — `phash.token_grid_pixels` per frame
    subset, so the oracle re-derives every pixel in SQL."""
    ncells = ph.GRID * ph.GRID
    toks = text.split(" ")
    # composite (frame, cell) index -> one bincount for every frame;
    # min(255, gain·count) over exact ints is bit-identical to the
    # former per-cell Python loop (r16: that loop + its genexprs were
    # ~1/3 of the fused-crossing CPU at 5 k docs)
    idx = np.fromiter(
        ((i % n_frames) * ncells + ph._token_cell(tok)
         for i, tok in enumerate(toks)),
        dtype=np.int64, count=len(toks),
    )
    counts = np.bincount(idx, minlength=n_frames * ncells)
    pix = np.minimum(255, ph.PIXEL_GAIN * counts).astype(np.uint8)
    return [pix[f * ncells:(f + 1) * ncells].tobytes()
            for f in range(n_frames)]


def video_pair_matches(
    sig: DataFrame, materialize: bool = False,
) -> DataFrame:
    """Video-grain near-dup pairs from (id, frame, b0..b3) signatures:
    (id_a, id_b, offset, n_match, score) with id_a < id_b, where
    ``n_match`` counts frame pairs matching (Hamming <=
    ``ph.DEFAULT_MAX_HAMMING``) at the winning temporal offset,
    ``score = n_match / N_FRAMES``, and pairs with fewer than
    ``DEFAULT_MIN_FRAMES`` matches are dropped.

    Shape: frames become COMPOSITE ids (id·N_FRAMES + frame), ONE call
    to the tested `phash_candidate_pairs` operator does banding +
    rep-grain dedup + the doc-weighted hot-bucket cap + exact-Hamming
    verify across ALL frames at once, and temporal-alignment voting is
    then pure integer arithmetic on the surviving frame-grain pairs:
    group by (video_a, video_b, frame_offset), count, keep each pair's
    best offset (most matches; ties to the smallest |offset|, then the
    smaller offset — a total order both engines compute identically).
    Matching any-frame-to-any-frame with offset voting (rather than
    frame-aligned equality) is what makes a trimmed/shifted copy still
    match — the temporal-consistency rule of published video
    fingerprinting. Requires id >= 0 (composite ids must order by
    (id, frame); negative ids would silently mis-group composites, and
    Spark's `div` truncates toward zero where DuckDB's `//` floors —
    enforced per-row below, not just documented); ``N_FRAMES`` must
    exceed the max frame number."""
    comp = sig.select(
        F.when(
            F.col("id") >= 0, F.col("id") * N_FRAMES + F.col("frame")
        ).otherwise(
            F.raise_error(
                F.lit("video_pair_matches: id must be >= 0 "
                      "(composite-id grouping)")
            ).cast("long")
        ).alias("id"),
        *ph.BAND_COLS,
    )
    # materialize=True (r16): passes the phash operator's
    # three-consumer group materialization through AND materializes
    # the frame-grain pair set (it feeds the voting aggregation —
    # identical rows, one execution of the banding subtree)
    fp = ph.phash_candidate_pairs(comp, materialize=materialize)
    pairs = fp.select(
        F.expr(f"id_a div {N_FRAMES}").alias("va"),
        F.expr(f"id_b div {N_FRAMES}").alias("vb"),
        (F.col("id_a") % N_FRAMES - F.col("id_b") % N_FRAMES)
        .cast("int").alias("offset"),
    ).filter(F.col("va") != F.col("vb"))
    votes = pairs.groupBy("va", "vb", "offset").agg(
        F.count(F.lit(1)).alias("n_match"))
    w = Window.partitionBy("va", "vb").orderBy(
        F.col("n_match").desc(), F.abs("offset"), F.col("offset"))
    out = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("n_match") >= DEFAULT_MIN_FRAMES))
        .select(F.col("va").alias("id_a"), F.col("vb").alias("id_b"),
                "offset", "n_match",
                F.round(F.col("n_match") / F.lit(float(N_FRAMES)), 6)
                .alias("score"))
    )
    if not materialize:
        return out
    try:
        out = out.localCheckpoint(eager=True)
    except BaseException:
        release_local_checkpoint(fp)
        raise
    release_local_checkpoint(fp)
    return out


# ------------------------------------------------- metadata payloads

def synthesize_avi_payload(df: DataFrame, id_col: str, text_col: str,
                           codec: str = "DIB ") -> DataFrame:
    """Source stand-in producing REAL video bytes: a valid AVI per row
    with md5-derived dims (16–31 px a side, the PNG-stage rule), an
    md5-derived frame count 2–8, fps 4–11, and digest-striped frame
    pixels (frame f shifts the stripe by f so frames differ). The
    variable frame count + non-4-multiple widths exercise the idx1
    walk and the DIB stride padding. Output is (id, payload)."""
    def gen(ids: list, texts: list) -> list:
        clips = []
        for text in texts:
            digest = hashlib.md5(text.encode("utf-8")).digest()
            w, h = 16 + digest[0] % 16, 16 + digest[1] % 16
            nf = 2 + digest[2] % 7
            fps = 4 + digest[3] % 8
            n = w * h
            frames = []
            for f in range(nf):
                stripe = digest[f % 16:] + digest[:f % 16]
                frames.append((stripe * (n // 16 + 1))[:n])
            clips.append((w, h, frames, fps))
        if codec == "MJPG":
            # r17: one vectorized entropy pass encodes every frame
            # of every clip in the Arrow batch (byte-identical to
            # per-frame encode_jpeg — §4.2 batch-at-once)
            encs = encode_jpeg_frames_many(
                [(w, h, frames) for w, h, frames, _fps in clips])
            payloads = [
                encode_avi(enc, w, h, fps, codec="MJPG")
                for (w, h, _frames, fps), enc in zip(clips, encs)
            ]
        else:
            payloads = [encode_avi(frames, w, h, fps)
                        for w, h, frames, fps in clips]
        return list(zip(ids, payloads))

    return map_batches(df, [id_col, text_col], PAYLOAD_SCHEMA, gen)


def avi_decode_meta(payload: bytes) -> dict:
    """REAL decode adapter for ``multimodal.decode_metadata``:
    ``n_bytes`` is the total DECODED raster size across frames
    (n_frames·w·h — only a correct container parse + frame decode
    reproduces it), ``width``/``height`` the parsed frame dims."""
    if payload is None or len(payload) == 0:
        raise ValueError("empty payload")
    dec = decode_avi(payload)
    return {
        "n_bytes": sum(len(f) for f in dec["frames"]),
        "format": "avi",
        "width": dec["width"],
        "height": dec["height"],
        "checksum": hashlib.sha256(b"".join(dec["frames"])).hexdigest()[:16],
    }


def avi_mjpeg_meta(payload: bytes) -> dict:
    """CONTAINER-metadata adapter for the MJPEG ('00dc') path — the
    r11 oracle-visible coverage of the parser's MJPG branch. Parses
    headers + the idx1 index and verifies container invariants
    WITHOUT decoding any JPEG payload (seek-not-scan): the stream
    fourcc must be MJPG, every idx1 entry must be a '00dc' chunk, and
    the index entry count must equal the avih frame count.

    ``n_bytes`` carries the parsed FRAME COUNT (container metadata —
    JPEG chunk byte lengths are entropy-coded, content-dependent, and
    deliberately not asserted cross-engine; the lossy-path pixel
    bounds live in pytest). ``format`` is derived from the parsed
    fourcc, so a mis-attributed strf/strh would surface as a
    driver-visible format mismatch."""
    if payload is None or len(payload) == 0:
        raise ValueError("empty payload")
    meta = _parse_headers(payload)
    if meta["codec"] != "MJPG":
        raise ValueError(f"expected MJPG stream, got {meta['codec']!r}")
    bad = [ckid for ckid, _, _ in meta["idx"] if ckid != b"00dc"]
    if bad:
        raise ValueError(f"non-00dc chunk ids in an MJPG idx1: {bad[:3]}")
    if len(meta["idx"]) != meta["n_frames"]:
        raise ValueError(
            f"idx1 entries {len(meta['idx'])} != avih frames "
            f"{meta['n_frames']}")
    return {
        "n_bytes": meta["n_frames"],
        "format": "avi-" + meta["codec"].strip().lower(),
        "width": meta["width"],
        "height": meta["height"],
        "checksum": hashlib.sha256(payload).hexdigest()[:16],
    }
