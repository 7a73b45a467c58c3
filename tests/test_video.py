"""Video-content dedup via the real AVI container codec
(`operators/video.py`).

Covers the claims the registry stage leans on:
- the AVI/DIB encode→parse→decode round trip is pixel-identity
  (the step the SQL oracle cannot re-derive — pinned here), incl.
  stride padding (non-multiple-of-4 widths) and the idx1 index
  agreeing with the movi chunk walk,
- strict-parse refusals: truncated files, lying idx1 offsets,
  header/movi frame-count disagreement,
- MJPEG streams decode through the in-tree real JPEG codec with
  quantization-bounded pixel error, and near-dup fingerprints
  survive the lossy path,
- frame sampling decodes ONLY the sampled frames,
- planted near-duplicate videos are FOUND by the composite-id banded
  join with the right temporal offset; unrelated videos are not,
- a time-SHIFTED copy (frames rotated by one) still matches via
  offset voting — the temporal-consistency property frame-aligned
  equality would miss.
"""
from __future__ import annotations

import struct

import pytest

from pyspark.sql import functions as F

from training_datawarehouse_spark.operators import audiofp as afp
from training_datawarehouse_spark.operators import phash as ph
from training_datawarehouse_spark.operators import video as vi
from training_datawarehouse_spark.operators.jpeg import encode_jpeg

BASE = ("the quick brown fox jumps over the lazy dog while the spark "
        "catalyst optimizer prunes columns and pushes filters into the "
        "parquet scan before the shuffle boundary every single time "
        "because declarative plans let the engine choose the strategy")
# SUBSTITUTION-only near-dup: same token count, so unedited frames
# stay bit-identical (the "same video, a few edited frames" case).
# A token insertion/deletion shifts the whole tail across frames —
# the re-timed-video analog that only whole-frame offsets (the
# rotation test below) recover; that asymmetry is inherent to
# positional frame assignment and documented in the module.
NEAR = BASE.replace("lazy dog", "lazy cat").replace("single", "sngle")
FAR = ("completely unrelated content about sourdough hydration ratios "
       "and the maillard reaction temperature curve during the bake "
       "with steam injected for the first twenty minutes of oven time "
       "then vented to crisp the crust before the final cooling rack")


def _video_signatures(docs):
    """(id, frame, b0..b3) per-frame signatures from the fused crossing
    the registry runs, exploded to frame grain the way
    `plans/northstar.py` does it."""
    fused = afp.fused_multimodal_signatures(
        docs, "doc_id", "text", include_video=True)
    return fused.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(f).alias("frame"),
                     *[F.col(f"vf{f}b{k}").alias(f"b{k}")
                       for k in range(ph.N_BANDS)])
            for f in range(vi.N_FRAMES)
        ])).alias("s"),
    ).select("id", "s.frame",
             *[F.col(f"s.b{k}").alias(f"b{k}") for k in range(ph.N_BANDS)])


def test_avi_dib_round_trip_pixel_identity():
    frames = vi.frame_token_grids(BASE)
    avi = vi.encode_avi(frames, ph.GRID, ph.GRID, fps=8)
    dec = vi.decode_avi(avi)
    assert dec["codec"] == "DIB "
    assert (dec["width"], dec["height"]) == (ph.GRID, ph.GRID)
    assert dec["fps"] == 8 and dec["n_frames"] == vi.N_FRAMES
    assert dec["frames"] == frames


def test_avi_stride_padding_round_trip():
    """Widths that are not multiples of 4 exercise the DIB row-stride
    padding rule on both sides of the codec."""
    w, h = 17, 19
    frames = [bytes((x * 7 + f) % 256 for x in range(w * h))
              for f in range(3)]
    dec = vi.decode_avi(vi.encode_avi(frames, w, h, fps=5))
    assert dec["frames"] == frames and dec["fps"] == 5


def test_avi_strict_parse_refusals():
    frames = vi.frame_token_grids(BASE)
    avi = vi.encode_avi(frames, ph.GRID, ph.GRID)
    with pytest.raises(ValueError, match="RIFF"):
        vi.decode_avi(b"JUNK" + avi[4:])
    with pytest.raises(ValueError, match="truncated"):
        vi.decode_avi(avi[:len(avi) // 2])
    # corrupt the first idx1 entry's offset: parser must notice the
    # index no longer lands on its chunk
    idx_pos = avi.rindex(b"idx1")
    bad = bytearray(avi)
    off_pos = idx_pos + 8 + 8  # ckid + flags, then dwChunkOffset
    bad[off_pos:off_pos + 4] = struct.pack(
        "<I", struct.unpack("<I", bad[off_pos:off_pos + 4])[0] + 2)
    with pytest.raises(ValueError, match="idx1"):
        vi.decode_avi(bytes(bad))
    # header frame count lies
    lied = bytearray(avi)
    avih_pos = avi.index(b"avih")
    lied[avih_pos + 8 + 16:avih_pos + 8 + 20] = struct.pack(
        "<I", vi.N_FRAMES + 1)
    with pytest.raises(ValueError, match="frames"):
        vi.decode_avi(bytes(lied))


def test_avi_mjpeg_decodes_with_bounded_error():
    frames = vi.frame_token_grids(BASE)
    enc = [encode_jpeg(ph.GRID, ph.GRID, f) for f in frames]
    dec = vi.decode_avi(vi.encode_avi(enc, ph.GRID, ph.GRID, codec="MJPG"))
    assert dec["codec"] == "MJPG" and len(dec["frames"]) == vi.N_FRAMES
    for got, want in zip(dec["frames"], frames):
        assert len(got) == len(want)
        assert max(abs(a - b) for a, b in zip(got, want)) <= 32


def test_mjpeg_fingerprints_survive_lossy_path():
    """Per-frame pHashes from the LOSSY MJPEG path must stay within
    the near-dup Hamming budget of the lossless DIB fingerprints —
    the property that makes MJPEG archives dedupable at all. At
    archive quality 98 the measured per-frame drift is <= 4 bits;
    default quality 85 drifts to 12 on these sparse 16x16 token
    grids (quantization moves low-amplitude coefficients across the
    median — a sparse-synthetic artifact photographic pHash at
    32x32+ doesn't share), which is why the dedup pipeline hashes
    the lossless path and the lossy path is a tolerance check."""
    frames = vi.frame_token_grids(BASE)
    dib = vi.decode_avi(vi.encode_avi(frames, ph.GRID, ph.GRID))
    mjpg = vi.decode_avi(vi.encode_avi(
        [encode_jpeg(ph.GRID, ph.GRID, f, quality=98) for f in frames],
        ph.GRID, ph.GRID, codec="MJPG"))
    for a, b in zip(dib["frames"], mjpg["frames"]):
        ham = sum(
            bin(x ^ y).count("1")
            for x, y in zip(ph.phash_bands(a), ph.phash_bands(b)))
        assert ham <= ph.DEFAULT_MAX_HAMMING


def test_synthesize_avi_payload_and_meta(spark):
    df = spark.createDataFrame(
        [(1, BASE), (2, FAR)], "doc_id long, text string")
    rows = {r["id"]: r["payload"]
            for r in vi.synthesize_avi_payload(df, "doc_id", "text").collect()}
    import hashlib
    for did, text in ((1, BASE), (2, FAR)):
        digest = hashlib.md5(text.encode()).digest()
        w, h = 16 + digest[0] % 16, 16 + digest[1] % 16
        nf = 2 + digest[2] % 7
        meta = vi.avi_decode_meta(rows[did])
        assert (meta["width"], meta["height"]) == (w, h)
        assert meta["n_bytes"] == nf * w * h
        assert meta["format"] == "avi"


def test_video_pair_matches_planted_near_dup(spark):
    docs = spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, FAR)], "doc_id long, text string")
    sig = _video_signatures(docs)
    got = {(r["id_a"], r["id_b"]): r
           for r in vi.video_pair_matches(sig).collect()}
    assert (1, 2) in got
    assert got[(1, 2)]["offset"] == 0
    assert got[(1, 2)]["n_match"] >= vi.DEFAULT_MIN_FRAMES
    assert (1, 3) not in got and (2, 3) not in got


def test_video_offset_voting_finds_time_shifted_copy(spark):
    """Rotate BASE's tokens by one so every token moves to the NEXT
    frame (i % 4 shifts by one) — frame-aligned equality finds zero
    matching frames, offset voting finds the copy at offset ±1."""
    toks = BASE.split(" ")
    shifted = " ".join([toks[-1]] + toks[:-1])
    docs = spark.createDataFrame(
        [(1, BASE), (2, shifted), (3, FAR)], "doc_id long, text string")
    sig = _video_signatures(docs)
    got = {(r["id_a"], r["id_b"]): r
           for r in vi.video_pair_matches(sig).collect()}
    assert (1, 2) in got
    assert abs(got[(1, 2)]["offset"]) == 1
    assert got[(1, 2)]["n_match"] >= vi.DEFAULT_MIN_FRAMES


def test_phash_bands_batch_parity():
    """The vectorized batch hash must be bit-identical to the scalar
    `phash_bands` on every frame, including degenerate all-zero and
    saturated rasters."""
    import numpy as np

    rasters = vi.frame_token_grids(BASE) + vi.frame_token_grids(FAR)
    rasters += [bytes(256), bytes([255]) * 256,
                bytes(range(256)), bytes(reversed(range(256)))]
    got = ph.phash_bands_batch(
        np.frombuffer(b"".join(rasters), dtype=np.uint8))
    for j, r in enumerate(rasters):
        assert got[j].tolist() == ph.phash_bands(r)


def test_video_signatures_match_reference_loop(spark):
    """The fused crossing's ``vf{f}b{k}`` columns equal a direct
    no-Spark reimplementation (synthesize → encode → decode → hash,
    per frame)."""
    docs = spark.createDataFrame(
        [(7, BASE), (9, NEAR)], "doc_id long, text string")
    got = {(r["id"], r["frame"]): [r[f"b{k}"] for k in range(4)]
           for r in _video_signatures(docs).collect()}
    assert len(got) == 2 * vi.N_FRAMES
    for did, text in ((7, BASE), (9, NEAR)):
        dec = vi.decode_avi(vi.encode_avi(
            vi.frame_token_grids(text), ph.GRID, ph.GRID))
        for fno, raster in enumerate(dec["frames"]):
            assert got[(did, fno)] == ph.phash_bands(raster)


def test_fuzz_avi_parser_raises_cleanly():
    """Garbage bytes — raw, and garbage spliced into a valid AVI at
    random offsets — must raise a codec-set error promptly (never
    hang, never mis-decode silently into a wrong-size raster, never
    allocate from a lying header). The vp8l fuzz-refusal contract."""
    import random

    from training_datawarehouse_spark.operators.multimodal import (
        _CODEC_ERRORS,
    )

    rng = random.Random(20260815)
    good = vi.encode_avi(vi.frame_token_grids(BASE), ph.GRID, ph.GRID)
    for trial in range(300):
        if trial % 3 == 0:
            n = rng.randrange(0, 120)
            data = bytes(rng.randrange(256) for _ in range(n))
        else:
            data = bytearray(good)
            for _ in range(rng.randrange(1, 6)):
                data[rng.randrange(len(data))] = rng.randrange(256)
            data = bytes(data)
        try:
            dec = vi.decode_avi(data)
            # a successful decode after mutation must still honor the
            # shape contract (mutations in frame pixels are legal)
            assert all(
                len(f) == dec["width"] * dec["height"]
                for f in dec["frames"])
        except _CODEC_ERRORS:
            pass
        except (IndexError, KeyError):
            # strict parsers may trip bounds on truncated tables; the
            # contract is "raises promptly", not "raises one type" —
            # but silent wrong output is banned (asserted above)
            pass


def test_foreign_avi_with_audio_stream_parses_video_correctly():
    """A second (audio) strl whose strf is NOT a BITMAPINFOHEADER must
    not overwrite the video stream's codec/bit-depth — the strf
    belongs to the stream whose strh preceded it."""
    frames = vi.frame_token_grids(BASE)
    avi = vi.encode_avi(frames, ph.GRID, ph.GRID, fps=8)
    strh = struct.pack(
        "<4s4sI2HIIIIIIII4h",
        b"auds", b"pcm ", 0, 0, 0, 0, 1, 8000, 0, 100, 0,
        0xFFFFFFFF, 0, 0, 0, 0, 0)
    strf = b"\xff" * 18  # fake WAVEFORMATEX: poison if misattributed
    extra = vi._list(b"strl", vi._chunk(b"strh", strh)
                     + vi._chunk(b"strf", strf))
    hsize = struct.unpack("<I", avi[16:20])[0]
    pos = 20 + hsize  # end of the hdrl LIST body
    patched = bytearray(avi[:pos] + extra + avi[pos:])
    patched[16:20] = struct.pack("<I", hsize + len(extra))
    patched[4:8] = struct.pack(
        "<I", struct.unpack("<I", avi[4:8])[0] + len(extra))
    dec = vi.decode_avi(bytes(patched))
    assert dec["codec"] == "DIB " and dec["fps"] == 8
    assert dec["frames"] == frames


def test_video_pair_matches_rejects_negative_ids(spark):
    """The composite-id precondition is enforced per-row, not just
    documented: a negative doc id raises instead of silently
    mis-grouping (Spark `div` truncates toward zero on negatives)."""
    docs = spark.createDataFrame(
        [(-1, BASE), (2, NEAR)], "doc_id long, text string")
    sig = _video_signatures(docs)
    with pytest.raises(Exception, match="id must be >= 0"):
        vi.video_pair_matches(sig).collect()


def test_avi_mjpeg_meta_parses_without_decoding():
    """r11: the container-metadata adapter for the MJPEG branch —
    parses strh fourcc, dims, and the idx1/avih frame-count invariant
    without touching JPEG payload bytes; refuses a DIB stream."""
    frames = [bytes([(x + f * 7) % 256 for x in range(20 * 12)])
              for f in range(3)]
    enc = [encode_jpeg(20, 12, fr) for fr in frames]
    avi = vi.encode_avi(enc, 20, 12, fps=6, codec="MJPG")
    meta = vi.avi_mjpeg_meta(avi)
    assert meta["format"] == "avi-mjpg"
    assert meta["n_bytes"] == 3          # frame COUNT, not bytes
    assert (meta["width"], meta["height"]) == (20, 12)

    dib = vi.encode_avi(frames, 20, 12)
    with pytest.raises(ValueError, match="expected MJPG"):
        vi.avi_mjpeg_meta(dib)
    with pytest.raises(ValueError, match="empty payload"):
        vi.avi_mjpeg_meta(b"")
