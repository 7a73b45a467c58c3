"""Audio-content dedup via spectral fingerprint over REAL decoded WAV.

Haitsma & Kalker 2002 ("A Highly Robust Audio Fingerprinting
System"): frame the signal, compute per-frame band energies, and take
the SIGN of the energy difference's time-derivative as the
fingerprint bits — robust because signs of band-energy deltas survive
amplitude scaling, codec noise, and small edits. This module is that
method at engine scale, with the same two adaptations that made the
image pHash (`phash.py`) differentially checkable:

- INTEGER-EXACT math end to end. The synthesis wave table and the
  per-frame DFT basis are fixed-point (``round(cos·scale)``), band
  energies are ``re² + im²`` of int64 sums, and the bits are sign
  comparisons of int64 differences — the DuckDB oracle re-derives
  every sample, energy, and bit exactly (no float summation-order
  hazards). Bit layout (an adaptation of the paper's 33-bin scheme to
  a 64-bit fingerprint): frames f=1..8 × bands b=0..7 with a CYCLIC
  band neighbor, bit_{(f-1)·8+b} = [ (E[f][b] − E[f][(b+1) mod 8])
  − (E[f−1][b] − E[f−1][(b+1) mod 8]) > 0 ].
- SIMILARITY-PRESERVING synthetic audio. Each token contributes one
  amplitude-modulated sinusoid (frequency and AM phase from the
  md5-prefix integer convention shared with `dedup`/`phash`); the
  mixture is clamped to 16-bit PCM, ENCODED to a real WAV and DECODED
  back through the in-tree stdlib codec inside the plan, so the
  fingerprint is computed from samples the engine genuinely decoded.
  Near-dup texts share tokens => nearly the same mixture => close
  fingerprints. The AM period (7) is coprime with the carrier's
  4-frame period so no two of the 16 frames repeat — all 64 bits
  carry signal.

Candidate generation and Hamming verification REUSE
`phash.phash_candidate_pairs` — one banded-Hamming operator serves
both modalities (the signatures share the (id, b0..b3) shape).

Reference parity: the reference engine has no audio-content dedup —
charter multimodal extension (SURVEY §2.2); the published method is
implemented from its definition.

Scale shape (100 TB): synthesis + WAV encode + REAL decode + the
16×8-bin integer DFT are ROW-LOCAL inside one Arrow crossing; only
(id, 4 × int32) leaves it. Banding/verify inherit the pHash/MinHash
shape (16-bit band keys, hot-bucket cap, candidate-only Hamming).
"""
from __future__ import annotations

import functools
import hashlib
import math
import struct

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.crossing import map_batches
from . import phash as _ph
from .multimodal import decode_wav, encode_wav
from .phash import BAND_BITS, N_BANDS

N_SAMPLES = 256           # synthesized clip length (16 frames x 16)
FRAME = 16
N_FRAMES = N_SAMPLES // FRAME
N_BINS = 8
WAVE_SCALE = 256          # synthesis carrier fixed-point scale
DFT_SCALE = 1024          # analysis basis fixed-point scale
N_FREQS = 31              # token carrier frequencies 1..31
AM_PERIOD = 7             # coprime with the carrier's 4-frame period
DEFAULT_MAX_HAMMING = 6   # calibrated like phash (see registry stage)


def wave_table_int() -> list[int]:
    """64-entry fixed-point carrier: round(cos(2·pi·i/64) · 256).
    Single source of truth for synthesis in both engines."""
    return [round(math.cos(2 * math.pi * i / 64) * WAVE_SCALE)
            for i in range(64)]


def dft_basis_int() -> tuple[list[list[int]], list[list[int]]]:
    """Per-frame DFT basis, fixed-point: cos/sin(2·pi·b·t/16) · 1024
    for b in 0..7, t in 0..15. Injected into the oracle as VALUES."""
    cos = [[round(math.cos(2 * math.pi * b * t / FRAME) * DFT_SCALE)
            for t in range(FRAME)] for b in range(N_BINS)]
    sin = [[round(math.sin(2 * math.pi * b * t / FRAME) * DFT_SCALE)
            for t in range(FRAME)] for b in range(N_BINS)]
    return cos, sin


@functools.lru_cache(maxsize=1 << 16)
def token_freq_phase(tok: str) -> tuple[int, int]:
    """(carrier frequency 1..31, AM phase 0..6) from the md5-prefix
    integer — the convention shared with `dedup` and `phash`:
    h = ('0x' || substr(md5(tok), 1, 15))::BIGINT; k = h % 31 + 1,
    phase = (h // 31) % 7. lru_cached: corpus tokens repeat heavily,
    so the md5 runs once per distinct token per executor."""
    h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
    return h % N_FREQS + 1, (h // N_FREQS) % AM_PERIOD


_T = np.arange(N_SAMPLES, dtype=np.int64)
_AM_FRAME = _T // FRAME
_WAVE_NP = np.array(wave_table_int(), dtype=np.int64)


def token_wave_samples(text: str) -> list[int]:
    """256-sample 16-bit PCM mixture: each token adds its carrier
    ``wave[(k·t) mod 64]`` amplitude-modulated by
    ``1 + (t//16 + phase) mod 7``; the sum clamps to int16 (the clamp
    is deterministic and mirrored by the oracle). Vectorized over the
    WHOLE token list (r16): one (n_tokens × 256) gather + one sum
    instead of a numpy axpy per token — the per-token form was the
    single largest CPU line of the fused multimodal crossing (~4 s of
    13 s single-threaded at 5 k docs). Integer math end to end, so
    the result is bit-identical to the per-token loop."""
    kp = [token_freq_phase(tok) for tok in text.split(" ")]
    ks = np.array([k for k, _ in kp], dtype=np.int64)[:, None]
    ph = np.array([p for _, p in kp], dtype=np.int64)[:, None]
    terms = (_WAVE_NP[(ks * _T[None, :]) % 64]
             * (1 + (_AM_FRAME[None, :] + ph) % AM_PERIOD))
    s = terms.sum(axis=0)
    return np.clip(s, -32768, 32767).tolist()


#: module-level int64 DFT basis — `dft_basis_int` rebuilt these 8×16
#: tables per CALL before r16 (one Python cos/sin comprehension per
#:row of the crossing, ~1.7 s of the fused crossing's 13 s CPU at
#: 5 k docs); the function stays the oracle's single source of truth
_DFT_C_NP = np.array(dft_basis_int()[0], dtype=np.int64)
_DFT_S_NP = np.array(dft_basis_int()[1], dtype=np.int64)
_BIT_WEIGHTS = (1 << np.arange(BAND_BITS, dtype=np.int64))


def fingerprint_bands(samples: list[int] | np.ndarray) -> list[int]:
    """64-bit spectral fingerprint of a 256-sample clip as 4 x 16-bit
    band ints (the `phash` signature shape). Exact int64 throughout:
    E[f][b] = re² + im² of the fixed-point frame DFT (|re| <=
    32767·16·1024 ≈ 5.4e8, E <= 5.8e17 — inside int64), bits as in
    the module docstring."""
    return fingerprint_bands_batch(
        np.asarray(samples, dtype=np.int64).reshape(1, N_SAMPLES)
    )[0].tolist()


def fingerprint_bands_batch(clips: np.ndarray) -> np.ndarray:
    """Vectorized `fingerprint_bands` over a BATCH of clips:
    (n, 256) int64 -> (n, N_BANDS) int64 band values — one stacked
    matmul + one weighted bit sum instead of n small matmuls and
    n·64 Python bit-shifts. Bit-identical to the scalar path (same
    integer math; parity-tested) — the batch form exists because the
    fused multimodal crossing fingerprints every row of an Arrow
    batch (the `phash.phash_bands_batch` discipline)."""
    s = np.ascontiguousarray(clips, dtype=np.int64)
    s = s.reshape(-1, N_FRAMES, FRAME)
    re = s @ _DFT_C_NP.T                  # (n, frames, bins)
    im = s @ _DFT_S_NP.T
    e = re * re + im * im
    d = e - np.roll(e, -1, axis=2)        # E[f][b] - E[f][(b+1) % 8]
    bits = (d[:, 1:1 + 8] - d[:, 0:8]) > 0
    flat = bits.reshape(len(s), N_BANDS, BAND_BITS)
    return (flat * _BIT_WEIGHTS).sum(axis=2)


def audio_fingerprint_signatures(df: DataFrame, id_col: str, text_col: str,
                                 parallelism: int | None = None) -> DataFrame:
    """(id, b0..b3) audio fingerprints: synthesize the token mixture,
    round-trip it through the REAL stdlib WAV codec (16-bit PCM is
    lossless, so decode reproduces the samples — asserted by pytest),
    and fingerprint the DECODED samples. One ``map_batches``
    crossing, row-local, no shuffle; shares the signature schema with
    `phash.image_phash_signatures` so `phash_candidate_pairs` serves
    both modalities. ``parallelism``: the crossing's repartition width
    (see `functions.crossing.map_batches`)."""
    schema = T.StructType(
        [T.StructField("id", T.LongType())]
        + [T.StructField(f"b{k}", T.IntegerType()) for k in range(N_BANDS)]
    )

    def gen(ids: list, texts: list) -> list:
        clips = []
        for text in texts:
            samples = token_wave_samples(text)
            wav = encode_wav(samples)
            pcm = decode_wav(wav)["pcm"]
            clips.append(struct.unpack(f"<{N_SAMPLES}h", pcm))
        ab = fingerprint_bands_batch(np.array(clips, dtype=np.int64))
        return [[did, *ab[j]] for j, did in enumerate(ids)]

    return map_batches(df, [id_col, text_col], schema, gen, parallelism)


def fused_multimodal_signatures(df: DataFrame, id_col: str, text_col: str,
                                parallelism: int | None = None,
                                include_video: bool = False) -> DataFrame:
    """Image pHash AND audio fingerprint in ONE Arrow crossing:
    (id, ib0..ib3, ab0..ab3). Both modalities read the same (id, text)
    projection, so a caller that wants both (the cross-modal dedup
    entry) pays one scan, one repartition, one worker round trip, and
    one checkpoint instead of two of each — the per-row Python is the
    sum either way. Slices back to the (id, b0..b3) signature shape
    with a select, so `phash_candidate_pairs` is unchanged.

    ``include_video`` (r10) adds the per-frame VIDEO fingerprints to
    the same crossing as 16 more int columns ``vf{f}b{k}`` (frame f's
    band k, through the real AVI/DIB container round trip — see
    `operators/video.py`); callers explode them back to the
    (id, frame, b0..b3) grain JVM-side. Three modalities, still one
    scan / one repartition / one crossing / one checkpoint."""
    from . import video as _vd

    n_frames = _vd.N_FRAMES
    vcols = [f"vf{f}b{k}" for f in range(n_frames) for k in range(N_BANDS)]
    schema = T.StructType(
        [T.StructField("id", T.LongType())]
        + [T.StructField(f"ib{k}", T.IntegerType()) for k in range(N_BANDS)]
        + [T.StructField(f"ab{k}", T.IntegerType()) for k in range(N_BANDS)]
        + ([T.StructField(c, T.IntegerType()) for c in vcols]
           if include_video else [])
    )

    def gen(ids: list, texts: list) -> list:
        # r16: hash at BATCH grain — the codec round trips stay
        # row-local (they are the REAL-decode semantics), but the
        # pHash DCT, the audio DFT, and the bit packs each run as
        # one stacked numpy op per Arrow batch instead of one
        # small matmul + 64 Python bit-shifts per row
        # (phash_bands_batch / fingerprint_bands_batch are
        # parity-tested bit-identical to the scalar forms)
        irasters, aclips, vframes = [], [], []
        for text in texts:
            pix = _ph.token_grid_pixels(text)
            png = _ph.encode_png(_ph.GRID, _ph.GRID, pix,
                                 filter_type=len(text) % 5)
            irasters.append(_ph.decode_png(png)["pixels"])
            samples = token_wave_samples(text)
            pcm = decode_wav(encode_wav(samples))["pcm"]
            aclips.append(struct.unpack(f"<{N_SAMPLES}h", pcm))
            if include_video:
                avi = _vd.encode_avi(
                    _vd.frame_token_grids(text, n_frames),
                    _ph.GRID, _ph.GRID)
                vframes.extend(_vd.decode_avi(avi)["frames"])
        ib = _ph.phash_bands_batch(
            np.frombuffer(b"".join(irasters), dtype=np.uint8))
        ab = fingerprint_bands_batch(np.array(aclips, dtype=np.int64))
        rows = [[did, *ib[j], *ab[j]] for j, did in enumerate(ids)]
        if include_video:
            # one stacked einsum hashes every frame in the batch
            vb = _ph.phash_bands_batch(
                np.frombuffer(b"".join(vframes), dtype=np.uint8))
            for j, row in enumerate(rows):
                row.extend(
                    vb[j * n_frames:(j + 1) * n_frames].reshape(-1))
        return rows

    return map_batches(df, [id_col, text_col], schema, gen, parallelism)
