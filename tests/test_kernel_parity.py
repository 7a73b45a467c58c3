"""Kernel parity gates: the vectorized operator internals must keep
results BYTE-IDENTICAL to their reference loops. These tests pin:

- the vectorized synthesis/fingerprint kernels (token grids, wave
  mixture, batch DFT fingerprint) against their pre-r16 per-element
  reference loops, re-implemented here verbatim as the fixed point;
- the tokenizer trainers' shared ``bpe.collect_word_counts`` scan, the
  unigram trainer's length-filtered view of it, and its driver-memory
  refusal;
- the ``materialize=True`` pair passes against their lazy plans.

The composite-level guarantees (lsh_cross_modal's materialized pair
pass, text_profile's overlapped stage builds, similarity_topk's shared
cosine pass, windowed_batch's persisted funnel) are covered by the
oracle sweep — the plans changed, the rows may not.
"""
from __future__ import annotations

import numpy as np
import pytest

from training_datawarehouse_spark.operators import (
    audiofp as afp,
    bpe,
    phash as ph,
    unigram as ug,
    video as vd,
)

TEXTS = [
    "",
    "single",
    "a b c a b a",
    "the quick brown fox jumps over the lazy dog",
    "dup dup dup dup dup dup dup dup dup dup dup dup",
    "x " * 300 + "tail",
    "mixed CASE And 123 numbers 456 with, punctuation!",
]


# ------------------------- pre-r16 reference loops (the fixed point)

def _ref_grid(text):
    counts = [0] * (ph.GRID * ph.GRID)
    for tok in text.split(" "):
        counts[ph._token_cell(tok)] += 1
    return bytes(min(255, ph.PIXEL_GAIN * c) for c in counts)


def _ref_wave(text):
    s = np.zeros(afp.N_SAMPLES, dtype=np.int64)
    for tok in text.split(" "):
        k, phase = afp.token_freq_phase(tok)
        s += (afp._WAVE_NP[(k * afp._T) % 64]
              * (1 + (afp._AM_FRAME + phase) % afp.AM_PERIOD))
    return np.clip(s, -32768, 32767).tolist()


def _ref_fingerprint(samples):
    cos, sin = afp.dft_basis_int()
    s = np.asarray(samples, dtype=np.int64).reshape(afp.N_FRAMES, afp.FRAME)
    c = np.array(cos, dtype=np.int64)
    sn = np.array(sin, dtype=np.int64)
    re = s @ c.T
    im = s @ sn.T
    e = re * re + im * im
    d = e - np.roll(e, -1, axis=1)
    bits = (d[1:9] - d[0:8]) > 0
    flat = bits.reshape(-1)
    bands = [0] * afp.N_BANDS
    for i, bit in enumerate(flat):
        if bit:
            bands[i // afp.BAND_BITS] |= 1 << (i % afp.BAND_BITS)
    return bands


def _ref_frame_grids(text, n_frames=vd.N_FRAMES):
    counts = [[0] * (ph.GRID * ph.GRID) for _ in range(n_frames)]
    for i, tok in enumerate(text.split(" ")):
        counts[i % n_frames][ph._token_cell(tok)] += 1
    return [bytes(min(255, ph.PIXEL_GAIN * c) for c in row)
            for row in counts]


def test_token_grid_pixels_matches_reference_loop():
    for t in TEXTS:
        assert ph.token_grid_pixels(t) == _ref_grid(t), t[:40]


def test_token_wave_samples_matches_reference_loop():
    for t in TEXTS:
        got = afp.token_wave_samples(t)
        assert got == _ref_wave(t), t[:40]
        assert all(isinstance(v, int) for v in got[:4])


def test_fingerprint_bands_scalar_and_batch_match_reference():
    clips = np.array([_ref_wave(t) for t in TEXTS], dtype=np.int64)
    batch = afp.fingerprint_bands_batch(clips)
    for j, t in enumerate(TEXTS):
        ref = _ref_fingerprint(clips[j])
        assert afp.fingerprint_bands(clips[j].tolist()) == ref, t[:40]
        assert batch[j].tolist() == ref, t[:40]


def test_frame_token_grids_matches_reference_loop():
    for t in TEXTS:
        assert vd.frame_token_grids(t) == _ref_frame_grids(t), t[:40]


def test_pixel_gain_saturation_still_clamps_at_255():
    # 300 identical tokens in one cell: gain·count far above 255
    t = "same " * 300
    pix = ph.token_grid_pixels(t.strip())
    assert max(pix) == 255
    assert ph.token_grid_pixels(t.strip()) == _ref_grid(t.strip())


# ------------------------------------------ trainer shared scan

@pytest.fixture()
def docs(spark):
    rows = [
        (0, "aa bb aa cc dd aa bb"),
        (1, "bb cc bb aa ee ff gg"),
        (2, "hh aa bb cc hh hh aa"),
        (3, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_collect_word_counts_matches_trainer_scan(spark, docs, monkeypatch):
    from pyspark.sql import functions as F

    wc = bpe.collect_word_counts(docs, "text")
    assert dict(wc)["aa"] == 6
    # the unigram trainer's table is the shared one less words over 127
    # characters: exactly the scan ULM_WORD_RE (the scorer's filter)
    # selects, with the same counts
    long_docs = docs.unionByName(spark.createDataFrame(
        [(4, "a" * 127 + " " + "b" * 128 + " aa")],
        "doc_id long, text string"))
    ulm_scan = {
        r["w"]: r["n"] for r in long_docs.select(
            F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w").rlike(ug.ULM_WORD_RE))
        .groupBy("w").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    shared = bpe.collect_word_counts(long_docs, "text")
    assert "b" * 128 in dict(shared)
    assert {w: n for w, n in shared if len(w) <= 127} == ulm_scan
    assert ulm_scan["a" * 127] == 1 and ulm_scan["aa"] == 7
    # over the cap the scan refuses, naming the count and the cap
    monkeypatch.setattr(bpe, "DRIVER_VOCAB_CAP", 3)
    with pytest.raises(ValueError, match=r"^24 distinct .*CAP=3\b"):
        bpe.collect_word_counts(docs, "text")


def _persistent_rdd_ids(spark):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def _materialize_keeps_only_output(spark, build):
    """Run a ``materialize=True`` build; assert the only RDD it leaves
    persisted is the returned pair frame's, and that releasing that
    frame leaves none. Returns the collected rows."""
    from training_datawarehouse_spark.functions.caching import (
        release_local_checkpoint,
    )

    before = _persistent_rdd_ids(spark)
    out = build()
    assert len(_persistent_rdd_ids(spark) - before) == 1
    rows = out.collect()
    release_local_checkpoint(out)
    assert not _persistent_rdd_ids(spark) - before
    return rows


def test_lsh_pair_materialize_parity(spark):
    """materialize=True must return the identical pair set (it only
    changes WHERE the shared signature table is computed) and release
    its internal checkpoint."""
    from training_datawarehouse_spark.operators import dedup as dd

    rows = [(i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 7} "
                f"w{i % 3} w{(i + 1) % 3} filler{i % 11}")
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(num_hashes=8, bands=4, rows_per_band=2, jaccard_threshold=0.2)
    lazy = dd.lsh_candidate_pairs_portable(docs, "doc_id", "text",
                                           **kw).collect()
    mat = _materialize_keeps_only_output(
        spark, lambda: dd.lsh_candidate_pairs_portable(
            docs, "doc_id", "text", materialize=True, **kw))
    assert sorted(map(tuple, lazy)) == sorted(map(tuple, mat))


def test_phash_pair_materialize_and_fused_expansion_parity(spark):
    """The fused within/across pair expansion + materialize=True must
    reproduce the two-branch union's pair multiset exactly, including
    a planted identical-fingerprint group (the within-group C(g,2)
    path) and near-dup reps (the across path), and release its
    internal checkpoint."""
    from training_datawarehouse_spark.operators import phash as ph

    rows = []
    for i in range(12):
        rows.append((i, 0xAAAA, 0x1111, 0x2222, 0x3333))  # exact group
    rows.append((100, 0xAAAB, 0x1111, 0x2222, 0x3333))    # 2-bit neighbor
    rows.append((101, 0xAAAA, 0x1113, 0x2222, 0x3333))
    rows.append((200, 0x0F0F, 0xF0F0, 0x00FF, 0xFF00))    # far away
    sig = spark.createDataFrame(
        rows, "id long, b0 int, b1 int, b2 int, b3 int")
    lazy = ph.phash_candidate_pairs(sig).collect()
    mat = _materialize_keeps_only_output(
        spark, lambda: ph.phash_candidate_pairs(sig, materialize=True))
    assert sorted(map(tuple, lazy)) == sorted(map(tuple, mat))
    assert len(lazy) > 0


def test_video_pair_matches_materialize_parity(spark):
    from training_datawarehouse_spark.operators import video as vd

    rows = []
    for vid in range(6):
        for f in range(4):
            # videos 0 and 1 share frame fingerprints at offset 0
            base = 0x100 * (vid if vid > 1 else 0)
            rows.append((vid, f, base + f, 7 * f, 3 * f, f))
    sig = spark.createDataFrame(
        rows, "id long, frame int, b0 int, b1 int, b2 int, b3 int")
    lazy = vd.video_pair_matches(sig).collect()
    mat = vd.video_pair_matches(sig, materialize=True).collect()
    assert sorted(map(tuple, lazy)) == sorted(map(tuple, mat))
    assert len(lazy) > 0
