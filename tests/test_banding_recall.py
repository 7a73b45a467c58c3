"""Banding recall against exact all-pairs ground truth.

`phash_candidate_pairs` is an LSH shortcut: it only CHECKS pairs that
share a 16-bit band. Multi-index hashing (Norouzi et al. 2012) makes
the guarantee exact for Hamming < m (= 4 bands): such a pair has a
clean band by pigeonhole, so recall@<=3 MUST be 1.0 — asserted here
as a hard invariant, not a statistic. For 4..6 the clean band is
probabilistic; the measured corpus floor is gated so a regression in
the banding (or a band-layout change that silently concentrates
errors) fails CI.

Ground truth: exact all-pairs Hamming over the sf0.001 corpus
signatures on the driver (500 docs -> 124 750 pairs — cheap in numpy,
and deliberately a different code path than the Spark operator).
"""
from __future__ import annotations

import numpy as np
import pytest

from training_datawarehouse_spark.operators import audiofp as afp
from training_datawarehouse_spark.operators import phash as ph
from training_datawarehouse_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _exact_pairs(sig_rows, max_hamming: int) -> dict[tuple[int, int], int]:
    ids = np.array([r["id"] for r in sig_rows], dtype=np.int64)
    bands = np.array([[r[f"b{k}"] for k in range(4)] for r in sig_rows],
                     dtype=np.int64)
    # 64-bit hash per row from the 4 bands, then all-pairs popcount
    full = (bands[:, 0] | (bands[:, 1] << 16) | (bands[:, 2] << 32)
            | (bands[:, 3] << 48))
    x = full[:, None] ^ full[None, :]
    # vectorized popcount via uint8 view
    ham = np.unpackbits(
        x.astype(np.uint64).view(np.uint8).reshape(len(ids), len(ids), 8),
        axis=2).sum(axis=2)
    out = {}
    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            if ham[i, j] <= max_hamming:
                a, b = ids[i], ids[j]
                out[(min(a, b), max(a, b))] = int(ham[i, j])
    return out


@pytest.fixture(scope="module")
def corpus_sigs(spark):
    docs = load_table(spark, SF_DIR, "documents")
    fused = afp.fused_multimodal_signatures(docs, "doc_id", "text").collect()
    img = [{"id": r["id"], **{f"b{k}": r[f"ib{k}"] for k in range(4)}}
           for r in fused]
    aud = [{"id": r["id"], **{f"b{k}": r[f"ab{k}"] for k in range(4)}}
           for r in fused]
    return img, aud


@pytest.mark.parametrize("modality", ["image", "audio"])
def test_banding_recall_guarantee_and_corpus_floor(spark, corpus_sigs,
                                                   modality):
    img, aud = corpus_sigs
    rows = img if modality == "image" else aud
    truth = _exact_pairs(rows, ph.DEFAULT_MAX_HAMMING)
    sig_df = spark.createDataFrame(
        [(r["id"], r["b0"], r["b1"], r["b2"], r["b3"]) for r in rows],
        "id long, b0 int, b1 int, b2 int, b3 int")
    got = {(r.id_a, r.id_b): r.hamming
           for r in ph.phash_candidate_pairs(sig_df).collect()}

    # found pairs must be a SUBSET of truth with identical distances
    # (banding can only miss, never invent)
    for p, h in got.items():
        assert truth.get(p) == h, p

    # pigeonhole guarantee: ham < 4 => some band clean => found
    # (modulo the hot-bucket cap, which this corpus does not hit)
    missed_guaranteed = [p for p, h in truth.items()
                         if h <= 3 and p not in got]
    assert missed_guaranteed == []

    # corpus floor for the probabilistic 4..6 range — MEASURED, not
    # hoped: image 0.533 (24/45), audio 0.776 (97/125) at sf0.001.
    # Perceptual-hash bit errors are NOT uniformly spread (a changed
    # token perturbs DCT/DFT coefficients across the spectrum), so
    # the no-clean-band event is common at 4-6 errors — the honest
    # cost of m=4 banding (SCALE.md r9). Floors sit under the
    # measurements; a real banding regression lands near zero.
    probable = {p for p, h in truth.items() if 4 <= h <= 6}
    if probable:
        recall = len(probable & set(got)) / len(probable)
        assert recall >= (0.45 if modality == "image" else 0.65), recall
