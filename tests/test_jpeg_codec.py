"""Baseline JPEG codec correctness, layered so each stage is pinned
independently of the others (transform, entropy coder, full pipeline,
robustness) — the same strategy the PNG codec tests use.

No external fixtures exist in this container, so correctness rests on
(a) mathematical identities (IDCT∘FDCT = id to float precision),
(b) encode→decode round-trips bounded by the quantization error the
format itself guarantees, and (c) exact marker-metadata checks.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from training_datawarehouse_spark.operators import jpeg
from training_datawarehouse_spark.operators import multimodal as mm


def _gradient(w: int, h: int) -> bytes:
    """Smooth test raster: low quantization error under JPEG."""
    y, x = np.mgrid[0:h, 0:w]
    return ((x * 7 + y * 5) % 256).astype(np.uint8).tobytes()


def _digest_pixels(w: int, h: int, seed: bytes = b"jpeg-test") -> bytes:
    digest = hashlib.md5(seed).digest()
    n = w * h
    return (digest * (n // len(digest) + 1))[:n]


def fdct2(block: np.ndarray) -> np.ndarray:
    """Forward 8×8 DCT (T.81 §A.3.3) on a level-shifted float block,
    through the codec's own DCT matrix."""
    return jpeg._A @ block @ jpeg._A.T


def idct2(coef: np.ndarray) -> np.ndarray:
    """Inverse 8×8 DCT — exact inverse of ``fdct2``."""
    return jpeg._A.T @ coef @ jpeg._A


def test_idct_is_exact_inverse_of_fdct():
    rng = np.random.RandomState(3)
    for _ in range(20):
        block = rng.uniform(-128, 127, size=(8, 8))
        assert np.abs(idct2(fdct2(block)) - block).max() < 1e-10


def test_fdct_dc_coefficient_is_scaled_mean():
    """S(0,0) of a constant block must be 8·value (T.81 normalization)."""
    coef = fdct2(np.full((8, 8), 13.0))
    assert abs(coef[0, 0] - 8 * 13.0) < 1e-9
    assert np.abs(coef.ravel()[1:]).max() < 1e-9


def test_annex_k_huffman_tables_are_canonical():
    for bits, vals in [
        (jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS),
        (jpeg.DC_CHROMA_BITS, jpeg.DC_CHROMA_VALS),
        (jpeg.AC_LUMA_BITS, jpeg.AC_LUMA_VALS),
        (jpeg.AC_CHROMA_BITS, jpeg.AC_CHROMA_VALS),
    ]:
        assert sum(bits) == len(vals)
        # Kraft inequality must hold with room (prefix-free, incomplete
        # code — JPEG reserves the all-ones codes)
        assert sum(n * 2.0 ** -ln for ln, n in enumerate(bits) if ln) <= 1.0


def test_huffman_encode_decode_symbol_roundtrip():
    """Every symbol in every table survives write→read through the
    stuffed-byte bit stream."""
    for bits, vals in [
        (jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS),
        (jpeg.AC_LUMA_BITS, jpeg.AC_LUMA_VALS),
        (jpeg.AC_CHROMA_BITS, jpeg.AC_CHROMA_VALS),
    ]:
        enc = jpeg._huff_encode_map(bits, vals)
        w = jpeg._BitWriter()
        for sym in vals:
            code, ln = enc[sym]
            w.write(code, ln)
        w.flush()
        table = jpeg._HuffTable(bits, vals)
        br = jpeg._BitReader(bytes(w.out))
        got = [table.decode(br) for _ in vals]
        assert got == list(vals)


def test_magnitude_extend_roundtrip():
    for v in list(range(-300, 301)) + [1023, -1023, 2047, -2047]:
        size, bitsv = jpeg._magnitude(v)
        assert jpeg._extend(bitsv, size) == v


@pytest.mark.parametrize("w,h", [(8, 8), (16, 16), (17, 23), (31, 16), (5, 3)])
def test_grayscale_roundtrip_within_quantization_error(w, h):
    src = _gradient(w, h)
    data = jpeg.encode_jpeg(w, h, src, quality=90)
    img = jpeg.decode_jpeg(data)
    assert (img["width"], img["height"], img["n_components"]) == (w, h, 1)
    got = np.frombuffer(img["pixels"], dtype=np.uint8).astype(np.int32)
    ref = np.frombuffer(src, dtype=np.uint8).astype(np.int32)
    err = np.abs(got - ref)
    # smooth image at q90: per-pixel error far below gross corruption,
    # mean error tight — catches any transform/zigzag/predictor bug,
    # which produce errors of magnitude ~128
    assert err.mean() < 4.0, err.mean()
    assert err.max() < 32, err.max()


def test_ycbcr_420_roundtrip_luma_survives():
    w, h = 24, 18
    src = _gradient(w, h)
    data = jpeg.encode_jpeg(w, h, src, quality=90, subsample=True)
    img = jpeg.decode_jpeg(data)
    assert (img["width"], img["height"], img["n_components"]) == (w, h, 3)
    got = np.frombuffer(img["pixels"], dtype=np.uint8).astype(np.int32)
    ref = np.frombuffer(src, dtype=np.uint8).astype(np.int32)
    assert np.abs(got - ref).mean() < 4.0


def test_noise_raster_roundtrip_bounded():
    """Hash-noise pixels (the synthetic corpus content): worst case for
    DCT quantization; the bound is loose but a predictor/zigzag bug
    still lands far outside it."""
    w, h = 16, 16
    src = _digest_pixels(w, h)
    img = jpeg.decode_jpeg(jpeg.encode_jpeg(w, h, src, quality=95))
    got = np.frombuffer(img["pixels"], dtype=np.uint8).astype(np.int32)
    ref = np.frombuffer(src, dtype=np.uint8).astype(np.int32)
    assert np.abs(got - ref).mean() < 24.0
    # DC (block means) must survive tightly even on noise
    assert abs(got.mean() - ref.mean()) < 3.0


def test_decoder_is_deterministic():
    w, h = 17, 19
    data = jpeg.encode_jpeg(w, h, _digest_pixels(w, h), quality=85)
    a = jpeg.decode_jpeg(data)["pixels"]
    b = jpeg.decode_jpeg(data)["pixels"]
    assert a == b


def test_malformed_streams_raise_codec_errors():
    w, h = 16, 16
    good = jpeg.encode_jpeg(w, h, _digest_pixels(w, h))
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(b"\x00\x01\x02")            # not a JPEG
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(good[:20])                  # truncated in headers
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(good[:-30])                 # truncated entropy data
    # progressive SOF2 → honest NotImplementedError (stub-fallback class)
    progressive = good.replace(b"\xFF\xC0", b"\xFF\xC2", 1)
    with pytest.raises(NotImplementedError):
        jpeg.decode_jpeg(progressive)
    # corrupt headers: a scan naming an unknown component, a zero
    # sampling factor, a DHT segment that ends before its 16 counts
    sos, sof, dht = (good.index(m) for m in (b"\xFF\xDA", b"\xFF\xC0", b"\xFF\xC4"))
    for at, byte in ((sos + 5, 0x77), (sof + 11, 0x00), (dht + 3, 3)):
        bad = bytearray(good)
        bad[at] = byte
        with pytest.raises(ValueError):
            jpeg.decode_jpeg(bytes(bad))
        with pytest.raises(ValueError):
            jpeg.decode_jpeg_many([bytes(bad)])


def test_jpeg_decode_meta_adapter():
    w, h = 20, 12
    data = jpeg.encode_jpeg(w, h, _digest_pixels(w, h))
    meta = mm.jpeg_decode_meta(data)
    assert meta["format"] == "jpeg"
    assert (meta["width"], meta["height"]) == (w, h)
    assert meta["n_bytes"] == w * h
    assert len(meta["checksum"]) == 16


def test_sniffed_jpeg_routes_through_real_codec_in_plan(spark):
    """End-to-end through the Spark operators: synthesized JPEG rows
    decode to the md5-rule dims; a progressive payload degrades to the
    stub instead of failing the job."""
    from training_datawarehouse_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(12)
    payloads = mm.synthesize_jpeg_payload(docs, "doc_id", "text")
    metas = mm.decode_metadata(payloads, decode_fn=mm.jpeg_decode_meta)
    rows = metas.join(
        docs.select("doc_id", "text"),
        metas["id"] == docs["doc_id"],
    ).collect()
    assert len(rows) == 12
    for r in rows:
        w, h, _ = mm._md5_dims(r["text"])
        assert (r["width"], r["height"]) == (w, h)
        assert r["n_bytes"] == w * h
        assert r["format"] == "jpeg"
    progressive = jpeg.encode_jpeg(20, 12, _digest_pixels(20, 12)).replace(
        b"\xFF\xC0", b"\xFF\xC2", 1)
    df = spark.createDataFrame([(1, bytearray(progressive))],
                               "id long, payload binary")
    got = mm.decode_metadata(df, decode_fn=mm.jpeg_decode_meta).collect()
    assert got[0].asDict() == {
        "id": 1, **mm.deterministic_fake_decode(progressive)}


def test_batch_decode_falls_back_per_row_on_a_bad_payload(spark):
    """An Arrow batch wide enough for the batch twin
    (``_BATCH_DECODE_MIN``) holding one progressive and one empty
    payload: the twin rejects the batch, the batch is decoded row by
    row, and only those two rows degrade."""
    good = jpeg.encode_jpeg(8, 8, _digest_pixels(8, 8))
    progressive = good.replace(b"\xFF\xC0", b"\xFF\xC2", 1)
    rows = [(i, bytearray(good)) for i in range(mm._BATCH_DECODE_MIN)]
    rows += [(-1, bytearray(progressive)), (-2, bytearray())]
    df = spark.createDataFrame(rows, "id long, payload binary").coalesce(1)
    got = {r["id"]: r.asDict() for r in
           mm.decode_metadata(df, decode_fn=mm.jpeg_decode_meta).collect()}
    assert len(got) == mm._BATCH_DECODE_MIN + 2
    assert got[-1] == {"id": -1, **mm.deterministic_fake_decode(progressive)}
    assert got[-2] == {"id": -2, **dict.fromkeys(mm.MEDIA_META_SCHEMA.names[1:])}
    want = mm.jpeg_decode_meta(good)
    assert all(got[i] == {"id": i, **want} for i in range(mm._BATCH_DECODE_MIN))
