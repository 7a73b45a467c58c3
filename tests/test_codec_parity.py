"""Codec parity gates: the vectorized codec internals must keep results
BYTE-IDENTICAL to their scalar references. These tests pin:

- the array-at-once JPEG entropy ENCODER against the retained
  ``_encode_block`` scalar loop (gray + 4:2:0, multi-frame batches);
- the lane-stepped JPEG batch DECODER against ``decode_jpeg`` —
  including truncated/corrupted streams (identical error classes);
- the vectorized VP8L forward predictor against the scalar
  ``_predict`` loop for every mode, the anti-diagonal inverse of the
  uniform mode-7 transform, and the vectorized color-cache encode
  against the sequential-cache reference loop.
"""
from __future__ import annotations

import hashlib

import numpy as np

from training_datawarehouse_spark.operators import jpeg, vp8l


def _img(seed: str, w: int, h: int, chan: int = 1) -> bytes:
    d = hashlib.md5(seed.encode()).digest()
    n = w * h * chan
    return (d * (n // 16 + 1))[:n]


def _cases():
    out = []
    for i in range(24):
        d = hashlib.md5(str(i).encode()).digest()
        out.append((16 + d[0] % 16, 16 + d[1] % 16, d))
    return out


# ------------------- pre-r17 reference: scalar JPEG entropy encoder

def _encode_jpeg_ref(width, height, pixels, quality=85, subsample=False):
    """The r16 implementation, verbatim in structure: per-block
    ``_encode_block`` + per-image ``_BitWriter`` flush."""
    import struct

    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    ql = jpeg._quality_scale(jpeg.QUANT_LUMA, quality)
    qc = jpeg._quality_scale(jpeg.QUANT_CHROMA, quality)
    dc_l = jpeg._huff_encode_map(jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS)
    ac_l = jpeg._huff_encode_map(jpeg.AC_LUMA_BITS, jpeg.AC_LUMA_VALS)
    dc_c = jpeg._huff_encode_map(jpeg.DC_CHROMA_BITS, jpeg.DC_CHROMA_VALS)
    ac_c = jpeg._huff_encode_map(jpeg.AC_CHROMA_BITS, jpeg.AC_CHROMA_VALS)
    ZZ, A = jpeg.ZIGZAG, jpeg._A
    out = bytearray(jpeg._jpeg_header(width, height, quality, subsample))

    def grid_coefs(plane, qt8):
        gy, gx = plane.shape[0] // 8, plane.shape[1] // 8
        blocks = (plane.reshape(gy, 8, gx, 8).transpose(0, 2, 1, 3)
                  .reshape(gy * gx, 8, 8))
        return np.round((A @ (blocks - 128.0) @ A.T) / qt8).astype(np.int32)

    w = jpeg._BitWriter()
    if not subsample:
        ph, pw = -(-height // 8) * 8, -(-width // 8) * 8
        padded = np.pad(img, ((0, ph - height), (0, pw - width)),
                        mode="edge").astype(np.float64)
        zzs = grid_coefs(padded, ql.astype(np.float64).reshape(8, 8))
        zzs = zzs.reshape(-1, 64)[:, ZZ].tolist()
        pred = 0
        for zz in zzs:
            pred = jpeg._encode_block(w, zz, pred, dc_l, ac_l)
    else:
        ch_, cw = -(-height // 2), -(-width // 2)
        pad_y = np.pad(img, ((0, ch_ * 2 - height), (0, cw * 2 - width)),
                       mode="edge").astype(np.float64)
        mean2 = (pad_y[0::2, 0::2] + pad_y[0::2, 1::2]
                 + pad_y[1::2, 0::2] + pad_y[1::2, 1::2]) / 4.0
        cb, cr = 255.0 - mean2, mean2.copy()
        ql8 = ql.astype(np.float64).reshape(8, 8)
        qc8 = qc.astype(np.float64).reshape(8, 8)
        mby, mbx = -(-height // 16), -(-width // 16)
        ypad = np.pad(img, ((0, mby * 16 - height), (0, mbx * 16 - width)),
                      mode="edge").astype(np.float64)
        cbp = np.pad(cb, ((0, mby * 8 - cb.shape[0]),
                          (0, mbx * 8 - cb.shape[1])), mode="edge")
        crp = np.pad(cr, ((0, mby * 8 - cr.shape[0]),
                          (0, mbx * 8 - cr.shape[1])), mode="edge")
        yzz = grid_coefs(ypad, ql8).reshape(-1, 64)[:, ZZ].tolist()
        czz = [grid_coefs(cbp, qc8).reshape(-1, 64)[:, ZZ].tolist(),
               grid_coefs(crp, qc8).reshape(-1, 64)[:, ZZ].tolist()]
        preds = [0, 0, 0]
        for my in range(mby):
            for mx in range(mbx):
                for sy in range(2):
                    for sx in range(2):
                        i = (my * 2 + sy) * (mbx * 2) + (mx * 2 + sx)
                        preds[0] = jpeg._encode_block(
                            w, yzz[i], preds[0], dc_l, ac_l)
                for ci in (1, 2):
                    i = my * mbx + mx
                    preds[ci] = jpeg._encode_block(
                        w, czz[ci - 1][i], preds[ci], dc_c, ac_c)
    w.flush()
    out += w.out
    out += b"\xFF\xD9"
    return bytes(out)


def test_jpeg_encode_matches_scalar_reference():
    for w, h, d in _cases():
        px = _img(f"{w}x{h}", w, h)
        for q, sub in ((85, bool(d[3] % 2)), (90, False), (95, True)):
            assert jpeg.encode_jpeg(w, h, px, quality=q, subsample=sub) \
                == _encode_jpeg_ref(w, h, px, quality=q, subsample=sub)


def test_jpeg_batch_apis_match_per_image():
    items = [(w, h, _img(str(i), w, h), bool(d[3] % 2))
             for i, (w, h, d) in enumerate(_cases())]
    batch = jpeg.encode_jpeg_batch(items)
    for (w, h, px, sub), enc in zip(items, batch):
        assert enc == jpeg.encode_jpeg(w, h, px, subsample=sub)
    clips = [(w, h, [_img(f"{i}/{f}", w, h) for f in range(2 + d[2] % 7)])
             for i, (w, h, d) in enumerate(_cases()[:8])]
    many = jpeg.encode_jpeg_frames_many(clips)
    for (w, h, frames), encs in zip(clips, many):
        assert encs == [jpeg.encode_jpeg(w, h, f) for f in frames]


def test_jpeg_lane_decoder_matches_scalar():
    payloads = [
        jpeg.encode_jpeg(w, h, _img(str(i), w, h),
                         subsample=bool(d[3] % 2))
        for i, (w, h, d) in enumerate(_cases())
    ]
    assert jpeg.decode_jpeg_many(payloads) \
        == [jpeg.decode_jpeg(p) for p in payloads]


def test_jpeg_lane_decoder_error_parity():
    w, h, d = _cases()[0]
    good = jpeg.encode_jpeg(w, h, _img("err", w, h))
    for mutate in (
        lambda b: b[:len(b) - 6],                 # truncated entropy
        lambda b: b[:len(b) * 2 // 3],            # truncated harder
        lambda b: b[:len(b) // 2 + 1] + bytes([b[len(b) // 2 + 1] ^ 0x5A])
        + b[len(b) // 2 + 2:],                     # bit corruption
    ):
        bad = mutate(bytearray(good))
        bad = bytes(bad)
        r1 = e1 = r2 = e2 = None
        try:
            r1 = jpeg.decode_jpeg(bad)
        except Exception as e:  # noqa: BLE001
            e1 = type(e)
        try:
            r2 = jpeg.decode_jpeg_many([bad])[0]
        except Exception as e:  # noqa: BLE001
            e2 = type(e)
        assert e1 == e2 and r1 == r2


# --------------------------------- VP8L: vectorized kernels vs scalar

def test_vp8l_predict_plane_matches_scalar_all_modes():
    h, w = 11, 9
    rgba = _img("pp", w, h, 4)
    rg = np.frombuffer(rgba, dtype=np.uint8).reshape(h, w, 4)
    ch = rg[..., [3, 0, 1, 2]].copy()
    pixels = vp8l._to_ints(ch)
    for mode in range(14):
        plane = vp8l._predict_plane(mode, ch)
        for y in range(h):
            for x in range(w):
                i = y * w + x
                if x == 0 and y == 0:
                    pred = 0xFF000000
                elif y == 0:
                    pred = pixels[i - 1]
                elif x == 0:
                    pred = pixels[i - w]
                else:
                    pred = vp8l._predict(
                        mode, pixels[i - 1], pixels[i - w],
                        pixels[i - w - 1], pixels[i - w + 1])
                got = (int(plane[y, x, 0]) << 24) | (int(plane[y, x, 1]) << 16) \
                    | (int(plane[y, x, 2]) << 8) | int(plane[y, x, 3])
                assert got == pred, (mode, y, x)


def test_vp8l_inverse_avg2_matches_scalar():
    h, w = 13, 10
    res = np.frombuffer(_img("inv7", w, h, 4), dtype=np.uint8).reshape(
        h, w, 4).copy()
    ch = res.copy()
    vp8l._inverse_avg2_lt(ch)
    # scalar reference: the general-mode loop with uniform mode 7
    px = vp8l._to_ints(res)
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = px[i - 1]
            elif x == 0:
                pred = px[i - w]
            else:
                pred = vp8l._predict(
                    7, px[i - 1], px[i - w], px[i - w - 1], px[i - w + 1])
            px[i] = vp8l._add_pixels(px[i], pred)
    assert vp8l._to_ints(ch) == px


def test_vp8l_cache_encode_matches_sequential_reference():
    """The vectorized hit detection must reproduce the sequential
    cache loop symbol-for-symbol (same stream bytes out)."""
    for i, (w, h, d) in enumerate(_cases()):
        rgba = _img(f"cc{i}", w, h, 4)
        for cb in (1, 4, 6, 11):
            enc = vp8l.encode_vp8l(w, h, rgba, cache_bits=cb)
            dec = vp8l.decode_vp8l(enc)
            assert dec["pixels"] == rgba
            # reference hit sequence via the sequential cache
            px = np.frombuffer(rgba, np.uint8).reshape(h, w, 4)
            ints = vp8l._to_ints(px[..., [3, 0, 1, 2]].copy())
            cache = [None] * (1 << cb)
            ref_hits = []
            for p in ints:
                idx = vp8l._cache_index(p, cb)
                ref_hits.append(cache[idx] == p)
                cache[idx] = p
            hv = ((np.asarray(ints, dtype=np.int64) * vp8l._HASH_MUL)
                  & 0xFFFFFFFF) >> (32 - cb)
            order = np.argsort(hv, kind="stable")
            same = np.zeros(len(ints), dtype=bool)
            same[1:] = (hv[order][1:] == hv[order][:-1]) & (
                np.asarray(ints)[order][1:] == np.asarray(ints)[order][:-1])
            hit = np.empty(len(ints), dtype=bool)
            hit[order] = same
            assert hit.tolist() == ref_hits


def test_vp8l_roundtrip_option_mix():
    for i, (w, h, d) in enumerate(_cases()):
        rgba = _img(f"mix{i}", w, h, 4)
        enc = vp8l.encode_vp8l(
            w, h, rgba,
            subtract_green=bool(d[4] % 2),
            predictor_mode=[None, 1, 2, 7][d[5] % 4],
            cache_bits=[0, 6][d[6] % 2])
        assert vp8l.decode_vp8l(enc)["pixels"] == rgba
