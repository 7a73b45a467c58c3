"""WebP-lossless (VP8L) codec: round-trips, spec edges, honest limits.

The encoder emits minimal-but-valid streams; the decoder implements
the general bitstream machinery (canonical prefix codes incl. the
code-length code, color cache, transforms). Round-trips therefore
exercise the decoder's general paths with real encoded bytes, the
same strategy as the sibling PNG/JPEG codecs."""

from __future__ import annotations

import hashlib
import struct

import pytest

from training_datawarehouse_spark.operators import multimodal as mm
from training_datawarehouse_spark.operators import vp8l


def _rgba(w: int, h: int, seed: bytes) -> bytes:
    d = hashlib.md5(seed).digest()
    n = w * h * 4
    return bytes((d * (n // 16 + 1))[:n])


def test_roundtrip_plain_and_options():
    """Every encoder option combination decodes to the exact raster:
    subtract-green, all predictor modes incl. Select and the clamped
    add/subtract pair, and color-cache sizes (cache hits occur because
    the tiled 16-byte digest repeats pixels)."""
    for (w, h) in [(1, 1), (3, 2), (16, 16), (31, 17)]:
        for sg in (False, True):
            for pm in (None, 0, 1, 2, 5, 7, 11, 12, 13):
                for cb in (0, 4, 8):
                    raw = _rgba(w, h, f"{w}x{h}{sg}{pm}{cb}".encode())
                    enc = vp8l.encode_vp8l(
                        w, h, raw, subtract_green=sg,
                        predictor_mode=pm, cache_bits=cb,
                    )
                    dec = vp8l.decode_vp8l(enc)
                    assert (dec["width"], dec["height"]) == (w, h)
                    assert dec["pixels"] == raw


def test_simple_prefix_codes_and_alpha_hint():
    """1- and 2-symbol alphabets take the spec's 'simple' code form;
    the header alpha hint reflects the raster."""
    opaque = b"\x10\x20\x30\xff" * 25
    dec = vp8l.decode_vp8l(vp8l.encode_vp8l(5, 5, opaque))
    assert dec["pixels"] == opaque and dec["has_alpha"] is False

    translucent = (b"\x10\x20\x30\xff" + b"\x50\x60\x70\x80") * 8
    dec = vp8l.decode_vp8l(vp8l.encode_vp8l(4, 4, translucent))
    assert dec["pixels"] == translucent and dec["has_alpha"] is True


def test_honest_rejections():
    """Unsupported layers raise into the codec-error set (degrading to
    the stub path in the pipeline) instead of mis-decoding."""
    raw = _rgba(4, 4, b"rej")
    good = vp8l.encode_vp8l(4, 4, raw)

    # not RIFF / not VP8L flavor
    with pytest.raises(ValueError):
        vp8l.decode_vp8l(b"\x89PNG" + bytes(40))
    lossy = good[:12] + b"VP8 " + good[16:]
    with pytest.raises(NotImplementedError):
        vp8l.decode_vp8l(lossy)

    # color-indexing transform (type 3): hand-built header
    bw = vp8l._BitWriter()
    bw.write(3, 14)   # width-1
    bw.write(3, 14)   # height-1
    bw.write(0, 1)    # alpha
    bw.write(0, 3)    # version
    bw.write(1, 1)    # transform present
    bw.write(3, 2)    # color-indexing
    payload = b"\x2f" + bw.tobytes()
    data = (b"RIFF" + struct.pack("<I", 12 + len(payload)) + b"WEBP"
            + b"VP8L" + struct.pack("<I", len(payload)) + payload)
    with pytest.raises(NotImplementedError):
        vp8l.decode_vp8l(data)

    # truncation mid-bitstream
    with pytest.raises((EOFError, ValueError)):
        vp8l.decode_vp8l(good[:24] + b"\x00" * 2)

    for exc in (ValueError, NotImplementedError, EOFError):
        assert exc in mm._CODEC_ERRORS  # pipeline degrade contract


def test_webp_decode_meta_matches_synthesis_rule():
    """The pipeline adapter reports the md5-rule dims and the RGBA
    raster size (4wh) — the values the SQL oracle recomputes."""
    text = "the quick brown fox jumps over the lazy dog"
    w, h, digest = mm._md5_dims(text)
    raw = _rgba(w, h, text.encode())
    # same construction as synthesize_webp_payload
    enc = vp8l.encode_vp8l(
        w, h, (digest * (w * h * 4 // 16 + 1))[:w * h * 4],
        subtract_green=bool(digest[4] % 2),
        predictor_mode=[None, 1, 2, 7][digest[5] % 4],
        cache_bits=[0, 6][digest[6] % 2],
    )
    meta = mm.webp_decode_meta(enc)
    assert meta["format"] == "webp"
    assert (meta["width"], meta["height"]) == (w, h)
    assert meta["n_bytes"] == w * h * 4
    assert len(meta["checksum"]) == 16
    assert raw  # dims rule sanity: raster non-empty


def test_full_prefix_code_form_used():
    """A many-symbol raster must route through the full (code-length
    coded) prefix form, not the simple form — asserted by decoding a
    stream whose green alphabet has >2 used symbols."""
    w = h = 16
    raw = bytes(range(256)) * 4  # 256 distinct byte values
    enc = vp8l.encode_vp8l(w, h, raw)
    assert vp8l.decode_vp8l(enc)["pixels"] == raw
    # and the stream is not trivially large (codes are entropy-sized)
    assert len(enc) < len(raw)


def test_simple_code_cannot_carry_wide_symbols():
    """Regression (r5 review): a uniform-color raster with a color
    cache makes the green alphabet exactly {literal, cache symbol >
    255}; the spec's simple form carries symbols in 8 bits, so the
    encoder must fall through to the full form — the old 8-bit write
    silently truncated the cache symbol and decoded the WRONG pixels
    (no exception)."""
    raw = b"\x10\x20\x30\xff" * 9
    for cb in (1, 4, 11):
        enc = vp8l.encode_vp8l(3, 3, raw, cache_bits=cb)
        assert vp8l.decode_vp8l(enc)["pixels"] == raw


def test_mode13_divides_toward_zero():
    """Spec's ClampAddSubtractHalf divides C-style (toward zero):
    ave=10, tl=13 → 10 + trunc(-3/2) = 9, not floor's 8."""
    ave_src = (0xFF << 24) | (10 << 16) | (10 << 8) | 10
    tl = (0xFF << 24) | (13 << 16) | (13 << 8) | 13
    # left == top == ave_src so Average2(L, T) == ave_src exactly
    out = vp8l._predict(13, ave_src, ave_src, tl, 0)
    assert (out >> 16) & 0xFF == 9


def test_encoder_validates_dims():
    raw4 = _rgba(2, 2, b"v")
    with pytest.raises(ValueError, match="14-bit"):
        vp8l.encode_vp8l(0, 2, b"")
    with pytest.raises(ValueError, match="512"):
        vp8l.encode_vp8l(600, 1, bytes(600 * 4), predictor_mode=7)
    assert vp8l.decode_vp8l(vp8l.encode_vp8l(2, 2, raw4))["pixels"] == raw4


def test_fuzz_decoder_raises_cleanly():
    """Garbage bytes — including garbage wrapped in a valid-looking
    container — must raise a codec-set error promptly (never hang,
    never allocate a giant raster from a lying header)."""
    import random

    rng = random.Random(20260814)
    good = vp8l.encode_vp8l(4, 4, _rgba(4, 4, b"fz"))
    for trial in range(300):
        n = rng.randrange(0, 80)
        junk = bytes(rng.randrange(256) for _ in range(n))
        data = junk if trial % 2 else good[:20] + junk
        try:
            vp8l.decode_vp8l(data)
        except mm._CODEC_ERRORS:
            pass  # the contract: degrade, don't crash differently

    # header claiming a 16384x16384 raster: refused before allocation
    bw = vp8l._BitWriter()
    bw.write(16383, 14)
    bw.write(16383, 14)
    bw.write(0, 4)
    payload = b"\x2f" + bw.tobytes() + b"\x00" * 8
    data = (b"RIFF" + struct.pack("<I", 12 + len(payload)) + b"WEBP"
            + b"VP8L" + struct.pack("<I", len(payload)) + payload)
    with pytest.raises(ValueError, match="cap"):
        vp8l.decode_vp8l(data)


def test_predictor_edge_rules():
    """Spec edge rules: (0,0) predicts opaque black, row 0 uses L,
    column 0 uses T — a gradient raster hits all three."""
    w, h = 8, 8
    raw = bytes(
        v for y in range(h) for x in range(w)
        for v in (x * 16, y * 16, (x + y) * 8, 255)
    )
    for mode in (0, 2, 7, 11, 12, 13):
        enc = vp8l.encode_vp8l(w, h, raw, predictor_mode=mode)
        assert vp8l.decode_vp8l(enc)["pixels"] == raw, f"mode {mode}"
