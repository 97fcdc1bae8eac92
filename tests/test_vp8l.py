"""VP8L (WebP lossless) codec tests.

Validation strategy (the sandbox has no libwebp and no wild WebP
bytes — a documented boundary):

1. the LZ77 distance map is pinned by TWO independent derivations —
   the literal spec table vs its generation rule — which must agree;
2. a hand-assembled micro-stream (independent bit assembly, not the
   module's writer) decodes to exact known pixels;
3. encoder round-trips cover each encoder option: color cache, LZ77
   (2D and linear distances), meta-Huffman groups, and cache with LZ77.

A stream with a transform bit set raises ``NotImplementedError``
(pinned on the hand-assembled stream).
"""

import numpy as np
import pytest

from rlr_spark.functions.vp8l import (
    _DIST_MAP,
    decode_vp8l_stream,
    decode_webp,
    encode_webp_lossless,
    generated_dist_map,
)


def _noise_img(h=24, w=31, seed=7):
    rng = np.random.RandomState(seed)
    img = np.zeros((h, w, 3), np.uint8)
    img[: h // 3] = [200, 30, 90]  # flat region: LZ77/cache fodder
    img[h // 3: 2 * h // 3] = np.linspace(0, 255, w, dtype=np.uint8)[None, :, None]
    img[2 * h // 3:] = rng.randint(0, 256, (h - 2 * (h // 3), w, 3), dtype=np.uint8)
    return img


def test_dist_map_two_independent_derivations_agree():
    gen = generated_dist_map()
    assert len(_DIST_MAP) == 120
    assert gen == _DIST_MAP
    # spot invariants straight from the spec text
    assert _DIST_MAP[:4] == ((0, 1), (1, 0), (1, 1), (-1, 1))
    assert len(set(_DIST_MAP)) == 120
    norms = [dx * dx + dy * dy for dx, dy in _DIST_MAP]
    assert norms == sorted(norms)


def test_hand_assembled_micro_stream():
    """1x1 pixel assembled bit-by-bit, independent of the encoder."""
    bits = []

    def put(v, n):
        for i in range(n):
            bits.append((v >> i) & 1)

    put(0, 14)  # width - 1
    put(0, 14)  # height - 1
    put(0, 1)   # alpha hint
    put(0, 3)   # version
    put(0, 1)   # no transforms
    put(0, 1)   # no color cache
    put(0, 1)   # no meta-huffman
    for sym in (200, 12, 99, 255):  # green, red, blue, alpha codes
        put(1, 1)  # simple code
        put(0, 1)  # 1 symbol
        put(1, 1)  # 8-bit symbol
        put(sym, 8)
    put(1, 1)  # distance code: simple
    put(0, 1)  # 1 symbol
    put(0, 1)  # 1-bit symbol
    put(0, 1)  # symbol 0
    # pixel stream: every code is single-symbol -> zero bits

    def payload():
        buf = bytearray((len(bits) + 7) // 8)
        for i, b in enumerate(bits):
            buf[i // 8] |= b << (i % 8)
        return bytes([0x2F]) + bytes(buf)

    out = decode_vp8l_stream(payload())
    assert out.shape == (1, 1, 3)
    assert out[0, 0].tolist() == [12, 200, 99]  # RGB from (G=200,R=12,B=99)
    # the same bits with the transform-present bit set: valid VP8L that
    # this module refuses rather than decodes
    bits[14 + 14 + 1 + 3] = 1
    with pytest.raises(NotImplementedError, match="transform"):
        decode_vp8l_stream(payload())


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"cache_bits": 4},
        {"cache_bits": 11},
        {"use_lz77": True},
        {"use_lz77": True, "cache_bits": 6},
        {"meta_bits": 3},
    ],
    ids=lambda kw: "+".join(sorted(kw)) or "plain",
)
def test_roundtrip_feature_matrix(kw):
    img = _noise_img()
    data = encode_webp_lossless(img, **kw)
    assert data[:4] == b"RIFF" and data[8:12] == b"WEBP"
    assert np.array_equal(decode_webp(data), img)


@pytest.mark.parametrize("shape", [(1, 1), (1, 9), (9, 1), (64, 3)])
def test_roundtrip_degenerate_shapes(shape):
    rng = np.random.RandomState(shape[0] * 64 + shape[1])
    img = rng.randint(0, 256, (*shape, 3), dtype=np.uint8)
    assert np.array_equal(decode_webp(encode_webp_lossless(img)), img)


def test_lz77_uses_both_2d_and_linear_distances():
    # vertical stripes -> dist=1 runs; repeated rows -> dist=w (2D code 1)
    img = np.tile(np.array([[10, 20, 30]], np.uint8), (16, 40, 1))
    data = encode_webp_lossless(img, use_lz77=True)
    assert np.array_equal(decode_webp(data), img)
    # tiny image where dist exceeds the 2D window -> linear code path
    rng = np.random.RandomState(3)
    base = rng.randint(0, 256, (1, 300, 3), dtype=np.uint8)
    img = np.vstack([base] * 3).reshape(3, 300, 3)
    assert np.array_equal(decode_webp(encode_webp_lossless(img, use_lz77=True)), img)


def test_lossy_vp8_raises_not_implemented():
    import struct

    body = b"\x00" * 10
    chunk = b"VP8 " + struct.pack("<I", len(body)) + body
    riff = b"WEBP" + chunk
    data = b"RIFF" + struct.pack("<I", len(riff)) + riff
    with pytest.raises(NotImplementedError, match="lossy"):
        decode_webp(data)


def test_malformed_streams_raise_value_error():
    with pytest.raises(ValueError):
        decode_webp(b"RIFFxxxxNOPE")
    with pytest.raises(ValueError):
        decode_vp8l_stream(b"\x00\x01\x02")
    good = encode_webp_lossless(np.zeros((4, 4, 3), np.uint8))
    with pytest.raises(ValueError):
        decode_vp8l_stream(good[20:25])  # truncated mid-stream
