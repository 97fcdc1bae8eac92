"""Adversarial robustness of the image codecs (P6 PPM, PNG, lossless
WebP) on corrupted bytes.

The `image_stats` contract (multimodal.py): a malformed payload yields
``decoded = false``, NEVER a task failure — which requires every codec
to either decode or raise a plain Exception in bounded time on ANY
input. Real crawl data (the 100 TB target) is full of truncated
transfers and bit-rotted cache copies, so this is the contract that
actually gets exercised in production, and a pure round-trip suite
never tests it.

Strategy: start from VALID bytes produced by the repo's own encoders,
then apply deterministic corruptions — truncation at many prefixes,
single-bit flips across the file, and random tails behind a valid
magic — and assert decode either succeeds (returning a well-formed
HxWx3/HxWx4-range uint8 array) or raises, within a wall-clock bound
(signal.alarm guards against entropy-decoder infinite loops, the
classic failure mode of hand-rolled Huffman/LZ77 readers). The JPEG
and GIF magics in ``test_zero_and_tiny_payloads`` have no decoder: they
pin that a retired format falls through to ``NotImplementedError``.
"""

from __future__ import annotations

import signal
import zlib

import numpy as np
import pytest

from rlr_spark.functions.multimodal import (
    decode_image,
    encode_png,
    encode_ppm,
)
from rlr_spark.functions.vp8l import encode_webp_lossless

_RNG = np.random.default_rng(20260818)
_IMG = _RNG.integers(0, 256, (13, 17, 3), dtype=np.uint8)

# one representative valid payload per codec family (the corruption
# grid multiplies these, so keep the seed set small but format-diverse)
_VALID = {
    "ppm": encode_ppm(_IMG),
    "png": encode_png(_IMG),
    "vp8l": encode_webp_lossless(_IMG, use_lz77=True, cache_bits=3),
    "vp8l_pred": encode_webp_lossless(
        _IMG, subtract_green=True, predictor_mode=None, meta_bits=3
    ),
}

_TIMEOUT_S = 20  # generous: a hung entropy loop never returns at all


class _Hang(Exception):
    pass


def _decode_bounded(payload: bytes):
    """decode_image with a hard wall-clock bound (hang = test failure)."""

    def _raise(signum, frame):  # pragma: no cover - only fires on a hang
        raise _Hang("decoder exceeded wall-clock bound")

    old = signal.signal(signal.SIGALRM, _raise)
    signal.alarm(_TIMEOUT_S)
    try:
        return decode_image(payload)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


def _assert_contract(payload: bytes):
    """Decode must return a sane uint8 raster or raise — nothing else."""
    try:
        out = _decode_bounded(payload)
    except _Hang:
        raise
    except Exception:
        return  # raising is the contract's OK path for malformed bytes
    assert isinstance(out, np.ndarray), type(out)
    assert out.dtype == np.uint8, out.dtype
    assert out.ndim == 3 and out.shape[2] in (3, 4), out.shape
    assert 0 < out.shape[0] <= 1 << 14 and 0 < out.shape[1] <= 1 << 14


@pytest.mark.parametrize("fmt", sorted(_VALID))
def test_valid_bytes_decode(fmt):
    out = _decode_bounded(_VALID[fmt])
    assert out.shape[:2] == _IMG.shape[:2]


@pytest.mark.parametrize("fmt", sorted(_VALID))
def test_truncations(fmt):
    data = _VALID[fmt]
    # every "interesting" prefix: headers, mid-entropy-stream, last byte
    cuts = sorted(
        {1, 2, 4, 8, 12, 16, 24, 32, len(data) // 4, len(data) // 2,
         3 * len(data) // 4, len(data) - 2, len(data) - 1}
    )
    for n in cuts:
        if 0 < n < len(data):
            _assert_contract(data[:n])


@pytest.mark.parametrize("fmt", sorted(_VALID))
def test_bit_flips(fmt):
    data = bytearray(_VALID[fmt])
    # deterministic grid of single-bit flips across the whole file —
    # headers, dimension fields, Huffman tables, entropy payload alike
    positions = sorted({int(p) for p in np.linspace(0, len(data) - 1, 64)})
    for pos in positions:
        for bit in (0, 3, 7):
            mut = bytearray(data)
            mut[pos] ^= 1 << bit
            _assert_contract(bytes(mut))


@pytest.mark.parametrize("fmt", sorted(_VALID))
def test_random_tail_behind_valid_magic(fmt):
    data = _VALID[fmt]
    rng = np.random.default_rng(7)
    for keep in (8, 16, 32):
        if keep >= len(data):
            continue
        for _ in range(4):
            tail = rng.integers(0, 256, len(data) - keep, dtype=np.uint8)
            _assert_contract(data[:keep] + tail.tobytes())


def test_zero_and_tiny_payloads():
    for payload in (b"", b"\x00", b"RIFF", b"RIFF\x00\x00\x00\x00WEBP",
                    b"\x89PNG\r\n\x1a\n", b"GIF89a", b"\xff\xd8\xff", b"P6"):
        _assert_contract(payload)


def test_png_with_corrupt_zlib_stream():
    # valid chunk framing (lengths + CRCs recomputed) around garbage
    # IDAT content — exercises the path where zlib itself raises vs
    # where it inflates garbage that then fails scanline un-filtering
    valid = _VALID["png"]
    sig, rest = valid[:8], valid[8:]
    out = [sig]
    i = 0
    while i < len(rest):
        (ln,) = np.frombuffer(rest[i : i + 4], dtype=">u4")
        typ = rest[i + 4 : i + 8]
        body = rest[i + 8 : i + 8 + int(ln)]
        if typ == b"IDAT":
            body = zlib.compress(bytes(_RNG.integers(0, 256, 64, dtype=np.uint8)))
        chunk = (
            np.array([len(body)], dtype=">u4").tobytes()
            + typ
            + body
            + np.array([zlib.crc32(typ + body) & 0xFFFFFFFF], dtype=">u4").tobytes()
        )
        out.append(chunk)
        i += 12 + int(ln)
    _assert_contract(b"".join(out))


# --- audio (WAV/PCM16) — same contract, same corruption grid ------------


def test_wav_corruptions():
    from rlr_spark.functions.multimodal import encode_wav_pcm16, parse_wav

    samples = (np.sin(np.linspace(0, 40, 800)) * 20000).astype(np.int16)
    data = encode_wav_pcm16(samples, sample_rate=8000)

    def contract(payload: bytes):
        def _raise(signum, frame):  # pragma: no cover
            raise _Hang("wav parser exceeded wall-clock bound")

        old = signal.signal(signal.SIGALRM, _raise)
        signal.alarm(_TIMEOUT_S)
        try:
            meta, pcm = parse_wav(payload)
        except _Hang:
            raise
        except Exception:
            return
        finally:
            signal.alarm(0)
            signal.signal(signal.SIGALRM, old)
        assert isinstance(pcm, np.ndarray) and pcm.dtype == np.int16

    for n in (1, 4, 8, 12, 20, 44, len(data) // 2, len(data) - 1):
        if 0 < n < len(data):
            contract(data[:n])
    for pos in sorted({int(p) for p in np.linspace(0, len(data) - 1, 48)}):
        mut = bytearray(data)
        mut[pos] ^= 0x10
        contract(bytes(mut))
