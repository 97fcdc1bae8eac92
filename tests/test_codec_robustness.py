"""Adversarial robustness of the lossless WebP (VP8L) decoder on
corrupted bytes.

The contract: ``decode_webp`` returns a sane raster or raises, in
bounded time, on ANY input. Real crawl data is full of truncated
transfers and bit-rotted cache copies, so this is the contract that
actually gets exercised, and a pure round-trip suite never tests it.

Strategy: start from VALID bytes produced by the module's own encoder,
then apply deterministic corruptions — truncation at many prefixes,
single-bit flips across the file, and random tails behind a valid
magic — and assert decode either succeeds (returning a well-formed
HxWx3/HxWx4-range uint8 array) or raises, within a wall-clock bound
(signal.alarm guards against entropy-decoder infinite loops, the
classic failure mode of hand-rolled Huffman/LZ77 readers). The other
formats' magics in ``test_zero_and_tiny_payloads`` pin that a payload
that is not a RIFF/WEBP container raises.
"""

from __future__ import annotations

import signal

import numpy as np
import pytest

from rlr_spark.functions.vp8l import decode_webp, encode_webp_lossless

_RNG = np.random.default_rng(20260818)
_IMG = _RNG.integers(0, 256, (13, 17, 3), dtype=np.uint8)

# one representative valid payload per decoder path (the corruption
# grid multiplies these, so keep the seed set small but path-diverse):
# cache + LZ77, and the meta-Huffman groups (``vp8l_pred``, an ID
# kept stable across codec changes so fuzz results stay comparable)
_VALID = {
    "vp8l": encode_webp_lossless(_IMG, use_lz77=True, cache_bits=3),
    "vp8l_pred": encode_webp_lossless(_IMG, meta_bits=3),
}

_TIMEOUT_S = 20  # generous: a hung entropy loop never returns at all


class _Hang(Exception):
    pass


def _decode_bounded(payload: bytes):
    """decode_webp with a hard wall-clock bound (hang = test failure)."""

    def _raise(signum, frame):  # pragma: no cover - only fires on a hang
        raise _Hang("decoder exceeded wall-clock bound")

    old = signal.signal(signal.SIGALRM, _raise)
    signal.alarm(_TIMEOUT_S)
    try:
        return decode_webp(payload)
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
