"""Pure-Python WebP-lossless (VP8L) codec — decoder AND encoder.

The one image codec left in the package, entered through
:func:`decode_webp`: VP8L is Huffman + LZ77 + a color cache, no DCT
and no arithmetic coder, so it is pure-Python tractable. Two kinds of
valid WebP raise ``NotImplementedError`` instead of decoding: lossy
VP8 (boolean arithmetic coder + prediction DSP), and a VP8L stream
whose transform-present bit is set (the predictor, cross-color,
subtract-green and color-indexing transforms are not implemented).

Format (public: "WebP Lossless Bitstream Specification", Google):

- RIFF container: ``RIFF <size> WEBP`` then chunks; the ``VP8L`` chunk
  carries the lossless stream (a ``VP8X`` extended header may precede
  it). Lossy streams use a ``VP8 `` chunk — those raise.
- VP8L stream: signature byte 0x2F, then an LSB-first bitstream:
  14-bit width-1, 14-bit height-1, 1 alpha-hint bit, 3 version bits
  (must be 0), then the image stream.
- Image stream = optional transforms (main image only; they raise
  here), optional color cache, optional meta-Huffman image (main image
  only), Huffman code headers (5 codes per group: green+length+cache /
  red / blue / alpha / distance), then the pixel stream: literals, LZ77
  backward references (prefix-coded lengths, distances through a
  120-entry 2D-neighborhood map), and color-cache references.

Validation boundary: no libwebp and no wild WebP bytes
exist in this sandbox, so the decoder is validated against (a) this
module's own encoder across each of its options — a symmetric
convention bug would survive that, and is documented as the residual
risk — (b) hand-assembled bit-exact micro-streams, and (c) the 2D
distance map cross-checked against an independent algorithmic
derivation of the same table (literal table from the spec vs
generation rule ``{dy 1..7, dx -7..8} + {dy 0, dx 1..8}`` sorted by
``(dx^2+dy^2, -dy, -dx)`` — both reproduced from memory of the public
spec, agreeing exactly). Reference parity target: RLR has no media
path (reference backend/rlr.py handles tabular data only); this module
belongs to the LLM-data suite (SURVEY.md §6).
"""

from __future__ import annotations

import struct

import numpy as np

VP8L_SIGNATURE = 0x2F
_HASH_MUL = 0x1E35A7BD  # color-cache hash multiplier (spec constant)
_NUM_LITERAL = 256
_NUM_LENGTH = 24
_NUM_DIST = 40
# Code-length-code write/read order (spec constant; differs from DEFLATE).
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
_MAX_CODE_LENGTH = 15

# The 120-entry LZ77 distance map: plane codes 1..120 address a 2D
# neighborhood (dx, dy) relative to the current pixel; codes > 120 are
# linear (dist = code - 120).  Literal table as published in the spec:
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)


def generated_dist_map() -> tuple[tuple[int, int], ...]:
    """Derive the distance map from its generation rule (test cross-check).

    Candidates: every (dx, dy) with dy in 1..7 and dx in -7..8, plus
    (dx, 0) with dx in 1..8 (120 total); ordered by squared distance,
    ties by larger dy first, then positive dx before negative.
    """
    cands = [(dx, dy) for dy in range(1, 8) for dx in range(-7, 9)]
    cands += [(dx, 0) for dx in range(1, 9)]
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], -p[0]))
    return tuple(cands)


def _plane_code_to_dist(xsize: int, plane_code: int) -> int:
    if plane_code > len(_DIST_MAP):
        return plane_code - len(_DIST_MAP)
    dx, dy = _DIST_MAP[plane_code - 1]
    return max(1, dy * xsize + dx)


def _dist_to_plane_code(xsize: int, dist: int) -> int:
    """Encoder-side inverse: prefer a 2D code when one maps to ``dist``."""
    if xsize != _DIST_TO_CODE_XSIZE[0]:
        m = {}
        for i, (dx, dy) in enumerate(_DIST_MAP):
            d = dy * xsize + dx
            if d >= 1 and d not in m:
                m[d] = i + 1
        _DIST_TO_CODE_XSIZE[0] = xsize
        _DIST_TO_CODE.clear()
        _DIST_TO_CODE.update(m)
    return _DIST_TO_CODE.get(dist, dist + len(_DIST_MAP))


_DIST_TO_CODE: dict[int, int] = {}
_DIST_TO_CODE_XSIZE = [-1]


def _subsample_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


# ---------------------------------------------------------------------------
# Bit I/O (LSB-first, per spec)
# ---------------------------------------------------------------------------

class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte_i, bit_i = divmod(self.pos, 8)
            if byte_i >= len(self.data):
                raise ValueError("vp8l: truncated bitstream")
            v |= ((self.data[byte_i] >> bit_i) & 1) << i
            self.pos += 1
        return v

    def read_bit(self) -> int:
        byte_i, bit_i = divmod(self.pos, 8)
        if byte_i >= len(self.data):
            raise ValueError("vp8l: truncated bitstream")
        self.pos += 1
        return (self.data[byte_i] >> bit_i) & 1


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.bit = 0

    def write(self, v: int, n: int) -> None:
        for i in range(n):
            if self.bit == 0:
                self.buf.append(0)
            if (v >> i) & 1:
                self.buf[-1] |= 1 << self.bit
            self.bit = (self.bit + 1) & 7

    def bytes(self) -> bytes:
        return bytes(self.buf)


# ---------------------------------------------------------------------------
# Canonical Huffman (DEFLATE-style code assignment)
# ---------------------------------------------------------------------------

class _HuffDecoder:
    """Canonical-code reader: bits arrive in stream order, first bit is
    the MSB of the code (DEFLATE convention, which VP8L shares).

    A code whose length vector has exactly ONE nonzero entry is a
    0-bit code: every read returns that symbol and consumes nothing
    (libwebp semantics for single-leaf trees).
    """

    def __init__(self, lengths):
        used = [(s, l) for s, l in enumerate(lengths) if l > 0]
        if not used:
            raise ValueError("vp8l: empty huffman code")
        if len(used) == 1:
            self.single = used[0][0]
            self.table = None
            return
        self.single = None
        # canonical assignment: increasing (length, symbol)
        used.sort(key=lambda t: (t[1], t[0]))
        self._assign(used)

    @classmethod
    def from_stream_order(cls, pairs):
        """Simple-code form: codes 0,1 go to the symbols in READ order
        (libwebp keeps the stream order even when symbols are not
        ascending, which differs from canonical-by-symbol)."""
        self = cls.__new__(cls)
        if len(pairs) == 1:
            self.single = pairs[0]
            self.table = None
            return self
        self.single = None
        self.table = {(1, i): s for i, s in enumerate(pairs)}
        self.max_len = 1
        return self

    def _assign(self, used):
        kraft = sum(1 << (_MAX_CODE_LENGTH - l) for _, l in used)
        if kraft != 1 << _MAX_CODE_LENGTH:
            raise ValueError("vp8l: incomplete or oversubscribed huffman code")
        table = {}
        code = 0
        prev_len = used[0][1]
        for sym, l in used:
            code <<= l - prev_len
            prev_len = l
            table[(l, code)] = sym
            code += 1
        self.table = table
        self.max_len = prev_len

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for l in range(1, self.max_len + 1):
            code = (code << 1) | br.read_bit()
            sym = self.table.get((l, code))
            if sym is not None:
                return sym
        raise ValueError("vp8l: invalid huffman code in stream")


def _huffman_lengths(freqs: list[int], max_len: int = _MAX_CODE_LENGTH) -> list[int]:
    """Code lengths from frequencies; depth-limited by frequency scaling.

    Standard two-queue Huffman over used symbols; if the tree exceeds
    ``max_len``, halve frequencies (keeping them >= 1) and retry — the
    classic encoder heuristic, always terminating at the flat tree.
    """
    import heapq

    used = [i for i, f in enumerate(freqs) if f > 0]
    n = len(freqs)
    if not used:
        return [0] * n
    if len(used) == 1:
        out = [0] * n
        out[used[0]] = 1
        return out
    f = [freqs[i] for i in used]
    while True:
        heap = [(fi, i) for i, fi in enumerate(f)]
        heapq.heapify(heap)
        parent = {}
        nxt = len(f)
        while len(heap) > 1:
            fa, a = heapq.heappop(heap)
            fb, b = heapq.heappop(heap)
            parent[a] = nxt
            parent[b] = nxt
            heapq.heappush(heap, (fa + fb, nxt))
            nxt += 1
        depths = []
        ok = True
        for i in range(len(f)):
            d = 0
            j = i
            while j in parent:
                j = parent[j]
                d += 1
            depths.append(d)
            if d > max_len:
                ok = False
        if ok:
            out = [0] * n
            for i, sym in enumerate(used):
                out[sym] = depths[i]
            return out
        f = [max(1, fi >> 1) for fi in f]


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) under canonical assignment."""
    used = sorted(
        ((s, l) for s, l in enumerate(lengths) if l > 0), key=lambda t: (t[1], t[0])
    )
    out = {}
    code = 0
    prev = used[0][1] if used else 0
    for sym, l in used:
        code <<= l - prev
        prev = l
        out[sym] = (code, l)
        code += 1
    return out


def _write_code(bw: _BitWriter, codes: dict, single: bool, sym: int) -> None:
    """Emit ``sym``; 0 bits when the code has a single used symbol."""
    if single:
        return
    code, l = codes[sym]
    # canonical codes are MSB-first on the wire: emit high bit first
    for i in range(l - 1, -1, -1):
        bw.write((code >> i) & 1, 1)


# ---------------------------------------------------------------------------
# Huffman code headers (read + write)
# ---------------------------------------------------------------------------

def _read_code_lengths(br: _BitReader, clc: _HuffDecoder, num_symbols: int) -> list[int]:
    lengths = [0] * num_symbols
    prev_len = 8  # spec default when a 16-run precedes any literal
    if br.read_bit():  # use max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = num_symbols
    sym = 0
    while sym < num_symbols:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code_len = clc.read(br)
        if code_len < 16:
            lengths[sym] = code_len
            sym += 1
            if code_len != 0:
                prev_len = code_len
        elif code_len == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if sym >= num_symbols:
                    raise ValueError("vp8l: code-length repeat overflow")
                lengths[sym] = prev_len
                sym += 1
        elif code_len == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
        if sym > num_symbols:
            raise ValueError("vp8l: code-length run overflow")
    return lengths


def _read_huffman_code(br: _BitReader, alphabet_size: int) -> _HuffDecoder:
    if br.read_bit():  # simple code
        num_symbols = br.read_bit() + 1
        if br.read_bit():
            first = br.read(8)
        else:
            first = br.read_bit()
        if num_symbols == 1:
            if first >= alphabet_size:
                raise ValueError("vp8l: simple-code symbol out of range")
            return _HuffDecoder.from_stream_order([first])
        second = br.read(8)
        if first >= alphabet_size or second >= alphabet_size or first == second:
            raise ValueError("vp8l: bad simple-code symbols")
        return _HuffDecoder.from_stream_order([first, second])
    num_clc = 4 + br.read(4)
    clc_lengths = [0] * len(_CLC_ORDER)
    for i in range(num_clc):
        clc_lengths[_CLC_ORDER[i]] = br.read(3)
    clc = _HuffDecoder(clc_lengths)
    lengths = _read_code_lengths(br, clc, alphabet_size)
    return _HuffDecoder(lengths)


def _write_huffman_code(bw: _BitWriter, lengths: list[int]):
    """Write a code header for ``lengths``; returns (codes, is_single).

    Uses the simple form for <=2 used symbols, else the full
    code-length-coded form (17/18 zero-runs, no 16-runs — valid, just
    not maximally compressed).
    """
    used = [(s, l) for s, l in enumerate(lengths) if l > 0]
    if len(used) <= 2 and all(s < 256 for s, _ in used) and used:
        bw.write(1, 1)  # simple
        bw.write(len(used) - 1, 1)
        first = used[0][0]
        if first <= 1 and len(used) == 1:
            bw.write(0, 1)
            bw.write(first, 1)
        else:
            bw.write(1, 1)
            bw.write(first, 8)
        if len(used) == 2:
            bw.write(used[1][0], 8)
        codes = {used[0][0]: (0, 1)}
        if len(used) == 2:
            codes = {used[0][0]: (0, 1), used[1][0]: (1, 1)}
        return codes, len(used) == 1
    bw.write(0, 1)  # normal
    # RLE the length vector into code-length symbols
    seq: list[tuple[int, int, int]] = []  # (symbol, extra, extra_bits)
    i = 0
    n = len(lengths)
    while n > 0 and lengths[n - 1] == 0:
        n -= 1  # trailing zeros are implicit
    while i < n:
        if lengths[i] == 0:
            j = i
            while j < n and lengths[j] == 0:
                j += 1
            run = j - i
            while run >= 11:
                r = min(run, 11 + 127)
                seq.append((18, r - 11, 7))
                run -= r
            while run >= 3:
                r = min(run, 3 + 7)
                seq.append((17, r - 3, 3))
                run -= r
            for _ in range(run):
                seq.append((0, 0, 0))
            i = j
        else:
            seq.append((lengths[i], 0, 0))
            i += 1
    clc_freq = [0] * len(_CLC_ORDER)
    for s, _, _ in seq:
        clc_freq[s] += 1
    clc_lengths = _huffman_lengths(clc_freq, max_len=7)
    # ensure >= 2 used clc symbols so the clc is a real (non-0-bit) code
    # decoder-side single-symbol handling exists, but keep streams plain
    clc_single = sum(1 for l in clc_lengths if l) == 1
    num_clc = 0
    for i, s in enumerate(_CLC_ORDER):
        if clc_lengths[s] > 0:
            num_clc = i + 1
    num_clc = max(num_clc, 4)
    bw.write(num_clc - 4, 4)
    for i in range(num_clc):
        bw.write(clc_lengths[_CLC_ORDER[i]], 3)
    clc_codes = _canonical_codes(clc_lengths)
    if n < len(lengths):
        # trailing zeros were trimmed: the decoder reads code-length
        # symbols until num_symbols unless told how many to expect, so
        # the max_symbol shortcut is REQUIRED here (it counts
        # code-length symbol reads, not alphabet positions)
        stored = len(seq) - 2
        if stored < 0:
            raise ValueError("vp8l: internal: seq too short for max_symbol")
        nbits_needed = max(1, stored.bit_length())
        k = (nbits_needed - 2 + 1) // 2 if nbits_needed > 2 else 0
        length_nbits = 2 + 2 * k
        while (1 << length_nbits) <= stored:
            k += 1
            length_nbits = 2 + 2 * k
        bw.write(1, 1)
        bw.write(k, 3)
        bw.write(stored, length_nbits)
    else:
        bw.write(0, 1)  # no max_symbol shortcut
    for s, extra, ebits in seq:
        _write_code(bw, clc_codes, clc_single, s)
        if ebits:
            bw.write(extra, ebits)
    codes = _canonical_codes(lengths)
    single = sum(1 for l in lengths if l) == 1
    return codes, single


# ---------------------------------------------------------------------------
# LZ77 prefix coding (lengths and distances share the scheme)
# ---------------------------------------------------------------------------

def _read_prefix_coded(br: _BitReader, code: int) -> int:
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _prefix_encode(value: int) -> tuple[int, int, int]:
    """value -> (code, extra_value, extra_bits); inverse of the above."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    highest = v.bit_length() - 1
    second = (v >> (highest - 1)) & 1
    code = 2 * highest + second
    extra_bits = highest - 1
    offset = (2 + second) << extra_bits
    return code, v - offset, extra_bits


# ---------------------------------------------------------------------------
# Entropy-coded image (the recursive core)
# ---------------------------------------------------------------------------

def _color_cache_key(pix: int, bits: int) -> int:
    return ((_HASH_MUL * pix) & 0xFFFFFFFF) >> (32 - bits)


def _decode_entropy_image(br: _BitReader, w: int, h: int, level0: bool):
    """Decode one entropy-coded ARGB image of w x h into a uint32 array.

    ``level0`` gates the meta-Huffman header (main image only).
    """
    cache_bits = 0
    cache = None
    if br.read_bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("vp8l: bad color-cache size")
        cache = [0] * (1 << cache_bits)

    meta = None
    meta_bits = 0
    num_groups = 1
    if level0 and br.read_bit():
        meta_bits = br.read(3) + 2
        mw = _subsample_size(w, meta_bits)
        mh = _subsample_size(h, meta_bits)
        meta_img = _decode_entropy_image(br, mw, mh, False)
        # group index lives in (red << 8) | green
        meta = (((meta_img >> 16) & 0xFF) << 8) | ((meta_img >> 8) & 0xFF)
        meta = meta.astype(np.int64)
        num_groups = int(meta.max()) + 1

    green_alpha = _NUM_LITERAL + _NUM_LENGTH + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(num_groups):
        g = _read_huffman_code(br, green_alpha)
        r = _read_huffman_code(br, 256)
        b = _read_huffman_code(br, 256)
        a = _read_huffman_code(br, 256)
        d = _read_huffman_code(br, _NUM_DIST)
        groups.append((g, r, b, a, d))

    out = np.zeros(w * h, dtype=np.uint32)
    pos = 0
    total = w * h
    while pos < total:
        if meta is not None:
            gx = (pos % w) >> meta_bits
            gy = (pos // w) >> meta_bits
            gcode, gr, gb, ga, gd = groups[int(meta[gy, gx])]
        else:
            gcode, gr, gb, ga, gd = groups[0]
        s = gcode.read(br)
        if s < _NUM_LITERAL:
            green = s
            red = gr.read(br)
            blue = gb.read(br)
            alpha = ga.read(br)
            pix = (alpha << 24) | (red << 16) | (green << 8) | blue
            out[pos] = pix
            if cache is not None:
                cache[_color_cache_key(pix, cache_bits)] = pix
            pos += 1
        elif s < _NUM_LITERAL + _NUM_LENGTH:
            length = _read_prefix_coded(br, s - _NUM_LITERAL)
            dist_code = gd.read(br)
            dist = _plane_code_to_dist(w, _read_prefix_coded(br, dist_code))
            if dist > pos:
                raise ValueError("vp8l: backward reference before image start")
            for _ in range(length):
                if pos >= total:
                    raise ValueError("vp8l: backward reference past image end")
                pix = int(out[pos - dist])
                out[pos] = pix
                if cache is not None:
                    cache[_color_cache_key(pix, cache_bits)] = pix
                pos += 1
        else:
            if cache is None:
                raise ValueError("vp8l: cache reference without color cache")
            idx = s - _NUM_LITERAL - _NUM_LENGTH
            out[pos] = cache[idx]
            pos += 1

    return out.reshape(h, w)


# ---------------------------------------------------------------------------
# ARGB packing
# ---------------------------------------------------------------------------

def _argb_channels(img: np.ndarray):
    return (img >> 24) & 0xFF, (img >> 16) & 0xFF, (img >> 8) & 0xFF, img & 0xFF


def _pack_argb(a, r, g, b):
    return ((a & 0xFF) << 24) | ((r & 0xFF) << 16) | ((g & 0xFF) << 8) | (b & 0xFF)


def _split(pix: int):
    return ((pix >> 24) & 0xFF, (pix >> 16) & 0xFF, (pix >> 8) & 0xFF, pix & 0xFF)


# ---------------------------------------------------------------------------
# Public decode
# ---------------------------------------------------------------------------

def decode_vp8l_stream(payload: bytes) -> np.ndarray:
    """Decode a raw VP8L stream (no RIFF container) to HxWx3 RGB uint8."""
    if not payload or payload[0] != VP8L_SIGNATURE:
        raise ValueError("vp8l: bad signature byte")
    br = _BitReader(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read_bit()  # alpha hint (informational)
    if br.read(3) != 0:
        raise ValueError("vp8l: unsupported version")
    if br.read_bit():
        raise NotImplementedError(
            "vp8l: transformed streams (predictor, cross-color, "
            "subtract-green, color-indexing) are not decoded here"
        )
    img = _decode_entropy_image(br, w, h, True)
    a, r, g, b = _argb_channels(img)
    return np.stack([r, g, b], axis=2).astype(np.uint8)


def decode_webp(payload: bytes) -> np.ndarray:
    """Decode a WebP file. Untransformed lossless (VP8L) decodes; lossy
    VP8 and transformed VP8L raise ``NotImplementedError``."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("webp: not a RIFF/WEBP container")
    pos = 12
    saw_lossy = False
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + size]
        if tag == b"VP8L":
            return decode_vp8l_stream(body)
        if tag == b"VP8 ":
            saw_lossy = True
        pos += 8 + size + (size & 1)
    if saw_lossy:
        raise NotImplementedError(
            "webp: lossy VP8 (boolean arithmetic coder) is out of "
            "pure-Python scope; lossless VP8L decodes natively"
        )
    raise ValueError("webp: no VP8L chunk found")


# ---------------------------------------------------------------------------
# Encoder (drives every decode path with real bytes)
# ---------------------------------------------------------------------------

class _SymbolStream:
    """Token stream + frequency tables for one entropy-coded image."""

    def __init__(self, cache_bits: int):
        self.cache_bits = cache_bits
        self.tokens: list[tuple] = []  # ('lit',g,r,b,a) ('len',L,distcode) ('cache',i)
        self.gfreq = [0] * (_NUM_LITERAL + _NUM_LENGTH + ((1 << cache_bits) if cache_bits else 0))
        self.rfreq = [0] * 256
        self.bfreq = [0] * 256
        self.afreq = [0] * 256
        self.dfreq = [0] * _NUM_DIST

    def literal(self, pix: int):
        a, r, g, b = _split(pix)
        self.tokens.append(("lit", g, r, b, a))
        self.gfreq[g] += 1
        self.rfreq[r] += 1
        self.bfreq[b] += 1
        self.afreq[a] += 1

    def backref(self, length: int, plane_code: int):
        lcode, lex, lbits = _prefix_encode(length)
        dcode, dex, dbits = _prefix_encode(plane_code)
        self.tokens.append(("len", lcode, lex, lbits, dcode, dex, dbits))
        self.gfreq[_NUM_LITERAL + lcode] += 1
        self.dfreq[dcode] += 1

    def cache_ref(self, idx: int):
        self.tokens.append(("cache", idx))
        self.gfreq[_NUM_LITERAL + _NUM_LENGTH + idx] += 1


def _tokenize(pixels: np.ndarray, w: int, cache_bits: int, use_lz77: bool) -> _SymbolStream:
    """Greedy tokenizer: RLE-style dist-1 / dist-w backrefs + cache hits.

    Deliberately simple — the point is exercising every decoder path
    (literals, both 2D and linear distance codes, cache refs), not
    compression ratio.
    """
    ss = _SymbolStream(cache_bits)
    cache = [0] * (1 << cache_bits) if cache_bits else None
    flat = pixels.reshape(-1)
    n = flat.shape[0]
    i = 0
    while i < n:
        if use_lz77 and i >= 1:
            # try dist=1 (plane code for (1,0)) then dist=w ((0,1))
            for dist in (1, w):
                if dist > i:
                    continue
                run = 0
                while i + run < n and run < 4096 and flat[i + run] == flat[i + run - dist]:
                    run += 1
                if run >= 3:
                    ss.backref(run, _dist_to_plane_code(w, dist))
                    if cache is not None:
                        for k in range(run):
                            pix = int(flat[i + k])
                            cache[_color_cache_key(pix, cache_bits)] = pix
                    i += run
                    break
            else:
                dist = None
            if dist is not None and run >= 3:
                continue
        pix = int(flat[i])
        if cache is not None:
            key = _color_cache_key(pix, cache_bits)
            if cache[key] == pix and i > 0:
                ss.cache_ref(key)
                i += 1
                continue
            cache[key] = pix
        ss.literal(pix)
        i += 1
    return ss


def _emit_group_header(bw: _BitWriter, ss: _SymbolStream):
    gcodes = _write_huffman_code(bw, _huffman_lengths(ss.gfreq))
    rcodes = _write_huffman_code(bw, _huffman_lengths(ss.rfreq))
    bcodes = _write_huffman_code(bw, _huffman_lengths(ss.bfreq))
    acodes = _write_huffman_code(bw, _huffman_lengths(ss.afreq))
    dfreq = ss.dfreq if any(ss.dfreq) else [1] + [0] * (_NUM_DIST - 1)
    dcodes = _write_huffman_code(bw, _huffman_lengths(dfreq))
    return gcodes, rcodes, bcodes, acodes, dcodes


def _emit_tokens(bw: _BitWriter, tokens, hdr):
    (gcodes, gsingle), (rcodes, rsingle), (bcodes, bsingle), \
        (acodes, asingle), (dcodes, dsingle) = hdr
    for tok in tokens:
        if tok[0] == "lit":
            _, g, r, b, a = tok
            _write_code(bw, gcodes, gsingle, g)
            _write_code(bw, rcodes, rsingle, r)
            _write_code(bw, bcodes, bsingle, b)
            _write_code(bw, acodes, asingle, a)
        elif tok[0] == "len":
            _, lcode, lex, lbits, dcode, dex, dbits = tok
            _write_code(bw, gcodes, gsingle, _NUM_LITERAL + lcode)
            if lbits:
                bw.write(lex, lbits)
            _write_code(bw, dcodes, dsingle, dcode)
            if dbits:
                bw.write(dex, dbits)
        else:
            _write_code(bw, gcodes, gsingle, _NUM_LITERAL + _NUM_LENGTH + tok[1])


def _write_entropy_image(bw: _BitWriter, pixels: np.ndarray, w: int,
                         cache_bits: int = 0, use_lz77: bool = False,
                         level0: bool = False, meta_bits: int | None = None) -> None:
    """Write one entropy-coded image.

    ``level0`` adds the meta-Huffman presence bit the decoder expects
    on the main image; ``meta_bits`` (level0 only, literals only)
    writes a real 2-group checkerboard meta image so the multi-group
    decode path runs on genuine bytes.
    """
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if meta_bits is not None:
        if not level0 or use_lz77 or cache_bits:
            raise ValueError("meta groups supported for plain literal streams only")
        h = pixels.shape[0]
        mw = _subsample_size(w, meta_bits)
        mh = _subsample_size(h, meta_bits)
        by, bx = np.indices((mh, mw))
        grid = ((bx + by) & 1).astype(np.uint32)  # checkerboard, 2 groups
        bw.write(1, 1)
        bw.write(meta_bits - 2, 3)
        meta_img = _pack_argb(np.full((mh, mw), 0xFF, np.uint32), 0, grid, 0)
        _write_entropy_image(bw, meta_img.astype(np.uint32), mw)
        # one literal token stream per group, in pixel order
        streams = [_SymbolStream(0), _SymbolStream(0)]
        order = []
        for y in range(h):
            for x in range(w):
                g = int(grid[y >> meta_bits, x >> meta_bits])
                streams[g].literal(int(pixels[y, x]))
                order.append(g)
        hdrs = [_emit_group_header(bw, s) for s in streams]
        iters = [iter(s.tokens) for s in streams]
        for g in order:
            _emit_tokens(bw, [next(iters[g])], hdrs[g])
        return
    if level0:
        bw.write(0, 1)  # no meta-huffman image
    ss = _tokenize(pixels, w, cache_bits, use_lz77)
    hdr = _emit_group_header(bw, ss)
    _emit_tokens(bw, ss.tokens, hdr)


def encode_webp_lossless(
    img: np.ndarray,
    *,
    cache_bits: int = 0,
    use_lz77: bool = False,
    meta_bits: int | None = None,
) -> bytes:
    """Encode HxWx3 RGB uint8 to a lossless WebP file, untransformed.

    Each option maps onto one decoder path: ``cache_bits`` the color
    cache, ``use_lz77`` backward references, ``meta_bits`` a two-group
    meta-Huffman image.
    """
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_webp_lossless expects HxWx3 RGB")
    h, w, _ = img.shape
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError("vp8l: dimensions out of range")
    argb = _pack_argb(
        np.full((h, w), 0xFF, dtype=np.uint32),
        img[:, :, 0].astype(np.uint32),
        img[:, :, 1].astype(np.uint32),
        img[:, :, 2].astype(np.uint32),
    ).astype(np.uint32)

    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms

    _write_entropy_image(
        bw, argb, w, cache_bits=cache_bits, use_lz77=use_lz77,
        level0=True, meta_bits=meta_bits,
    )

    stream = bytes([VP8L_SIGNATURE]) + bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(stream)) + stream
    if len(stream) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
