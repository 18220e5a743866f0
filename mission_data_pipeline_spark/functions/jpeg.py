"""Baseline JPEG (ITU-T T.81) codec in pure stdlib + NumPy.

Closes the "JPEG entropy decode needs codec libs" stub the same way
``decode_png_pixels`` / ``decode_wav_samples`` closed theirs: the
environment has no PIL/libjpeg, but baseline sequential JPEG is a
public spec implementable with ``struct`` + NumPy — Huffman entropy
decode, dequantize, 8x8 inverse DCT (one precomputed orthonormal basis
matmul per block), chroma upsampling, BT.601 YCbCr→RGB.

Scope (returns ``None`` beyond it, the same never-fail-the-batch
sentinel contract as the PNG decoder):

- baseline/extended sequential Huffman (SOF0/SOF1), 8-bit samples;
- 1-component grayscale and 3-component YCbCr with any sampling
  factors (4:4:4 / 4:2:2 / 4:2:0 / ...), chroma upsampled by pixel
  replication;
- restart markers (DRI / RSTn) with DC-predictor reset;
- progressive (SOF2), arithmetic coding, 12-bit, hierarchical and
  CMYK streams are out of scope → ``None``.

:func:`encode_jpeg` is the fixture mirror (like ``encode_png`` /
``encode_wav``): a real, spec-conformant baseline encoder used by tests
and declared queries to synthesize byte streams the decoder must
entropy-decode for real. Lossy round-trip means decode(encode(x)) ≈ x;
for FLAT-COLOR images the quantization round-trip is exactly
computable by scalar arithmetic, which is what gives the DuckDB oracle
an exact expectation (see ``x5_jpeg_pixel_stats``).

Rounding convention: every float→int sample conversion uses
half-up ``floor(x + 0.5)`` (NOT NumPy's banker's rounding) so any
engine can reproduce the arithmetic with ``FLOOR(x + 0.5)``.

Throughput note: the entropy loop is driver-of-parallelism-free pure
Python per image — correctness-grade, fine for the fixture-scale
payloads here; at 100 TB the Arrow-batched ``mapInPandas`` boundary is
unchanged and a codec library can be dropped in per-executor without
touching any Spark plumbing.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["encode_jpeg", "decode_jpeg_pixels", "quant_table"]

# -- constants (ITU-T T.81 Annex K) ------------------------------------

_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

_Q_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)

_Q_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K.3 typical Huffman tables: (bits[1..16], values)
_HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

#: orthonormal 8-point DCT-II basis: forward F = A @ f @ A.T,
#: inverse f = A.T @ F @ A
_A = np.zeros((8, 8))
for _u in range(8):
    _c = np.sqrt(0.5) if _u == 0 else 1.0
    for _x in range(8):
        _A[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _half_up(x: np.ndarray) -> np.ndarray:
    """Half-up rounding (floor(x+0.5)) — engine-reproducible, unlike
    NumPy's round-half-to-even."""
    return np.floor(x + 0.5)


def quant_table(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg-style quality scaling of an Annex K table (raster order)."""
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in [1, 100]")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int64)


# -- bit I/O ------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, value: int, nbits: int) -> None:
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._n += nbits
        while self._n >= 8:
            b = (self._acc >> (self._n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self._n -= 8
        self._acc &= (1 << self._n) - 1

    def align(self) -> None:
        if self._n:
            self.put((1 << (8 - self._n)) - 1, 8 - self._n)  # pad with 1s


class _BitReader:
    """Entropy-segment bit reader: un-stuffs FF00, stops at markers.

    Optimization-round shape: the accumulator holds MULTIPLE bytes so
    Huffman symbols resolve with one 16-bit ``peek16`` + one table
    lookup + one ``take`` instead of a per-bit loop (the pure-Python
    per-bit path was 90% of decode wall under cProfile). Semantics are
    unchanged: ``_fill`` still stops (without advancing) at any real
    marker, ``peek16`` pads the window with 1-bits PAST the real data
    but ``take`` refuses to consume virtual bits (EOFError — exactly
    where the old per-bit reader raised), so valid streams decode
    bit-identically and truncated/corrupt streams still abort into the
    decoder's None sentinel."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0
        self._ended = False  # hit a real marker / end of data
        self._fw: list[int] = []  # input widths of recent fills (1|2)

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise EOFError
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2  # stuffed FF
                self._fw.append(2)
            else:
                raise EOFError  # a real marker terminates entropy data
        else:
            self.pos += 1
            self._fw.append(1)
        if len(self._fw) > 8:
            del self._fw[:-8]
        # Mask away already-consumed top bits BEFORE shifting: without
        # the trim the accumulator grows one byte per fill and every
        # shift/mask is an O(stream) bignum op (a quadratic the old
        # per-bit reader also had).
        self._acc = ((self._acc & ((1 << self._n) - 1)) << 8) | b
        self._n += 8

    def _ensure(self, n: int) -> None:
        """Buffer at least ``n`` bits if that much real data exists;
        sets ``_ended`` (without raising) at a marker/EOF boundary."""
        while self._n < n and not self._ended:
            try:
                self._fill()
            except EOFError:
                self._ended = True

    def peek16(self) -> int:
        """Next 16 bits without consuming; 1-padded past end-of-data
        (padding is only ever *peeked* — ``take`` guards consumption)."""
        self._ensure(16)
        n = self._n
        if n >= 16:
            return (self._acc >> (n - 16)) & 0xFFFF
        pad = 16 - n
        return ((self._acc << pad) | ((1 << pad) - 1)) & 0xFFFF

    def take(self, n: int) -> int:
        """Consume ``n`` already-buffered REAL bits (EOFError if fewer
        remain — the old reader's per-bit fill raised at the same
        boundary)."""
        if n > self._n:
            self._ensure(n)
            if n > self._n:
                raise EOFError
        self._n -= n
        return (self._acc >> self._n) & ((1 << n) - 1)

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        return self.take(n)

    def read_coded(self, lut: list[int]) -> tuple[int, int]:
        """Decode one Huffman symbol AND its EXTENDed amplitude in one
        buffered read: the symbol's trailing ``size`` amplitude bits are
        consumed by the SAME ``take`` as the code bits (for a 16-bit
        code + 15 amplitude bits the accumulator holds at most 31 bits —
        one extra fill at most), replacing the peek/take/take triple the
        per-coefficient loop paid before. Returns ``(symbol, value)``
        where ``size = symbol & 15`` (AC) / ``symbol`` (DC, caller
        validates ≤ 11) and value is T.81 EXTEND of the raw ``size``
        bits (0 when size is 0 — EOB/ZRL consume only the code bits).
        On a symbol the caller will reject (DC size > 11, AC run past
        63) the amplitude bits are consumed where the split reader
        stopped short — indistinguishable, since every such stream
        decodes to the None sentinel either way."""
        packed = lut[self.peek16()]
        if packed == 0:
            raise ValueError("invalid Huffman code")
        ln = packed & 31
        sym = packed >> 5
        size = sym & 15
        if size == 0:
            self.take(ln)
            return sym, 0
        v = self.take(ln + size) & ((1 << size) - 1)
        return sym, (v if v >= (1 << (size - 1)) else v - (1 << size) + 1)

    def sync_restart(self, m: int) -> None:
        """Byte-align and consume the expected RSTm marker.

        Prefetch compensation: the multi-byte accumulator may hold whole
        input bytes no bit was ever consumed from; the pre-LUT reader
        checked for the marker right after the last byte it actually
        touched, so rewind over the untouched fills (each 1 input byte,
        or 2 for a stuffed FF00) to keep accept/reject behavior on
        corrupt streams byte-identical."""
        untouched = self._n >> 3
        if untouched:
            for w in self._fw[-untouched:]:
                self.pos -= w
        self._fw.clear()
        self._acc = 0
        self._n = 0
        self._ended = False
        d = self.data
        if self.pos + 1 >= len(d) or d[self.pos] != 0xFF:
            raise ValueError("expected restart marker")
        if d[self.pos + 1] != 0xD0 + (m & 7):
            raise ValueError("restart marker out of sequence")
        self.pos += 2


# -- Huffman helpers ----------------------------------------------------


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, nbits), canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_lut(bits: list[int], vals: list[int]) -> list[int]:
    """16-bit-prefix decode table: ``lut[peek16] = (symbol << 5) | len``
    (0 = no code owns that prefix → invalid stream). A canonical JPEG
    Huffman code of length ``ln`` owns the ``2**(16-ln)`` window
    prefixes that start with it, so one peek + one list index replaces
    the per-bit tree walk; the prefix property makes the lookup result
    identical to the old first-match bit-by-bit scan. Slice-assignment
    build is ~C-speed (65k entries, < 1 ms per table)."""
    lut = [0] * 65536
    code = 0
    k = 0
    for ln in range(1, 17):
        span = 1 << (16 - ln)
        for _ in range(bits[ln - 1]):
            base = code << (16 - ln)
            lut[base : base + span] = [(vals[k] << 5) | ln] * span
            code += 1
            k += 1
        code <<= 1
    return lut


#: (bits||vals bytes) -> prefix LUT. Building a 65k-entry LUT costs
#: ~1 ms — more than decoding a tiny (sub-32px) frame outright — but
#: MJPEG streams reuse one DHT across every frame and most encoders
#: ship the standard Annex-K tables, so a keyed memo amortizes the
#: build to once per table per Python worker (guide §4.5: heavyweight
#: init once, cached in a module-level global).
_LUT_CACHE: dict[bytes, list[int]] = {}
_LUT_CACHE_MAX = 64


def _huff_lut_cached(bits: list[int], vals: list[int]) -> list[int]:
    key = bytes(bits) + bytes(vals)
    lut = _LUT_CACHE.get(key)
    if lut is None:
        if len(_LUT_CACHE) >= _LUT_CACHE_MAX:
            _LUT_CACHE.clear()
        lut = _huff_lut(bits, vals)
        _LUT_CACHE[key] = lut
    return lut


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length() if v < 0 else 0


# -- encoder ------------------------------------------------------------


def _encode_block(
    w: _BitWriter,
    coef_zz: np.ndarray,
    dc_pred: int,
    dc_codes: dict,
    ac_codes: dict,
) -> int:
    dc = int(coef_zz[0])
    diff = dc - dc_pred
    size = _category(diff)
    code, n = dc_codes[size]
    w.put(code, n)
    if size:
        w.put(diff if diff >= 0 else diff + (1 << size) - 1, size)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if coef_zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = int(coef_zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, n = ac_codes[0xF0]  # ZRL
            w.put(code, n)
            run -= 16
        size = _category(v)
        code, n = ac_codes[(run << 4) | size]
        w.put(code, n)
        w.put(v if v >= 0 else v + (1 << size) - 1, size)
        run = 0
    if last_nz < 63:
        code, n = ac_codes[0x00]  # EOB
        w.put(code, n)
    return dc


def _plane_blocks(plane: np.ndarray) -> np.ndarray:
    """Pad (edge-replicate) to multiples of 8 and return
    (by, bx, 8, 8) float blocks."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    p = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    H, W = p.shape
    return p.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3)


def encode_jpeg(
    pixels,
    *,
    quality: int = 90,
    subsample: tuple[int, int] = (1, 1),
    restart_interval: int = 0,
) -> bytes:
    """Minimal REAL baseline JPEG encoder (fixture mirror).

    ``pixels``: uint8 (h, w) grayscale or (h, w, 3) RGB. ``subsample``:
    luma sampling factors — (1,1)=4:4:4, (2,1)=4:2:2, (2,2)=4:2:0
    (chroma box-averaged). ``restart_interval``: emit DRI + RSTn every
    N MCUs (0 = none). Interleaved single scan, Annex K tables.
    """
    arr = np.asarray(pixels, dtype=np.uint8)
    gray = arr.ndim == 2
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError("pixels must be (h, w) grayscale or (h, w, 3) RGB")
    h, w = arr.shape[:2]
    if not (h and w):
        raise ValueError("empty image")
    sh, sv = subsample
    if gray:
        sh = sv = 1

    ql = quant_table(_Q_LUMA, quality)
    qc = quant_table(_Q_CHROMA, quality)

    if gray:
        planes = [arr.astype(np.float64)]
        samp = [(1, 1)]
        qids = [0]
    else:
        rgb = arr.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        # chroma downsample: box average over sh x sv (pad to multiple)
        def down(p: np.ndarray) -> np.ndarray:
            if sh == 1 and sv == 1:
                return p
            ph, pw = -h % sv, -w % sh
            pp = np.pad(p, ((0, ph), (0, pw)), mode="edge")
            H, W = pp.shape
            return pp.reshape(H // sv, sv, W // sh, sh).mean(axis=(1, 3))

        planes = [y, down(cb), down(cr)]
        samp = [(sh, sv), (1, 1), (1, 1)]
        qids = [0, 1, 1]

    huffs = [(_HUFF_DC_LUMA, _HUFF_AC_LUMA)] + (
        [] if gray else [(_HUFF_DC_CHROMA, _HUFF_AC_CHROMA)] * 2
    )
    dc_codes = [_huff_codes(*hd) for hd, _ in huffs]
    ac_codes = [_huff_codes(*ha) for _, ha in huffs]
    qtabs = [ql] if gray else [ql, qc]

    # per-component quantized blocks
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    comp_blocks = []
    for plane, (chs, cvs), qid in zip(planes, samp, qids):
        q = qtabs[qid].reshape(8, 8).astype(np.float64)
        blocks = _plane_blocks(plane - 128.0)
        coefs = np.einsum("ux,byxz,zv->byuv", _A, blocks, _A.T)
        # Determinism snap: the matmul-DCT carries ~1e-12 float noise, so
        # a coefficient mathematically ON a quantization boundary (x.5)
        # would tip either way by accident. Snapping to a 1e-3 grid
        # (half-up, reproducible as FLOOR(x*1000+0.5)/1000 in any engine)
        # makes the boundary decision exact; quant steps are >= 1, so the
        # snap is visually nil. Same rationale as the repo's
        # round-before-exact-sum aggregation pattern.
        coefs = np.floor(coefs * 1000.0 + 0.5) / 1000.0
        quant = _half_up(coefs / q).astype(np.int64)
        comp_blocks.append(quant)

    # headers -----------------------------------------------------------
    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, body: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(body) + 2))
        out.extend(body)

    for tid, q in enumerate(qtabs):
        seg(0xDB, bytes([tid]) + bytes(int(q[z]) for z in _ZIGZAG))
    sof = bytearray(struct.pack(">BHHB", 8, h, w, len(planes)))
    for ci, ((chs, cvs), qid) in enumerate(zip(samp, qids)):
        sof.extend([ci + 1, (chs << 4) | cvs, qid])
    seg(0xC0, bytes(sof))
    for tid, (hd, ha) in enumerate(huffs[: (1 if gray else 2)]):
        seg(0xC4, bytes([tid]) + bytes(hd[0]) + bytes(hd[1]))
        seg(0xC4, bytes([0x10 | tid]) + bytes(ha[0]) + bytes(ha[1]))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytearray([len(planes)])
    for ci in range(len(planes)):
        t = 0 if ci == 0 else 1
        sos.extend([ci + 1, (t << 4) | t])
    sos.extend([0, 63, 0])
    seg(0xDA, bytes(sos))

    # entropy-coded interleaved MCUs ------------------------------------
    bw = _BitWriter()
    n_mcux = -(-w // (8 * hmax))
    n_mcuy = -(-h // (8 * vmax))
    dc_pred = [0] * len(planes)
    mcu_count = 0
    rst = 0
    for my in range(n_mcuy):
        for mx in range(n_mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.align()
                bw.out.extend((0xFF, 0xD0 + (rst & 7)))
                rst += 1
                dc_pred = [0] * len(planes)
            for ci, ((chs, cvs), quant) in enumerate(zip(samp, comp_blocks)):
                t = 0 if ci == 0 else 1
                for by in range(cvs):
                    for bx in range(chs):
                        yy = min(my * cvs + by, quant.shape[0] - 1)
                        xx = min(mx * chs + bx, quant.shape[1] - 1)
                        zz = quant[yy, xx].reshape(64)[_ZIGZAG]
                        dc_pred[ci] = _encode_block(
                            bw, zz, dc_pred[ci], dc_codes[t], ac_codes[t]
                        )
            mcu_count += 1
    bw.align()
    out.extend(bw.out)
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


# -- decoder ------------------------------------------------------------


def decode_jpeg_pixels(payload: bytes | None):
    """REAL baseline JPEG decode. Returns uint8 (h, w, channels) with
    channels in {1, 3}, or None for anything outside the supported
    profile (progressive, arithmetic, 12-bit, CMYK, truncation, garbage)
    — sentinel, never an exception, same contract as the PNG decoder.
    """
    try:
        return _decode(payload)
    except Exception:  # noqa: BLE001 - dirty payloads must not fail batches
        return None


def _decode(payload: bytes | None):
    if not payload or len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    d = payload
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    restart_interval = 0
    while pos + 4 <= len(d):
        if d[pos] != 0xFF:
            return None
        marker = d[pos + 1]
        if marker == 0xD9:  # EOI before SOS
            return None
        (ln,) = struct.unpack_from(">H", d, pos + 2)
        body = d[pos + 4 : pos + 2 + ln]
        if len(body) != ln - 2:
            return None
        pos += 2 + ln
        if marker == 0xDB:  # DQT (possibly multiple tables)
            i = 0
            while i < len(body):
                prec, tid = body[i] >> 4, body[i] & 0xF
                i += 1
                if prec == 0:
                    vals = np.frombuffer(body[i : i + 64], dtype=np.uint8)
                    i += 64
                else:
                    vals = np.frombuffer(
                        body[i : i + 128], dtype=">u2"
                    ).astype(np.int64)
                    i += 128
                if len(vals) != 64:
                    return None
                t = np.zeros(64, dtype=np.int64)
                t[_ZIGZAG] = vals
                qtabs[tid] = t.reshape(8, 8)
        elif marker == 0xC4:  # DHT (possibly multiple tables)
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                if len(bits) != 16 or len(vals) != n:
                    return None
                huff[(cls, tid)] = _huff_lut_cached(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC1):  # baseline / extended sequential
            sof = body
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            return None  # progressive/arithmetic/lossless: out of scope
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", body)
        elif marker == 0xDA:  # SOS — entropy data follows
            return _decode_scan(
                d, pos, body, sof, qtabs, huff, restart_interval
            )
        # APPn/COM/etc: skipped
    return None


def _decode_scan(d, pos, sos, sof, qtabs, huff, restart_interval):
    if sof is None:
        return None
    prec, h, w, nc = struct.unpack_from(">BHHB", sof, 0)
    if prec != 8 or nc not in (1, 3) or not (h and w):
        return None
    comps = []
    for ci in range(nc):
        cid, hv, qid = sof[6 + 3 * ci : 9 + 3 * ci]
        comps.append(
            {"id": cid, "h": hv >> 4, "v": hv & 0xF, "q": qtabs.get(qid)}
        )
    if any(c["q"] is None or not (1 <= c["h"] <= 4 and 1 <= c["v"] <= 4)
           for c in comps):
        return None
    ns = sos[0]
    if ns != nc:
        return None  # non-interleaved multi-scan: out of scope
    by_id = {c["id"]: c for c in comps}
    order = []
    for si in range(ns):
        cid, tt = sos[1 + 2 * si : 3 + 2 * si]
        c = by_id.get(cid)
        if c is None:
            return None
        c["dc"] = huff.get((0, tt >> 4))
        c["ac"] = huff.get((1, tt & 0xF))
        if c["dc"] is None or c["ac"] is None:
            return None
        order.append(c)

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    n_mcux = -(-w // (8 * hmax))
    n_mcuy = -(-h // (8 * vmax))
    for c in comps:
        c["pred"] = 0
        c["qf"] = c["q"].astype(np.float64)
        # Sparse coefficient accumulation: the entropy loop appends
        # (flat zigzag index, amplitude) pairs per component; dequantize,
        # IDCT and plane placement happen ONCE per component as batched
        # NumPy after the scan, not per 8x8 block (guide §4.2 — one
        # broadcast matmul over (nb, 8, 8) is bit-identical to the
        # per-block ``_A.T @ M @ _A``, verified, and removes the
        # per-block zeros/reshape/matmul/placement Python overhead).
        c["bi"] = 0  # running block index within this component
        c["cidx"] = []  # flat index: block_index * 64 + zigzag position
        c["cval"] = []  # signed amplitude (DC: the running predictor)

    r = _BitReader(d, pos)
    mcu_count = 0
    rst = 0
    for my in range(n_mcuy):
        for mx in range(n_mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                r.sync_restart(rst)
                rst += 1
                for c in comps:
                    c["pred"] = 0
            for c in order:
                idx, val = c["cidx"], c["cval"]
                dc_lut, ac_lut = c["dc"], c["ac"]
                for _blk in range(c["v"] * c["h"]):
                    base = c["bi"] << 6
                    c["bi"] += 1
                    size, diff = r.read_coded(dc_lut)
                    if size > 11:
                        return None
                    c["pred"] += diff
                    idx.append(base)
                    val.append(c["pred"])
                    k = 1
                    while k < 64:
                        sym, v = r.read_coded(ac_lut)
                        if sym & 0xF == 0:
                            if sym == 0xF0:
                                k += 16  # ZRL
                                continue
                            break  # EOB
                        k += sym >> 4
                        if k > 63:
                            return None
                        idx.append(base + k)
                        val.append(v)
                        k += 1
            mcu_count += 1

    # batched dequantize + IDCT + placement, one pass per component
    for c in comps:
        nb = c["bi"]
        zz = np.zeros(nb * 64, dtype=np.float64)
        zz[np.array(c["cidx"], dtype=np.int64)] = np.array(
            c["cval"], dtype=np.float64
        )
        coefs = np.zeros((nb, 64), dtype=np.float64)
        coefs[:, _ZIGZAG] = zz.reshape(nb, 64)
        blocks = _A.T @ (coefs.reshape(nb, 8, 8) * c["qf"]) @ _A
        # determinism snap — see the encoder-side comment
        blocks = np.floor(blocks * 1000.0 + 0.5) / 1000.0
        cv, ch_ = c["v"], c["h"]
        c["plane"] = (
            blocks.reshape(n_mcuy, n_mcux, cv, ch_, 8, 8)
            .transpose(0, 2, 4, 1, 3, 5)
            .reshape(n_mcuy * cv * 8, n_mcux * ch_ * 8)
        )

    # reconstruct samples: +128 level shift, half-up round, clamp
    planes = []
    for c in comps:
        cw = -(-w * c["h"] // hmax)
        ch = -(-h * c["v"] // vmax)
        p = np.clip(_half_up(c["plane"][:ch, :cw] + 128.0), 0, 255)
        # upsample by replication to full resolution
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        planes.append(p[:h, :w])
    if nc == 1:
        return planes[0].astype(np.uint8)[:, :, None]
    y, cb, cr = planes
    r_ = y + 1.402 * (cr - 128.0)
    g_ = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b_ = y + 1.772 * (cb - 128.0)
    rgb = np.stack(
        [np.clip(_half_up(x), 0, 255) for x in (r_, g_, b_)], axis=-1
    )
    return rgb.astype(np.uint8)
