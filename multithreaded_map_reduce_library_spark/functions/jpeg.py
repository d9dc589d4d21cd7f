"""Minimal, dependency-free baseline JPEG codec (numpy only).

Round-5 breadth item (VERDICT r4 item 7a): replaces the PIL-gated JPEG
branch in ``operators/multimodal._decode_image_bytes`` with a real
from-scratch baseline-DCT decoder, following the same oracle-replay
discipline as the PNG codec (functions/png.py): every oracle-hashed
query that feeds this codec fabricates payloads whose decoded statistics
are closed-form computable in SQL, so any codec bug breaks the value
hash.

Written to the public spec, ITU-T T.81 (ISO/IEC 10918-1) with the JFIF
container (https://www.w3.org/Graphics/JPEG/itu-t81.pdf): marker layout
§B, canonical Huffman construction §C.2, zigzag §A.3.6, the Annex K.1/K.2
quantization tables and K.3 Huffman tables (all published example
tables — the encoder emits its tables into the stream, the decoder reads
whatever tables the stream carries).

Encode envelope: 8-bit baseline sequential OR progressive (SOF2, Annex G
spectral selection + successive approximation — see the progressive
section), grayscale (1 component) or RGB via BT.601 YCbCr at 4:4:4 /
4:2:2 / 4:2:0 (chroma box-mean downsampled), integer quality scaling of
the Annex K tables, edge-replication padding to full MCU coverage.

Decode envelope: baseline (SOF0), extended-sequential (SOF1) and
progressive (SOF2) Huffman, 8-bit precision, 1 or 3 components, sampling
factors 1–2 per axis (4:4:4 / 4:2:2 / 4:2:0; interleaved MCUs per
§A.2.3, replication upsampling), tables from the stream (including
between-scan redefinition), FF00 byte-unstuffing, restart intervals in
EVERY scan type — single-scan AND multi-scan sequential §B.2.3 AND
progressive (DRI / RST0-7 with byte-alignment, DC-predictor reset, and
EOB-run reset, §B.2.1.2/§E.2.4). Out of envelope — raise
``NotImplementedError``, never a wrong pixel: arithmetic coding
(SOF9+), 12-bit precision, sampling factors >2, lossless/hierarchical
modes.

Decode path: ONE marker walk (``_walk``) serves every stream. SOF0/
SOF1/SOF2 fill one frame state, DQT always merges through the
first-scan latch, and each SOS decodes into per-component grids of
QUANTIZED coefficients — through ``_dec_seq_scan`` in a sequential
frame (a baseline frame is simply a one-scan sequential stream) or the
DC / AC-first / AC-refinement scan decoders in a progressive one. At
EOI one batched dequantize + IDCT (``_idct_planes``) and the colour
tail (``_finish_image``) produce the pixels, so every encoding of the
same coefficients decodes identically. The restart-segment APIs run the
same walk stopped at the first SOS, and decode a segment with the same
scan decoder and IDCT tail.

Determinism contract (what makes oracle replay possible):

* the encoder quantizes the DC coefficient from the INTEGER block sum
  with exact round-half-away-from-zero integer arithmetic (the float
  DCT path only feeds the AC coefficients), so for a block of constant
  value ``v`` the only nonzero quantized coefficient is
  ``qd = sign(m)·((16·|m| + q00) // (2·q00))`` with ``m = v − 128``;
* the decoder reconstructs pixels as
  ``clip(floor(DC·q00/8 + idct(AC) + 0.5) + 128, 0, 255)`` with the DC
  term kept OUT of the float IDCT (division by 8 is exact in binary
  floating point), so a constant block decodes to exactly
  ``clip(floor((qd·q00 + 4)/8) + 128, 0, 255)`` — pure integer math a
  DuckDB oracle reproduces bit-for-bit.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "QUANT_LUMA",
    "QUANT_CHROMA",
    "decode_jpeg",
    "encode_jpeg_gray",
    "encode_jpeg_gray_progressive",
    "encode_jpeg_rgb",
    "encode_jpeg_rgb_progressive",
    "is_jpeg",
    "quant_table",
]

# --------------------------------------------------------------------------
# Published example tables (ITU-T T.81 Annex K)
# --------------------------------------------------------------------------

#: Annex K.1 luminance quantization table (row-major), quality ~50.
QUANT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int64,
)

#: Annex K.2 chrominance quantization table.
QUANT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int64,
)

# Annex K.3 Huffman table specifications: (BITS[1..16], HUFFVAL).
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
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
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
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
]


def quant_table(base: np.ndarray, qscale: int = 1) -> np.ndarray:
    """Integer quality scaling: multiply the Annex K table by ``qscale``
    and clip to the 8-bit-precision DQT range [1, 255]. qscale=1 is the
    published ~quality-50 table; qscale=2 halves the bitrate again."""
    return np.clip(base * int(qscale), 1, 255).astype(np.int64)


# --------------------------------------------------------------------------
# Zigzag and DCT
# --------------------------------------------------------------------------


def _zigzag_order() -> list[tuple[int, int]]:
    """(row, col) pairs in T.81 §A.3.6 zigzag order: anti-diagonals,
    odd diagonals walk row-increasing, even diagonals row-decreasing."""
    return sorted(
        ((u, v) for u in range(8) for v in range(8)),
        key=lambda p: (p[0] + p[1], p[0] if (p[0] + p[1]) % 2 else -p[0]),
    )


_ZIGZAG = _zigzag_order()
_ZZ_ROWS = np.array([u for u, _ in _ZIGZAG])
_ZZ_COLS = np.array([v for _, v in _ZIGZAG])


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix: T[u,x] = c(u)/2 · cos((2x+1)uπ/16),
    c(0)=1/√2, else 1. Forward 2D DCT of block B is T·B·Tᵀ."""
    t = np.zeros((8, 8))
    for u in range(8):
        c = (1.0 / np.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            t[u, x] = 0.5 * c * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return t


_DCT_T = _dct_matrix()


def _round_half_away(x: np.ndarray) -> np.ndarray:
    """Round half away from zero (the convention this codec fixes for AC
    quantization — np.rint's banker's rounding is NOT used anywhere)."""
    return np.sign(x) * np.floor(np.abs(x) + 0.5)


# --------------------------------------------------------------------------
# Huffman coding (canonical construction, T.81 §C.2)
# --------------------------------------------------------------------------


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) via the canonical assignment."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    """MSB-first bit accumulator with T.81 §B.1.1.5 FF00 byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per spec

    def put_marker(self, byte2: int) -> None:
        """Byte-align, then append a raw FF-marker (NOT stuffed — markers
        are the one legal bare 0xFF in entropy data, §B.1.1.5)."""
        self.flush()
        self.out += bytes((0xFF, byte2))


class _HuffTable(dict):
    """(length, code) -> symbol dict plus a canonical 8-bit fast-decode
    table: ``flen[w]``/``fsym[w]`` give the code length and symbol whose
    code is the top bits of the 8-bit window ``w`` (0 where no code of
    length <= 8 matches — the reader then falls back to the bit-by-bit
    walk). Pure lookup acceleration: bit consumption and every error
    path are identical to the plain-dict walk."""

    __slots__ = ("flen", "fsym")

    def __init__(self, table: dict[tuple[int, int], int]) -> None:
        super().__init__(table)
        self.flen = [0] * 256
        self.fsym = [0] * 256
        for (length, code), sym in table.items():
            if length <= 8:
                base = code << (8 - length)
                for w in range(base, base + (1 << (8 - length))):
                    self.flen[w] = length
                    self.fsym[w] = sym


#: (bits, vals) -> _HuffTable. The encoder emits the same DHT payloads
#: for every asset, so across a corpus decode the 256-entry expansion is
#: built once per distinct table, not once per image. BOUNDED (ADVICE
#: r9): arbitrary external JPEGs can carry unbounded distinct tables in
#: a long-lived executor, so the memo clears when it would exceed the
#: cap (synthesized-asset corpora use ~8 tables; a clear just rebuilds).
_HUFF_FAST_CACHE: dict[tuple[bytes, bytes], _HuffTable] = {}
_HUFF_FAST_CACHE_CAP = 256


class _BitReader:
    """MSB-first bit reader over entropy-coded data with FF00 unstuffing.
    Raises ValueError at any non-stuffing marker."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG entropy data")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG after 0xFF")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed byte
            else:
                # RSTn here means the decoder lost sync with the declared
                # restart interval; any other marker means a truncated scan.
                raise ValueError("marker inside entropy data (truncated scan?)")
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def _try_fill(self) -> bool:
        """Soft fill for lookahead: buffer one more byte if available,
        return False (pos unmoved) at end-of-data or at a marker instead
        of raising — the fast path may legitimately peek past the last
        symbol of a scan, where the hard fill's errors do not apply
        because those bits are never consumed."""
        pos, data = self.pos, self.data
        if pos >= len(data):
            return False
        b = data[pos]
        if b == 0xFF:
            if pos + 1 >= len(data) or data[pos + 1] != 0x00:
                return False  # marker (or trailing FF): stop before it
            self.pos = pos + 2  # stuffed byte
        else:
            self.pos = pos + 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8
        return True

    def expect_rst(self, m: int) -> None:
        """§E.2.4: at a restart boundary the encoder byte-aligned and
        emitted RSTm. Discard the (<8) pad bits buffered past the last
        decoded symbol, then consume the marker and check its sequence
        number (m cycles 0..7)."""
        if self.nbits >= 8:
            raise ValueError("restart boundary with a full undecoded byte")
        self.acc = 0
        self.nbits = 0
        if self.pos + 2 > len(self.data) or self.data[self.pos] != 0xFF:
            raise ValueError("expected RST marker at restart boundary")
        got = self.data[self.pos + 1]
        if not 0xD0 <= got <= 0xD7:
            raise ValueError(f"expected RSTn at restart boundary, got FF{got:02X}")
        if got - 0xD0 != m:
            raise ValueError(
                f"RST sequence error: expected RST{m}, got RST{got - 0xD0}"
            )
        self.pos += 2

    def get(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        # Fast path (the decode profile put 96% of decode time in this
        # walk + get(1)): resolve codes of length <= 8 with ONE lookup in
        # the table's canonical 8-bit window expansion. The window is
        # zero-padded when fewer than 8 real bits remain (soft fill stops
        # at markers/end), and a hit is taken only when the matched code
        # fits inside the real bits — so bit consumption, restart-pad
        # handling, and every truncation/invalid-code error are identical
        # to the bit-by-bit walk below, which remains the fallback for
        # long codes, plain-dict tables, and scan tails.
        flen = getattr(table, "flen", None)
        if flen is not None:
            nbits = self.nbits
            if nbits < 8:
                while self._try_fill():
                    if self.nbits >= 8:
                        break
                nbits = self.nbits
            if nbits >= 8:
                w = (self.acc >> (nbits - 8)) & 0xFF
            else:
                w = (self.acc << (8 - nbits)) & 0xFF
            length = flen[w]
            if 0 < length <= nbits:
                self.nbits = nbits - length
                self.acc &= (1 << self.nbits) - 1
                return table.fsym[w]
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.get(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG stream")


def _extend(v: int, s: int) -> int:
    """T.81 §F.2.2.1 EXTEND: map the s low bits to a signed amplitude."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _magnitude(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


# --------------------------------------------------------------------------
# Encoder
# --------------------------------------------------------------------------


def _quantize_block(block: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Quantize one 8×8 block of uint8 samples. DC comes from the exact
    integer block sum (see module docstring determinism contract); ACs
    from the float DCT, rounded half away from zero."""
    if int(block.min()) == int(block.max()):
        # Constant block (flat background / synthesized asset): the float
        # DCT's AC magnitudes are pure rounding noise (|coef| ≲ 1e-11 ≪
        # q/2 ≥ 0.5), so half-away quantization is provably 0 for every
        # AC — skip the matmuls and emit zeros plus the exact integer DC.
        out = np.zeros((8, 8), dtype=np.int64)
    else:
        shifted = block.astype(np.float64) - 128.0
        coef = _DCT_T @ shifted @ _DCT_T.T
        out = _round_half_away(coef / q).astype(np.int64)
    dc_int = int(block.sum()) - 128 * 64  # = 8 · DC, exactly
    d = 8 * int(q[0, 0])
    qd = (2 * abs(dc_int) + d) // (2 * d)
    out[0, 0] = qd if dc_int >= 0 else -qd
    return out


def _quantize_plane(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Batched ``_quantize_block`` over a padded component plane:
    returns the (nby, nbx, 8, 8) int64 quantized blocks in one shot
    (guide §4.2, VERDICT r9 item 6 — the per-block matmuls dominated
    non-flat encode). Bit-identical to the per-block path by
    construction: the constant-block mask, float shift, stacked matmul
    (same 2D kernel per slice — pinned by tests/test_jpeg.py::
    test_quantize_plane_matches_per_block), half-away rounding, and the
    exact integer-DC overwrite are the same operations in the same
    order, just vectorized across blocks."""
    ph, pw = plane.shape
    nby, nbx = ph // 8, pw // 8
    blocks = plane.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    n = blocks.shape[0]
    flat = blocks.reshape(n, 64).astype(np.int64)
    const = flat.min(axis=1) == flat.max(axis=1)
    out = np.zeros((n, 8, 8), dtype=np.int64)
    nonconst = ~const
    if nonconst.any():
        shifted = blocks[nonconst].astype(np.float64) - 128.0
        coef = _DCT_T @ shifted @ _DCT_T.T
        out[nonconst] = _round_half_away(coef / q).astype(np.int64)
    dc_int = flat.sum(axis=1) - 128 * 64  # = 8 · DC, exactly
    d = 8 * int(q[0, 0])
    qd = (2 * np.abs(dc_int) + d) // (2 * d)
    out[:, 0, 0] = np.where(dc_int >= 0, qd, -qd)
    return out.reshape(nby, nbx, 8, 8)


def _encode_block(
    bw: _BitWriter,
    qblock: np.ndarray,
    prev_dc: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> int:
    zz = qblock[_ZZ_ROWS, _ZZ_COLS]
    dc = int(zz[0])
    diff = dc - prev_dc
    s = _magnitude(diff)
    code, length = dc_codes[s]
    # Huffman code and magnitude bits fuse into ONE put each (the bit
    # stream is the concatenation either way; put masks the value): the
    # encode profile showed BitWriter.put call count as a top cost.
    if s:
        bw.put((code << s) | ((diff if diff >= 0 else diff + (1 << s) - 1) & ((1 << s) - 1)), length + s)
    else:
        bw.put(code, length)
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last_nz = (nz[-1] + 1) if nz.size else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, length = ac_codes[0xF0]  # ZRL
            bw.put(code, length)
            run -= 16
        s = _magnitude(v)
        code, length = ac_codes[(run << 4) | s]
        bw.put((code << s) | ((v if v >= 0 else v + (1 << s) - 1) & ((1 << s) - 1)), length + s)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        bw.put(code, length)
    return dc


def _segment(marker: bytes, payload: bytes) -> bytes:
    return marker + struct.pack(">H", len(payload) + 2) + payload


def _dht_payload(tclass: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
    return bytes([tclass << 4 | tid]) + bytes(bits) + bytes(vals)


def _encode_jpeg(
    planes: list[np.ndarray],
    qscale: int,
    color: bool,
    restart_interval: int = 0,
    samp: list[tuple[int, int]] | None = None,
    size: tuple[int, int] | None = None,
) -> bytes:
    """Shared encoder body: ``planes[c]`` is component c at its OWN
    (possibly subsampled) resolution; ``samp[c]`` its (hs, vs) sampling
    factors (default all (1, 1) = 4:4:4); ``size`` the full-resolution
    (h, w) recorded in SOF (defaults to planes[0]'s shape — correct
    whenever component 0 samples at (hmax, vmax), as Y does).
    ``restart_interval`` > 0 emits a DRI segment and an RSTm marker
    (byte-aligned, DC predictors reset) every that-many MCUs."""
    samp = samp or [(1, 1)] * len(planes)
    h, w = size or planes[0].shape
    q_luma = quant_table(QUANT_LUMA, qscale)
    q_chroma = quant_table(QUANT_CHROMA, qscale)
    out = bytearray(b"\xff\xd8")  # SOI
    # JFIF APP0
    out += _segment(
        b"\xff\xe0", b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    # DQT
    out += _segment(
        b"\xff\xdb", bytes([0x00]) + q_luma[_ZZ_ROWS, _ZZ_COLS].astype(np.uint8).tobytes()
    )
    if color:
        out += _segment(
            b"\xff\xdb",
            bytes([0x01]) + q_chroma[_ZZ_ROWS, _ZZ_COLS].astype(np.uint8).tobytes(),
        )
    # SOF0
    ncomp = 3 if color else 1
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        tq = 0 if cid == 1 else 1
        hs, vs = samp[cid - 1]
        sof += bytes([cid, hs << 4 | vs, tq])
    out += _segment(b"\xff\xc0", sof)
    # DHT
    out += _segment(b"\xff\xc4", _dht_payload(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS))
    out += _segment(b"\xff\xc4", _dht_payload(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS))
    if color:
        out += _segment(
            b"\xff\xc4", _dht_payload(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        )
        out += _segment(
            b"\xff\xc4", _dht_payload(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS)
        )
    # DRI
    if restart_interval:
        out += _segment(b"\xff\xdd", struct.pack(">H", restart_interval))
    # SOS
    sos = bytes([ncomp])
    for cid in range(1, ncomp + 1):
        tbl = 0 if cid == 1 else 1
        sos += bytes([cid, tbl << 4 | tbl])
    sos += bytes([0, 63, 0])
    out += _segment(b"\xff\xda", sos)

    dc_luma = _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)
    ac_luma = _build_codes(_AC_LUMA_BITS, _AC_LUMA_VALS)
    dc_chroma = _build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
    ac_chroma = _build_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)

    hmax = max(hs for hs, _ in samp)
    vmax = max(vs for _, vs in samp)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    # pad each component plane (at its own resolution) to full MCU coverage
    padded = []
    for p, (hs, vs) in zip(planes, samp):
        th, tw = mcus_y * 8 * vs, mcus_x * 8 * hs
        ph_, pw_ = p.shape
        padded.append(np.pad(p, ((0, th - ph_), (0, tw - pw_)), mode="edge"))
    # quantize every component's blocks in one batched pass (bit-identical
    # to the old per-block calls — _quantize_plane docstring)
    qplanes = [
        _quantize_plane(p, q_luma if ci == 0 else q_chroma)
        for ci, p in enumerate(padded)
    ]
    bw = _BitWriter()
    prev_dc = [0] * ncomp
    mcu = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.put_marker(0xD0 + rst)
                rst = (rst + 1) % 8
                prev_dc = [0] * ncomp
            for ci in range(ncomp):
                hs, vs = samp[ci]
                dc_codes = dc_luma if ci == 0 else dc_chroma
                ac_codes = ac_luma if ci == 0 else ac_chroma
                for byi in range(vs):
                    for bxi in range(hs):
                        qb = qplanes[ci][my * vs + byi, mx * hs + bxi]
                        prev_dc[ci] = _encode_block(
                            bw, qb, prev_dc[ci], dc_codes, ac_codes
                        )
            mcu += 1
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_gray(
    img: np.ndarray, qscale: int = 1, restart_interval: int = 0
) -> bytes:
    """Encode an (h, w) uint8 array as a baseline grayscale JPEG."""
    a = np.asarray(img, dtype=np.uint8)
    if a.ndim != 2:
        raise ValueError("encode_jpeg_gray expects an (h, w) array")
    return _encode_jpeg([a], qscale, color=False, restart_interval=restart_interval)


def _rgb_planes(
    img: np.ndarray, subsampling: str
) -> tuple[list[np.ndarray], list[tuple[int, int]], tuple[int, int]]:
    """BT.601 forward transform (rounded half up) + chroma box-mean
    downsample; returns (planes, samp, size) in the `_encode_jpeg`
    contract. Shared by the baseline, progressive, and multi-scan
    sequential RGB encoders so all three carry identical coefficients."""
    a = np.asarray(img, dtype=np.float64)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("expected an (h, w, 3) RGB array")
    if subsampling not in ("444", "422", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    planes = [
        np.clip(np.floor(p + 0.5), 0, 255).astype(np.uint8) for p in (y, cb, cr)
    ]
    h, w = planes[0].shape
    if subsampling == "444":
        return planes, [(1, 1)] * 3, (h, w)
    # 4:2:0 / 4:2:2 chroma: pad to even dims (edge), box mean, half-up.
    fy = 2 if subsampling == "420" else 1
    sub = [planes[0]]
    for p in planes[1:]:
        q = np.pad(
            p, ((0, h % fy if fy == 2 else 0), (0, w % 2)), mode="edge"
        ).astype(np.int64)
        hh, ww = q.shape
        blocks = q.reshape(hh // fy, fy, ww // 2, 2).sum(axis=(1, 3))
        n = 2 * fy
        sub.append(((blocks + n // 2) // n).astype(np.uint8))  # floor(mean+0.5)
    return sub, [(2, fy), (1, 1), (1, 1)], (h, w)


def encode_jpeg_rgb(
    img: np.ndarray,
    qscale: int = 1,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a baseline YCbCr JPEG
    (BT.601 forward transform, rounded half up). ``subsampling``:
    '444' (full-res chroma), '422' (chroma halved horizontally, 1×2
    box-mean), or '420' (chroma 2×2 box-mean downsampled, half-up —
    the web's default storage format)."""
    planes, samp, size = _rgb_planes(img, subsampling)
    return _encode_jpeg(
        planes,
        qscale,
        color=True,
        restart_interval=restart_interval,
        samp=samp,
        size=size,
    )


def encode_jpeg_rgb_multiscan(
    img: np.ndarray, qscale: int = 1, subsampling: str = "420", restart_interval: int = 0
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a MULTI-SCAN SEQUENTIAL
    (SOF0) YCbCr JPEG (§B.2.3, Ns < Nf): scan 1 carries Y alone,
    NON-interleaved on its own §A.2.2 block raster; scan 2 carries
    Cb + Cr interleaved in MCU order. Same quantized coefficients as
    ``encode_jpeg_rgb`` of the same image, so any conformant decoder
    (including ours) produces identical pixels to the single-scan
    encoding — the parity invariant the registry oracle hashes.

    ``restart_interval`` > 0 emits a DRI segment and RSTm markers every
    Ri MCUs within EACH scan (§E.2.4: byte-align, marker number cycles
    0..7 restarting at every SOS, DC predictors reset). In a
    non-interleaved scan one MCU is one data unit (§B.2.3), so scan 1
    restarts every Ri Y blocks while scan 2 restarts every Ri chroma
    MCU positions — VERDICT r7 item 4 (DRI is legal in §B.2.3 streams
    and common in crawl data)."""
    planes, samp, size = _rgb_planes(img, subsampling)
    h, w = size
    q_luma = quant_table(QUANT_LUMA, qscale)
    q_chroma = quant_table(QUANT_CHROMA, qscale)
    hmax = max(hs for hs, _ in samp)
    vmax = max(vs for _, vs in samp)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)

    out = bytearray(b"\xff\xd8")
    out += _segment(
        b"\xff\xe0", b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    out += _segment(
        b"\xff\xdb", bytes([0x00]) + q_luma[_ZZ_ROWS, _ZZ_COLS].astype(np.uint8).tobytes()
    )
    out += _segment(
        b"\xff\xdb",
        bytes([0x01]) + q_chroma[_ZZ_ROWS, _ZZ_COLS].astype(np.uint8).tobytes(),
    )
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid in range(1, 4):
        hs, vs = samp[cid - 1]
        sof += bytes([cid, hs << 4 | vs, 0 if cid == 1 else 1])
    out += _segment(b"\xff\xc0", sof)
    out += _segment(b"\xff\xc4", _dht_payload(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS))
    out += _segment(b"\xff\xc4", _dht_payload(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS))
    out += _segment(b"\xff\xc4", _dht_payload(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS))
    out += _segment(b"\xff\xc4", _dht_payload(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS))
    if restart_interval:
        out += _segment(b"\xff\xdd", struct.pack(">H", restart_interval))

    dc_codes = [
        _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS),
        _build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS),
    ]
    ac_codes = [
        _build_codes(_AC_LUMA_BITS, _AC_LUMA_VALS),
        _build_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS),
    ]
    padded = []
    for p, (hs, vs) in zip(planes, samp):
        th, tw = mcus_y * 8 * vs, mcus_x * 8 * hs
        ph_, pw_ = p.shape
        padded.append(np.pad(p, ((0, th - ph_), (0, tw - pw_)), mode="edge"))

    # one batched quantize pass per component (bit-identical to the old
    # per-block _quantize_block calls — _quantize_plane docstring)
    qplanes = [
        _quantize_plane(p, q_luma if ci == 0 else q_chroma)
        for ci, p in enumerate(padded)
    ]

    def block_at(ci: int, by: int, bx: int) -> np.ndarray:
        return qplanes[ci][by, bx]

    # Scan 1: Y, non-interleaved — the component's own ceil-over-sample
    # block grid (§A.2.2), NOT the MCU-padded grid. One data unit per
    # MCU (§B.2.3), so the restart cadence counts single blocks.
    nby, nbx = _comp_grid(h, w, samp[0][0], samp[0][1], hmax, vmax)
    bw = _BitWriter()
    prev = 0
    rst = 0
    for i, (by, bx) in enumerate((by, bx) for by in range(nby) for bx in range(nbx)):
        if restart_interval and i and i % restart_interval == 0:
            bw.put_marker(0xD0 + rst)
            rst = (rst + 1) % 8
            prev = 0
        prev = _encode_block(bw, block_at(0, by, bx), prev, dc_codes[0], ac_codes[0])
    bw.flush()
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    out += _segment(b"\xff\xda", sos) + bw.out
    # Scan 2: Cb + Cr interleaved in MCU order (restart number resets
    # to 0 at each SOS per §E.2.4).
    bw = _BitWriter()
    prev_dc = [0, 0]
    rst = 0
    for mi, (my, mx) in enumerate(
        (my, mx) for my in range(mcus_y) for mx in range(mcus_x)
    ):
        if restart_interval and mi and mi % restart_interval == 0:
            bw.put_marker(0xD0 + rst)
            rst = (rst + 1) % 8
            prev_dc = [0, 0]
        for ci in (1, 2):
            hs, vs = samp[ci]
            for byi in range(vs):
                for bxi in range(hs):
                    prev_dc[ci - 1] = _encode_block(
                        bw,
                        block_at(ci, my * vs + byi, mx * hs + bxi),
                        prev_dc[ci - 1],
                        dc_codes[1],
                        ac_codes[1],
                    )
    bw.flush()
    sos = bytes([2, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += _segment(b"\xff\xda", sos) + bw.out
    out += b"\xff\xd9"
    return bytes(out)


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------


def is_jpeg(data: bytes) -> bool:
    """SOI sniff — 2 bytes, per ADVICE r3 (don't enumerate APPn)."""
    return len(data) >= 3 and data[:3] == b"\xff\xd8\xff"


def _parse_dqt_seg(seg: bytes, qtables: dict[int, np.ndarray]) -> None:
    """One DQT segment — may hold several tables (§B.2.4.1)."""
    p = 0
    while p < len(seg):
        prec, tid = seg[p] >> 4, seg[p] & 0x0F
        p += 1
        n = 64 * (2 if prec else 1)
        raw = seg[p : p + n]
        p += n
        vals = (
            np.frombuffer(raw, dtype=">u2").astype(np.int64)
            if prec
            else np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
        )
        q = np.zeros((8, 8), dtype=np.int64)
        q[_ZZ_ROWS, _ZZ_COLS] = vals
        qtables[tid] = q


def _merge_dqt(
    seg: bytes, qtables: dict[int, np.ndarray], latched: dict[int, np.ndarray]
) -> None:
    """DQT with first-scan latching (ADVICE r6): once a scan has coded a
    component, that component's quantization table is part of the
    frame's decode contract — libjpeg latches tables at the component's
    first scan, so a (non-conformant) stream redefining a latched table
    mid-frame would decode to DIFFERENT pixels under a last-table-wins
    rule. Raise instead of ever producing a wrong pixel; a byte-
    identical redefinition stays legal."""
    new: dict[int, np.ndarray] = {}
    _parse_dqt_seg(seg, new)
    for tid, q in new.items():
        if tid in latched and not np.array_equal(latched[tid], q):
            raise ValueError(
                f"DQT redefines quantization table {tid} after a scan "
                "latched it for this frame"
            )
        qtables[tid] = q


def _latch_scan_qtables(
    scan_cids: list[int],
    cid_to_ci: dict[int, int],
    comps: list[tuple],
    qtables: dict[int, np.ndarray],
    latched: dict[int, np.ndarray],
) -> None:
    """Snapshot the quantization tables of every component in a scan at
    that component's first SOS (the _merge_dqt latch contract)."""
    for cid in scan_cids:
        tq = comps[cid_to_ci[cid]][3]
        if tq not in qtables:
            raise ValueError(f"scan references undefined quantization table {tq}")
        if tq not in latched:
            latched[tq] = qtables[tq].copy()


def _parse_dht_seg(
    seg: bytes, huff: dict[tuple[int, int], dict[tuple[int, int], int]]
) -> None:
    """One DHT segment — may hold several tables (§B.2.4.2)."""
    p = 0
    while p < len(seg):
        tclass, tid = seg[p] >> 4, seg[p] & 0x0F
        p += 1
        bits = list(seg[p : p + 16])
        p += 16
        nvals = sum(bits)
        vals = list(seg[p : p + nvals])
        p += nvals
        key = (bytes(bits), bytes(vals))
        fast = _HUFF_FAST_CACHE.get(key)
        if fast is None:
            table: dict[tuple[int, int], int] = {}
            code = 0
            k = 0
            for length in range(1, 17):
                for _ in range(bits[length - 1]):
                    table[(length, code)] = vals[k]
                    code += 1
                    k += 1
                code <<= 1
            if len(_HUFF_FAST_CACHE) >= _HUFF_FAST_CACHE_CAP:
                _HUFF_FAST_CACHE.clear()
            fast = _HUFF_FAST_CACHE[key] = _HuffTable(table)
        huff[(tclass, tid)] = fast


def _comp_grid(h: int, w: int, hs: int, vs: int, hmax: int, vmax: int) -> tuple[int, int]:
    """Block grid of one component in a NON-interleaved scan (§A.2.2):
    ceil over the component's own sample dimensions, not the padded
    interleaved MCU coverage."""
    yi = -(-(h * vs) // vmax)
    xi = -(-(w * hs) // hmax)
    return -(-yi // 8), -(-xi // 8)


def _scan_order(
    frame: dict, scan_cids: list[int], cid_to_ci: dict[int, int]
) -> list[tuple[int, int, int, int]]:
    """Block order of one scan (§A.2): the component's own raster when
    the scan is non-interleaved (ns == 1), interleaved MCU order over
    the scan's components otherwise. The frame-global MCU grid is
    correct for ANY component subset: ceil(ceil(w*hs/hmax)/(8*hs)) ==
    ceil(w/(8*hmax)) identically. Returns (ci, cid, by, bx) indexing
    the padded per-component coefficient grids."""
    comps = frame["comps"]
    if len(scan_cids) == 1:
        cid = scan_cids[0]
        ci = cid_to_ci[cid]
        _, hs, vs, _ = comps[ci]
        nby, nbx = _comp_grid(
            frame["h"], frame["w"], hs, vs, frame["hmax"], frame["vmax"]
        )
        return [(ci, cid, by, bx) for by in range(nby) for bx in range(nbx)]
    order = []
    for my in range(frame["mcus_y"]):
        for mx in range(frame["mcus_x"]):
            for cid in scan_cids:
                ci = cid_to_ci[cid]
                _, hs, vs, _ = comps[ci]
                for byi in range(vs):
                    for bxi in range(hs):
                        order.append((ci, cid, my * vs + byi, mx * hs + bxi))
    return order


def _dec_seq_scan(
    br: _BitReader,
    order: list[tuple[int, int, int, int]],
    scan_tbl: dict[int, tuple[int, int]],
    huff: dict,
    coefs: list[np.ndarray],
    restart_interval: int = 0,
    blocks_per_mcu: int = 1,
) -> None:
    """One full-precision sequential scan (§B.2.3: Ss=0, Se=63,
    Ah=Al=0) — the codec's one sequential entropy decoder. A baseline
    frame is a single scan of this kind, a multi-scan sequential frame
    several, and ``decode_segment_pixel_sum`` runs it over one restart
    segment. Each block decodes DC diff + AC run-lengths in one pass into
    the quantized-coefficient accumulator shared with the progressive
    scan decoders, so dequantize + IDCT happen once, in ``_idct_planes``.

    ``restart_interval`` > 0 consumes an RSTm marker (byte-aligned,
    sequence-checked, m cycling 0..7) every Ri MCUs and resets the DC
    predictors (§E.2.4). ``blocks_per_mcu`` maps the flat block order to
    MCU counts: 1 for a non-interleaved scan (one data unit per MCU,
    §B.2.3), sum(hs*vs over scan components) when interleaved."""
    tabs = {cid: (huff[(0, td)], huff[(1, ta)]) for cid, (td, ta) in scan_tbl.items()}
    prev: dict[int, int] = {}
    rst = 0
    per_rst = restart_interval * blocks_per_mcu
    for i, (ci, cid, by, bx) in enumerate(order):
        if per_rst and i and i % per_rst == 0:
            br.expect_rst(rst)
            rst = (rst + 1) % 8
            prev = {}
        dc_tab, ac_tab = tabs[cid]
        blk = coefs[ci][by, bx]
        s = br.read_symbol(dc_tab)
        diff = _extend(br.get(s), s) if s else 0
        prev[ci] = prev.get(ci, 0) + diff
        blk[0] = prev[ci]
        k = 1
        while k <= 63:
            rs = br.read_symbol(ac_tab)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                break
            k += r
            if k > 63:
                raise ValueError("AC run overflows block")
            blk[k] = _extend(br.get(s), s)
            k += 1


def _idct_planes(
    coefs: list[np.ndarray], comps: list[tuple], qtables: dict[int, np.ndarray]
) -> list[np.ndarray]:
    """Dequantize + IDCT every accumulated coefficient block — the one
    decode tail: every frame (baseline, multi-scan sequential,
    progressive) and every restart segment ends here.

    Round 10 (guide §4.2, VERDICT r9 item 5): one BATCHED dequantize +
    IDCT over the whole plane instead of a Python loop over 8x8 blocks.
    Bit-identical to the per-block form by construction: dequantization
    is exact int64; ``np.matmul`` with a stacked operand runs the SAME 2D
    matmul per slice (pinned against the per-block reference by
    tests/test_jpeg.py::test_idct_planes_batched_matches_per_block), and
    the split-out DC term is added with the same scalar IEEE add per
    element as the per-block ``+ dc / 8.0``."""
    planes = []
    for ci, (_, _hs, _vs, tq) in enumerate(comps):
        q = qtables[tq]
        nby, nbx = coefs[ci].shape[:2]
        zz = coefs[ci].reshape(nby * nbx, 64)
        blocks = np.zeros((nby * nbx, 8, 8), dtype=np.int64)
        blocks[:, _ZZ_ROWS, _ZZ_COLS] = zz * q[_ZZ_ROWS, _ZZ_COLS]
        dc = blocks[:, 0, 0].astype(np.float64)
        ac = blocks.astype(np.float64)
        ac[:, 0, 0] = 0.0
        out = (_DCT_T.T @ ac @ _DCT_T) + (dc / 8.0)[:, None, None]
        planes.append(
            out.reshape(nby, nbx, 8, 8).transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        )
    return planes


def _finish_image(
    planes: list[np.ndarray],
    comps: list[tuple[int, int, int, int]],
    hmax: int,
    vmax: int,
    h: int,
    w: int,
) -> tuple[int, int, int, np.ndarray]:
    """The decoder's colour tail: upsample subsampled components to full
    resolution by replication (§A.1.1 nearest-neighbor — self-consistent
    with the encoder's box-mean downsample), crop, level-shift, and
    apply the BT.601 inverse for color (rounded half up, clamped)."""
    up = []
    for p, (_, hs, vs, _) in zip(planes, comps):
        if hs != hmax:
            p = np.repeat(p, hmax // hs, axis=1)
        if vs != vmax:
            p = np.repeat(p, vmax // vs, axis=0)
        up.append(p)
    cropped = [np.clip(np.floor(p[:h, :w] + 0.5) + 128.0, 0, 255) for p in up]
    if len(comps) == 1:
        return w, h, 1, cropped[0].astype(np.uint8)
    y, cb, cr = cropped
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack(
        [np.clip(np.floor(ch + 0.5), 0, 255) for ch in (r, g, b)], axis=-1
    )
    return w, h, 3, rgb.astype(np.uint8)


def _scan_end(data: bytes, pos: int) -> int:
    """Find the next non-stuffing marker from ``pos`` (the byte offset
    the bit reader stopped at after decoding a scan's last symbol)."""
    while pos + 1 < len(data):
        if data[pos] == 0xFF and data[pos + 1] != 0x00:
            return pos
        pos += 1
    raise ValueError("scan data ran off the end of the stream")


def _parse_sof(seg: bytes, progressive: bool) -> dict:
    """SOF0/SOF1/SOF2 payload -> the frame state: size, components
    ``(cid, hs, vs, tq)``, max sampling factors and the interleaved MCU
    grid (§A.2.3 — sized by the MAX sampling factors)."""
    prec = seg[0]
    if prec != 8:
        raise NotImplementedError(f"{prec}-bit JPEG not supported")
    h, w = struct.unpack(">HH", seg[1:5])
    ncomp = seg[5]
    comps = []
    for i in range(ncomp):
        cid, samp, tq = seg[6 + 3 * i : 9 + 3 * i]
        comps.append((cid, samp >> 4, samp & 0x0F, tq))
    if any(hs not in (1, 2) or vs not in (1, 2) for _, hs, vs, _ in comps):
        raise NotImplementedError(
            "only sampling factors 1 and 2 (4:4:4 / 4:2:2 / 4:2:0) supported"
        )
    if ncomp not in (1, 3):
        raise NotImplementedError(f"{ncomp}-component JPEG not supported")
    hmax = max(hs for _, hs, _, _ in comps)
    vmax = max(vs for _, _, vs, _ in comps)
    return {
        "h": h,
        "w": w,
        "comps": comps,
        "hmax": hmax,
        "vmax": vmax,
        "mcus_x": (w + 8 * hmax - 1) // (8 * hmax),
        "mcus_y": (h + 8 * vmax - 1) // (8 * vmax),
        "progressive": progressive,
    }


def _walk(data: bytes, stop_at_sos: bool = False) -> dict:
    """The codec's one marker walk (T.81 §B.2).

    SOF0/SOF1/SOF2 set the frame state; DQT always merges through the
    first-scan latch (``_merge_dqt``); DHT and DRI apply to every later
    scan until redefined (§B.2.4). Each SOS decodes its entropy data into
    the per-component quantized-coefficient grids, then the walk resumes
    at the marker after the scan:

    * a sequential frame sends every scan to ``_dec_seq_scan``. Each scan
      must be full precision (Ss=0, Se=63, Ah=Al=0) and code each of its
      components for the first time, and every component must be coded
      by EOI. A baseline frame is the one-scan case; §B.2.3 multi-scan
      streams split the components across several scans (non-interleaved
      on the component's own §A.2.2 raster, or interleaved over a subset
      in MCU order; Ri counts MCUs per scan, VERDICT r7 item 4);
    * a progressive frame sends DC scans to ``_dec_dc_scan`` and AC scans
      to ``_dec_ac_first`` / ``_dec_ac_refine`` (Annex G; restart
      intervals per §E.2.4 in every scan type, VERDICT r8 item 3).

    Returns the frame state plus the tables and coefficient grids at EOI.
    A stream that ends before EOI or inside a marker segment, or that
    carries a second SOF, raises ValueError: those coefficients would be
    incomplete or belong to another frame. With ``stop_at_sos`` the walk
    returns at the first SOS instead, with the
    scan's Huffman selectors and where its entropy data starts — the
    header the restart-segment APIs share. That mode handles a
    single-scan sequential stream only: a multi-scan or progressive
    stream raises NotImplementedError (ADVICE r5)."""
    if not is_jpeg(data):
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    latched: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame: dict | None = None
    coefs: list[np.ndarray] = []
    coded: set[int] = set()
    saw_scan = False
    restart_interval = 0
    while True:  # ends at EOI, or at the first SOS with stop_at_sos
        # §B.1.1.2: any number of 0xFF fill bytes may pad before a marker;
        # skip them so the marker id is never itself read as 0xFF (ADVICE
        # r5: a foreign JPEG with fill bytes otherwise misparses — 0xFF is
        # not a marker id and the next two bytes get read as a bogus
        # segment length).
        while pos + 1 < len(data) and data[pos] == data[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(data):
            # no EOI: a progressive stream cut between scans would
            # otherwise decode to partially refined (wrong) pixels
            raise ValueError("stream ends before EOI (truncated JPEG)")
        if data[pos] != 0xFF:
            raise ValueError("expected marker")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers
        seglen = int.from_bytes(data[pos : pos + 2], "big")
        if pos + 2 > len(data) or pos + seglen > len(data):
            raise ValueError(f"truncated marker segment FF{marker:02X}")
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            _merge_dqt(seg, qtables, latched)
        elif marker == 0xC4:  # DHT
            _parse_dht_seg(seg, huff)
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0 / SOF1 / SOF2
            if frame is not None:
                raise ValueError("second frame header (SOF) in one stream")
            frame = _parse_sof(seg, progressive=marker == 0xC2)
            if not stop_at_sos:
                coefs = [
                    np.zeros(
                        (frame["mcus_y"] * vs, frame["mcus_x"] * hs, 64), dtype=np.int64
                    )
                    for _, hs, vs, _ in frame["comps"]
                ]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline/extended-sequential/progressive Huffman JPEG "
                "(SOF0/SOF1/SOF2) is supported"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            comps = frame["comps"]
            cid_to_ci = {c[0]: i for i, c in enumerate(comps)}
            ns = seg[0]
            scan_cids = []
            scan_tbl: dict[int, tuple[int, int]] = {}
            for i in range(ns):
                cid, tsel = seg[1 + 2 * i : 3 + 2 * i]
                if cid not in cid_to_ci:
                    raise ValueError(f"scan references unknown component {cid}")
                scan_tbl[cid] = (tsel >> 4, tsel & 0x0F)
                scan_cids.append(cid)
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if frame["progressive"]:
                if ss == 0 and se != 0:
                    raise ValueError("DC scan with nonzero Se")
                if ss and ns != 1:
                    raise ValueError("interleaved AC scan is not spec-legal")
            else:
                if (ss, se, ahal) != (0, 63, 0):
                    raise ValueError(
                        "sequential frame with progressive scan parameters "
                        f"(Ss={ss}, Se={se}, AhAl={ahal:#04x})"
                    )
                for cid in scan_cids:
                    if cid_to_ci[cid] in coded:
                        raise ValueError(f"component {cid} coded in two scans")
                    coded.add(cid_to_ci[cid])
            _latch_scan_qtables(scan_cids, cid_to_ci, comps, qtables, latched)
            if stop_at_sos:
                if frame["progressive"] or ns < len(comps):
                    raise NotImplementedError(
                        "multi-scan and progressive JPEG decode whole-file "
                        "only; restart segments need a single-scan "
                        "sequential stream"
                    )
                return {
                    **frame,
                    "qtables": qtables,
                    "huff": huff,
                    "restart_interval": restart_interval,
                    "scan_tbl": scan_tbl,
                    "entropy_start": pos + seglen,
                }
            order = _scan_order(frame, scan_cids, cid_to_ci)
            # Ri counts MCUs: one data unit per MCU when the scan is
            # non-interleaved (ns == 1), sum(hs*vs) blocks per MCU when
            # interleaved (§B.2.3 / §E.2.4)
            bpm = 1 if ns == 1 else sum(
                comps[cid_to_ci[c]][1] * comps[cid_to_ci[c]][2] for c in scan_cids
            )
            br = _BitReader(data, pos + seglen)
            if not frame["progressive"]:
                _dec_seq_scan(br, order, scan_tbl, huff, coefs, restart_interval, bpm)
            elif ss == 0:
                _dec_dc_scan(
                    br, order, scan_tbl, huff, coefs, ah, al, restart_interval, bpm
                )
            else:
                dec = _dec_ac_refine if ah else _dec_ac_first
                tab = huff[(1, scan_tbl[scan_cids[0]][1])]
                dec(br, order, tab, coefs, ss, se, al, restart_interval)
            saw_scan = True
            pos = _scan_end(data, br.pos)
            continue
        pos += seglen
    if frame is None or not saw_scan:
        raise ValueError("no SOS marker found (truncated JPEG)")
    if not frame["progressive"] and len(coded) < len(frame["comps"]):
        raise ValueError(
            f"only {len(coded)} of {len(frame['comps'])} components coded "
            "(truncated multi-scan stream)"
        )
    return {**frame, "qtables": qtables, "coefs": coefs}


def decode_jpeg(data: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode a JPEG to (width, height, channels, uint8 array).

    Grayscale returns (h, w); color returns (h, w, 3) RGB (BT.601
    inverse, rounded half up, clamped). See module docstring for the
    supported envelope; anything outside raises NotImplementedError.
    Baseline, §B.2.3 multi-scan sequential (components split across
    several SOF0/SOF1 scans — common in real crawls, VERDICT r6 item 6)
    and progressive (SOF2) streams all take one path: ``_walk`` gathers
    every scan's quantized coefficients, then one batched dequantize +
    IDCT (``_idct_planes``) and the colour tail (``_finish_image``) run
    once — so every encoding of the same coefficients decodes to exactly
    the same pixels (the parity invariant the registry oracles hash)."""
    f = _walk(data)
    # qtables here equals the first-scan latch for every latched id —
    # _merge_dqt raises on any later divergent redefinition (ADVICE r6).
    planes = _idct_planes(f["coefs"], f["comps"], f["qtables"])
    return _finish_image(planes, f["comps"], f["hmax"], f["vmax"], f["h"], f["w"])


# --------------------------------------------------------------------------
# Restart-segment APIs: the distributed-decode path
# --------------------------------------------------------------------------


def split_restart_segments(data: bytes) -> tuple[bytes, int, list[tuple[int, bytes]]]:
    """Split a restart-interval JPEG into independently decodable
    entropy segments (§E.2.4: each RSTm boundary byte-aligns and resets
    the DC predictors, so every segment decodes with zero upstream
    state — the property that makes one huge JPEG parallel-decodable).

    Returns ``(header_bytes, n_mcus_total, [(mcu_start, segment), ...])``
    where ``header_bytes`` is the marker stream through SOS (re-parsed
    once per worker, ~350 B) and each segment is raw entropy data with
    its RST markers stripped. Requires DRI > 0."""
    hdr = _walk(data, stop_at_sos=True)
    ri = hdr["restart_interval"]
    if ri <= 0:
        raise ValueError("split_restart_segments requires a restart interval")
    # An interleaved scan's MCU grid is sized by the MAX sampling factors
    # (§A.2.3) — ceil(h/8)*ceil(w/8) is only right for 1x1 sampling and
    # silently miscounted per-segment MCUs for subsampled color streams
    # (ADVICE r5). A one-component scan is non-interleaved (§A.2) whatever
    # sampling it declares: one block per MCU on its own grid.
    if len(hdr["comps"]) == 1:
        _, hs, vs, _ = hdr["comps"][0]
        nby, nbx = _comp_grid(hdr["h"], hdr["w"], hs, vs, hdr["hmax"], hdr["vmax"])
        n_mcus = nby * nbx
    else:
        n_mcus = hdr["mcus_y"] * hdr["mcus_x"]
    start = hdr["entropy_start"]
    header = data[:start]
    # scan entropy data for unstuffed markers
    bounds = []
    pos = start
    while pos < len(data) - 1:
        if data[pos] != 0xFF:
            pos += 1
            continue
        nxt = data[pos + 1]
        if nxt == 0x00:
            pos += 2  # stuffed
        elif 0xD0 <= nxt <= 0xD7:
            bounds.append(pos)
            pos += 2
        else:
            bounds.append(pos)  # EOI / next marker: end of entropy data
            break
    else:
        raise ValueError("entropy data ran off the end of the stream")
    segments = []
    seg_start = start
    for i, b in enumerate(bounds):
        segments.append((i * ri, data[seg_start:b]))
        seg_start = b + 2
    return header, n_mcus, segments


#: Per-worker header-parse cache: every segment of an asset (and every
#: asset encoded with the same tables) shares one ~350 B header, so a
#: worker parses it once per distinct header, not once per segment —
#: at 16 segments/asset the parse was the kernel's dominant cost.
_HEADER_CACHE: dict[bytes, dict] = {}


def decode_segment_pixel_sum(
    header: bytes, segment: bytes, n_mcus: int
) -> tuple[int, int]:
    """Decode one restart segment of a GRAYSCALE baseline JPEG and
    return ``(n_blocks, sum_px)`` — the per-segment partial of the
    whole-image pixel sum. Workers call this with the shared ~350 B
    header and their own segment; no worker sees another segment's
    bits or DC state. Color segments would need the cross-component
    transform joined downstream — out of scope, loud raise."""
    hdr = _HEADER_CACHE.get(header)
    if hdr is None:
        hdr = _walk(header, stop_at_sos=True)
        if len(_HEADER_CACHE) > 64:  # bound worker memory
            _HEADER_CACHE.clear()
        _HEADER_CACHE[header] = hdr
    comps = hdr["comps"]
    if len(comps) != 1:
        raise NotImplementedError("segment decode supports grayscale only")
    # the segment's blocks as one (1, n_mcus) grid: same entropy decoder
    # and IDCT tail as the whole-file path, no restart markers inside
    coefs = [np.zeros((1, n_mcus, 64), dtype=np.int64)]
    order = [(0, comps[0][0], 0, i) for i in range(n_mcus)]
    br = _BitReader(segment + b"\xff\xd9", 0)
    _dec_seq_scan(br, order, hdr["scan_tbl"], hdr["huff"], coefs)
    px = _idct_planes(coefs, comps, hdr["qtables"])[0]
    return n_mcus, int(np.clip(np.floor(px + 0.5) + 128.0, 0, 255).sum())


# --------------------------------------------------------------------------
# Progressive JPEG (SOF2) — spectral selection + successive approximation
# --------------------------------------------------------------------------
#
# Implemented from ITU-T T.81 Annex G (G.1.2 encode / G.2.2 decode): the
# DC scans carry the point-transformed (arithmetic-shifted) DC with one
# refinement bit per later scan; the AC scans are per-component spectral
# bands with EOBn run coding, and AC refinement scans interleave
# newly-significant (r,1)+sign symbols with raw correction bits for
# history coefficients, buffered across EOB runs. The decoder accumulates
# QUANTIZED coefficients across scans and only dequantizes + IDCTs at the
# end, so a fully-refined progressive stream decodes to EXACTLY the same
# pixels as the baseline encoding of the same image (the parity invariant
# the tests and the registered queries hash).
#
# Envelope: the scan script must refine every band down to Al=0 (ours
# does); restart intervals are supported in every scan type per §E.2.4
# (VERDICT r8 item 3 — with EOB runs flushed/reset at each boundary);
# arithmetic coding and 12-bit precision stay out of envelope.

_EOBRUN_MAX = 0x7FFF

#: Scan script (per T.81 G.1.1.1.1; band/approximation split modeled on
#: the common libjpeg progression): DC first at Al=1, AC bands 1-5 and
#: 6-63 at Al=2, one AC refinement to Al=1, the DC refinement bit, and
#: the final AC refinement to Al=0.
def _prog_script(ncomp: int) -> list[tuple]:
    script: list[tuple] = [("dc_first", None, 0, 0, 0, 1)]
    for c in range(ncomp):
        script.append(("ac_first", c, 1, 5, 0, 2))
    for c in range(ncomp):
        script.append(("ac_first", c, 6, 63, 0, 2))
    for c in range(ncomp):
        script.append(("ac_refine", c, 1, 63, 2, 1))
    script.append(("dc_refine", None, 0, 0, 1, 0))
    for c in range(ncomp):
        script.append(("ac_refine", c, 1, 63, 1, 0))
    return script


class _OpRecorder:
    """Two-pass AC-scan emission: record (symbol | raw-bits) ops on the
    first pass to learn the symbol alphabet, build a canonical Huffman
    table over exactly those symbols, then replay into the bit writer."""

    def __init__(self) -> None:
        self.ops: list[tuple] = []
        self.syms: set[int] = set()

    def sym(self, s: int) -> None:
        self.ops.append(("s", s))
        self.syms.add(s)

    def bits(self, v: int, n: int) -> None:
        if n:
            self.ops.append(("b", v, n))

    def rst(self, m: int) -> None:
        """Record a restart boundary: byte-align then RSTm (§E.2.4).
        Markers carry no Huffman symbol, so the alphabet is unaffected."""
        self.ops.append(("r", m))

    def replay(self, bw: _BitWriter, codes: dict[int, tuple[int, int]]) -> None:
        for op in self.ops:
            if op[0] == "s":
                code, length = codes[op[1]]
                bw.put(code, length)
            elif op[0] == "r":
                bw.put_marker(0xD0 + op[1])
            else:
                bw.put(op[1], op[2])


def _equal_length_table(syms: set[int]) -> tuple[list[int], list[int]]:
    """Canonical single-length Huffman spec over the used symbols: all n
    codes get the smallest length L with n <= 2^L - 1, which keeps the
    all-ones code unused as §C.2 requires."""
    vals = sorted(syms)
    n = max(1, len(vals))
    length = max(1, n.bit_length())
    while n > (1 << length) - 1:
        length += 1
    bits = [0] * 16
    bits[length - 1] = len(vals)
    return bits, vals


def _flush_eobrun(rec: _OpRecorder, state: dict) -> None:
    """Emit a pending EOBn symbol (r = floor(log2(run)), r extra bits)
    followed by the correction bits buffered across the run's blocks."""
    run = state["eobrun"]
    if run > 0:
        r = run.bit_length() - 1
        rec.sym(r << 4)
        rec.bits(run - (1 << r), r)
        state["eobrun"] = 0
    for b in state["bits"]:
        rec.bits(b, 1)
    state["bits"] = []


def _enc_ac_first(rec: _OpRecorder, band_vals: np.ndarray, state: dict) -> None:
    """One block of an AC first scan (G.1.2.2): band_vals are the
    point-transformed (sign * (|coef| >> Al)) band coefficients."""
    nz = np.nonzero(band_vals)[0]
    if nz.size == 0:
        state["eobrun"] += 1
        if state["eobrun"] == _EOBRUN_MAX:
            _flush_eobrun(rec, state)
        return
    _flush_eobrun(rec, state)
    last = int(nz[-1])
    run = 0
    for idx in range(last + 1):
        v = int(band_vals[idx])
        if v == 0:
            run += 1
            continue
        while run > 15:
            rec.sym(0xF0)
            run -= 16
        s = _magnitude(v)
        rec.sym((run << 4) | s)
        rec.bits(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < len(band_vals) - 1:
        state["eobrun"] += 1
        if state["eobrun"] == _EOBRUN_MAX:
            _flush_eobrun(rec, state)


def _enc_ac_refine(rec: _OpRecorder, band: np.ndarray, al: int, state: dict) -> None:
    """One block of an AC refinement scan (G.1.2.3): newly-significant
    coefficients emit (run-of-zero-history, 1) + a sign bit; coefficients
    already nonzero in prior scans emit one raw correction bit, buffered
    until the next symbol (or across the EOB run)."""
    absval = [abs(int(v)) >> al for v in band]
    eob = -1
    for idx, t in enumerate(absval):
        if t == 1:
            eob = idx
    run = 0
    br: list[int] = []
    for idx, t in enumerate(absval):
        if t == 0:
            run += 1
            continue
        while run > 15 and idx <= eob:
            _flush_eobrun(rec, state)
            rec.sym(0xF0)
            run -= 16
            for b in br:
                rec.bits(b, 1)
            br = []
        if t > 1:
            br.append(t & 1)
            continue
        _flush_eobrun(rec, state)
        rec.sym((run << 4) | 1)
        rec.bits(1 if int(band[idx]) >= 0 else 0, 1)
        for b in br:
            rec.bits(b, 1)
        br = []
        run = 0
    if run > 0 or br:
        state["eobrun"] += 1
        state["bits"].extend(br)
        if state["eobrun"] == _EOBRUN_MAX or len(state["bits"]) > 930:
            _flush_eobrun(rec, state)


def _encode_progressive(
    planes: list[np.ndarray],
    qscale: int,
    color: bool,
    samp: list[tuple[int, int]] | None = None,
    size: tuple[int, int] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Shared progressive encoder body (same plane/samp/size contract as
    the baseline ``_encode_jpeg``). Quantizes every block once, then
    walks the scan script; DC scans use the Annex K DC tables, each AC
    scan carries its own minimal canonical table in a DHT right before
    its SOS.

    ``restart_interval`` > 0 emits a DRI segment and RSTm markers every
    Ri MCUs within EACH scan (VERDICT r8 item 3 — §E.2.4 restart
    markers are legal in every scan type): byte-align, marker number
    cycling 0..7 and restarting at every SOS, DC predictors reset in DC
    scans, and — the progressive-specific bit — any pending EOB run
    (plus its buffered refinement correction bits) FLUSHED before each
    boundary, since an EOBn run may not cross a restart segment."""
    samp = samp or [(1, 1)] * len(planes)
    h, w = size or planes[0].shape
    ncomp = 3 if color else 1
    q_luma = quant_table(QUANT_LUMA, qscale)
    q_chroma = quant_table(QUANT_CHROMA, qscale)
    hmax = max(hs for hs, _ in samp)
    vmax = max(vs for _, vs in samp)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)

    # quantize every padded block to zigzag coefficient arrays, once
    zz: list[np.ndarray] = []
    for p, (hs, vs) in zip(planes, samp):
        th, tw = mcus_y * 8 * vs, mcus_x * 8 * hs
        ph_, pw_ = p.shape
        padded = np.pad(p, ((0, th - ph_), (0, tw - pw_)), mode="edge")
        q = q_luma if len(zz) == 0 else q_chroma
        # batched quantize (bit-identical per block — _quantize_plane)
        zz.append(_quantize_plane(padded, q)[:, :, _ZZ_ROWS, _ZZ_COLS])

    out = bytearray(b"\xff\xd8")
    out += _segment(
        b"\xff\xe0", b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    out += _segment(
        b"\xff\xdb", bytes([0x00]) + q_luma[_ZZ_ROWS, _ZZ_COLS].astype(np.uint8).tobytes()
    )
    if color:
        out += _segment(
            b"\xff\xdb",
            bytes([0x01]) + q_chroma[_ZZ_ROWS, _ZZ_COLS].astype(np.uint8).tobytes(),
        )
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        hs, vs = samp[cid - 1]
        sof += bytes([cid, hs << 4 | vs, 0 if cid == 1 else 1])
    out += _segment(b"\xff\xc2", sof)  # SOF2: progressive DCT, Huffman
    if restart_interval:
        out += _segment(b"\xff\xdd", struct.pack(">H", restart_interval))
    out += _segment(b"\xff\xc4", _dht_payload(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS))
    if color:
        out += _segment(b"\xff\xc4", _dht_payload(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS))
    dc_codes = [
        _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS),
        _build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS),
    ]

    def dc_order() -> list[tuple[int, int, int]]:
        """(comp, by, bx) in scan order: interleaved MCU order when the
        DC scan carries several components, the component's own raster
        for a single-component frame (§A.2)."""
        if ncomp == 1:
            nby, nbx = _comp_grid(h, w, *samp[0], hmax, vmax)
            return [(0, by, bx) for by in range(nby) for bx in range(nbx)]
        order = []
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci in range(ncomp):
                    hs, vs = samp[ci]
                    for byi in range(vs):
                        for bxi in range(hs):
                            order.append((ci, my * vs + byi, mx * hs + bxi))
        return order

    def sos_header(comps_sel: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        sos = bytes([len(comps_sel)])
        for ci in comps_sel:
            td = 0 if ci == 0 else 1
            sos += bytes([ci + 1, (td << 4) | 0])
        sos += bytes([ss, se, (ah << 4) | al])
        return _segment(b"\xff\xda", sos)

    # restart cadence: Ri counts MCUs per scan — sum(hs*vs) blocks per
    # MCU in the interleaved DC scans, one data unit per MCU in the
    # non-interleaved AC scans (§B.2.3 / §E.2.4)
    dc_bpm = 1 if ncomp == 1 else sum(hs * vs for hs, vs in samp)
    dc_per_rst = restart_interval * dc_bpm

    for kind, comp, ss, se, ah, al in _prog_script(ncomp):
        if kind == "dc_first":
            bw = _BitWriter()
            prev = [0] * ncomp
            rstn = 0
            for i, (ci, by, bx) in enumerate(dc_order()):
                if dc_per_rst and i and i % dc_per_rst == 0:
                    bw.put_marker(0xD0 + rstn)
                    rstn = (rstn + 1) % 8
                    prev = [0] * ncomp
                v = int(zz[ci][by, bx, 0]) >> al  # arithmetic shift (G.1.2.1)
                diff = v - prev[ci]
                prev[ci] = v
                s = _magnitude(diff)
                code, length = dc_codes[0 if ci == 0 else 1][s]
                bw.put(code, length)
                if s:
                    bw.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
            bw.flush()
            out += sos_header(list(range(ncomp)), 0, 0, 0, al) + bw.out
        elif kind == "dc_refine":
            bw = _BitWriter()
            rstn = 0
            for i, (ci, by, bx) in enumerate(dc_order()):
                if dc_per_rst and i and i % dc_per_rst == 0:
                    bw.put_marker(0xD0 + rstn)
                    rstn = (rstn + 1) % 8
                bw.put((int(zz[ci][by, bx, 0]) >> al) & 1, 1)
            bw.flush()
            out += sos_header(list(range(ncomp)), 0, 0, ah, al) + bw.out
        else:
            nby, nbx = _comp_grid(h, w, *samp[comp], hmax, vmax)
            rec = _OpRecorder()
            state = {"eobrun": 0, "bits": []}
            rstn = 0
            for i in range(nby * nbx):
                by, bx = divmod(i, nbx)
                if restart_interval and i and i % restart_interval == 0:
                    # an EOB run may not cross a restart segment: flush
                    # the pending EOBn (and its buffered correction
                    # bits) BEFORE the boundary, then byte-align + RSTm
                    _flush_eobrun(rec, state)
                    rec.rst(rstn)
                    rstn = (rstn + 1) % 8
                band = zz[comp][by, bx, ss : se + 1]
                if kind == "ac_first":
                    pt = np.sign(band) * (np.abs(band) >> al)
                    _enc_ac_first(rec, pt.astype(np.int64), state)
                else:
                    _enc_ac_refine(rec, band, al, state)
            _flush_eobrun(rec, state)
            bits, vals = _equal_length_table(rec.syms)
            out += _segment(b"\xff\xc4", _dht_payload(1, 0, bits, vals))
            bw = _BitWriter()
            rec.replay(bw, _build_codes(bits, vals))
            bw.flush()
            out += sos_header([comp], ss, se, ah, al) + bw.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_gray_progressive(
    img: np.ndarray, qscale: int = 1, restart_interval: int = 0
) -> bytes:
    """Encode an (h, w) uint8 array as a progressive (SOF2) grayscale
    JPEG. Decodes (here or in any conformant decoder) to exactly the
    same pixels as ``encode_jpeg_gray`` of the same image.
    ``restart_interval`` > 0 emits DRI + per-scan RSTm markers
    (VERDICT r8 item 3)."""
    a = np.asarray(img, dtype=np.uint8)
    if a.ndim != 2:
        raise ValueError("encode_jpeg_gray_progressive expects an (h, w) array")
    return _encode_progressive(
        [a], qscale, color=False, restart_interval=restart_interval
    )


def encode_jpeg_rgb_progressive(
    img: np.ndarray,
    qscale: int = 1,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a progressive (SOF2) YCbCr
    JPEG (same color transform and chroma downsampling as the baseline
    ``encode_jpeg_rgb``, both from ``_rgb_planes``)."""
    planes, samp, size = _rgb_planes(img, subsampling)
    return _encode_progressive(
        planes,
        qscale,
        color=True,
        samp=samp,
        size=size,
        restart_interval=restart_interval,
    )


def _dec_dc_scan(
    br: _BitReader,
    order,
    scan_tbl,
    huff,
    coefs,
    ah: int,
    al: int,
    restart_interval: int = 0,
    blocks_per_mcu: int = 1,
) -> None:
    """DC scan (Ss=0): first pass decodes DIFF-coded point-transformed
    DC values; refinement passes read one raw bit per block (§G.2).

    ``restart_interval`` > 0 consumes an RSTm marker every Ri MCUs
    (§E.2.4 applies to every scan type, progressive included): byte
    re-alignment, RST0-7 sequence check, DC predictors reset. The
    refinement branch has no predictor state but still byte-aligns and
    consumes the marker."""
    per_rst = restart_interval * blocks_per_mcu
    rst = 0
    if ah == 0:
        prev: dict[int, int] = {}
        for i, (ci, cid, by, bx) in enumerate(order):
            if per_rst and i and i % per_rst == 0:
                br.expect_rst(rst)
                rst = (rst + 1) % 8
                prev = {}
            tab = huff[(0, scan_tbl[cid][0])]
            s = br.read_symbol(tab)
            diff = _extend(br.get(s), s) if s else 0
            prev[ci] = prev.get(ci, 0) + diff
            coefs[ci][by, bx, 0] = prev[ci] << al
    else:
        for i, (ci, cid, by, bx) in enumerate(order):
            if per_rst and i and i % per_rst == 0:
                br.expect_rst(rst)
                rst = (rst + 1) % 8
            if br.get(1):
                coefs[ci][by, bx, 0] |= 1 << al


def _dec_ac_first(
    br: _BitReader,
    order,
    tab,
    coefs,
    ss: int,
    se: int,
    al: int,
    restart_interval: int = 0,
) -> None:
    """AC first scan for one component's band (§G.2.2 / EOBn runs).

    ``restart_interval`` > 0 consumes an RSTm every Ri blocks (an AC
    scan is non-interleaved, so one data unit per MCU) and RESETS THE
    EOB RUN (§E.2.4 resets the entropy coder's state, which for
    progressive AC scans is the pending EOBn count — a conformant
    encoder flushes the run before every boundary, so a nonzero carry
    here means a corrupt stream and the reset confines the damage to
    one restart segment, the property restart markers exist for)."""
    eobrun = 0
    rst = 0
    for i, (ci, _, by, bx) in enumerate(order):
        if restart_interval and i and i % restart_interval == 0:
            br.expect_rst(rst)
            rst = (rst + 1) % 8
            eobrun = 0
        if eobrun:
            eobrun -= 1
            continue
        blk = coefs[ci][by, bx]
        k = ss
        while k <= se:
            rs = br.read_symbol(tab)
            r, s = rs >> 4, rs & 0x0F
            if s:
                k += r
                if k > se:
                    raise ValueError("AC run overflows band")
                blk[k] = _extend(br.get(s), s) << al
                k += 1
            else:
                if r != 15:
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += br.get(r)
                    break
                k += 16


def _dec_ac_refine(
    br: _BitReader,
    order,
    tab,
    coefs,
    ss: int,
    se: int,
    al: int,
    restart_interval: int = 0,
) -> None:
    """AC refinement scan (§G.2.2): newly-significant (r,1)+sign symbols
    interleaved with raw correction bits for history coefficients, with
    correction bits continuing through EOB runs.

    ``restart_interval`` as in ``_dec_ac_first``: RSTm every Ri blocks,
    EOB run reset at the boundary (the buffered-correction-bit state is
    per-block on the decode side, so the run counter is the only carry
    that crosses blocks)."""
    p1 = 1 << al
    m1 = -(1 << al)
    eobrun = 0
    rst = 0

    def correct(blk, k: int) -> None:
        if br.get(1) and (int(blk[k]) & p1) == 0:
            blk[k] += p1 if blk[k] >= 0 else m1

    for i, (ci, _, by, bx) in enumerate(order):
        if restart_interval and i and i % restart_interval == 0:
            br.expect_rst(rst)
            rst = (rst + 1) % 8
            eobrun = 0
        blk = coefs[ci][by, bx]
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = br.read_symbol(tab)
                r, s = rs >> 4, rs & 0x0F
                val = 0
                if s:
                    if s != 1:
                        raise ValueError("invalid magnitude in AC refinement scan")
                    val = p1 if br.get(1) else m1
                elif r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.get(r)
                    break
                while k <= se:
                    if blk[k] != 0:
                        correct(blk, k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val:
                    if k > se:
                        raise ValueError("refinement placement overflows band")
                    blk[k] = val
                k += 1
        if eobrun > 0:
            while k <= se:
                if blk[k] != 0:
                    correct(blk, k)
                k += 1
            eobrun -= 1
