"""Adam7 interlace (round 4): the seven-pass de-interlace must be
pixel- AND position-exact across the whole decode envelope, and the
raise boundary must stay loud.

Pure codec tests — no Spark session needed.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from multithreaded_map_reduce_library_spark.functions.png import (
    _ADAM7,
    _MAGIC,
    _chunk,
    _passes,
    decode_png,
    encode_png,
)


def test_adam7_pass_grid_is_a_partition():
    # every pixel of any w x h frame is covered by exactly one pass
    for w, h in [(1, 1), (3, 2), (8, 8), (13, 9), (17, 16), (2, 5)]:
        seen = np.zeros((h, w), dtype=np.int32)
        for x0, y0, dx, dy, _wp, _hp in _passes(w, h, 1):
            seen[y0::dy, x0::dx] += 1
        assert seen.min() == 1 and seen.max() == 1, (w, h)


@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    channels=st.sampled_from([1, 3, 4]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_adam7_roundtrip_equals_sequential(h, w, channels, seed):
    rng = np.random.default_rng(seed)
    shape = (h, w) if channels == 1 else (h, w, channels)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    ref = img if img.ndim == 3 else img[:, :, None]
    seq = decode_png(encode_png(img))[3]
    adam = decode_png(encode_png(img, interlace=True))[3]
    assert np.array_equal(seq, ref)
    assert np.array_equal(adam, ref)


def _with_interlace_byte(png: bytes, interlace: int) -> bytes:
    out = bytearray(png)
    ih = 8 + 8  # magic + (length, tag)
    body = out[ih : ih + 13][:-1] + bytes([interlace])
    out[ih : ih + 13] = body
    out[ih + 13 : ih + 17] = struct.pack(
        ">I", zlib.crc32(b"IHDR" + bytes(body)) & 0xFFFFFFFF
    )
    return bytes(out)


@given(interlace=st.integers(min_value=2, max_value=255))
@settings(max_examples=10, deadline=None)
def test_unknown_interlace_method_raises(interlace):
    png = _with_interlace_byte(
        encode_png(np.zeros((4, 4), dtype=np.uint8)), interlace
    )
    with pytest.raises(NotImplementedError, match="interlace"):
        decode_png(png)


def test_sequential_payload_with_interlaced_header_raises():
    # claim interlace=1 over a sequential pass layout: the per-pass byte
    # accounting cannot match — must raise, not mis-scatter
    png = _with_interlace_byte(encode_png(np.zeros((8, 8), dtype=np.uint8)), 1)
    with pytest.raises(ValueError):
        decode_png(png)


def test_truncated_interlaced_payload_raises():
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    full = encode_png(img, interlace=True)
    # rebuild with the last pass's bytes chopped from the zlib stream
    raw = bytearray()
    for x0, y0, dx, dy, _wp, hp in _passes(8, 8, 1):
        sub = img[y0::dy, x0::dx]
        for y in range(hp):
            raw += b"\x00" + sub[y].tobytes()
    ihdr = struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 1)
    trunc = (
        _MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw[:-5])))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_png(trunc)
    # and the untruncated stream still decodes exactly
    assert np.array_equal(decode_png(full)[3][:, :, 0], img)


def test_adam7_16bit_and_palette_decode_exactly():
    rng = np.random.default_rng(11)
    # 16-bit gray, interlaced (hand-built, independent of encode_png)
    a16 = rng.integers(0, 65536, size=(9, 7), dtype=np.uint16)
    ihdr = struct.pack(">IIBBBBB", 7, 9, 16, 0, 0, 0, 1)
    raw = bytearray()
    for x0, y0, dx, dy, _wp, hp in _passes(7, 9, 1):
        sub = a16[y0::dy, x0::dx]
        for y in range(hp):
            raw += b"\x00" + sub[y].astype(">u2").tobytes()
    png16 = (
        _MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(png16)[3][:, :, 0], a16)

    # palette 4-bit, interlaced (sub-byte bit packing restarts per pass row)
    pal = [(i * 16, 255 - i * 16, i) for i in range(16)]
    idx = rng.integers(0, 16, size=(11, 6), dtype=np.uint8)
    ihdr = struct.pack(">IIBBBBB", 6, 11, 4, 3, 0, 0, 1)
    raw = bytearray()
    for x0, y0, dx, dy, wp, hp in _passes(6, 11, 1):
        sub = idx[y0::dy, x0::dx]
        for y in range(hp):
            bits = np.unpackbits(sub[y][:, None], axis=1, count=8)[:, 4:]
            packed = np.packbits(bits.reshape(-1))
            raw += b"\x00" + packed[: -(-wp // 2)].tobytes()
    pngp = (
        _MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", b"".join(bytes(rgb) for rgb in pal))
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(pngp)[3], np.asarray(pal, dtype=np.uint8)[idx])


def test_adam7_table_matches_spec():
    # the canonical 8x8 pass-number tile from the PNG spec §8.2
    spec = [
        "16462646",
        "77777777",
        "56565656",
        "77777777",
        "36463646",
        "77777777",
        "56565656",
        "77777777",
    ]
    tile = np.zeros((8, 8), dtype=np.int32)
    for p, (x0, y0, dx, dy) in enumerate(_ADAM7, start=1):
        tile[y0::dy, x0::dx] = p
    assert ["".join(str(v) for v in row) for row in tile] == spec
