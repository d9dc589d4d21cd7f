"""PNG codec (functions/png.py): the encoder's bytes and the decoder's
failure mode.

Layers tested:
* an encoder-bytes pin: sha256 of hand-built 8-bit gray/RGB/RGBA
  (sequential and Adam7), 1/2/4/8-bit palette and 16-bit gray streams,
  recorded before the four encoders became one;
* a stream cut at any byte, a chunk running past the payload, a CRC
  mismatch, a missing IEND and a corrupt zlib stream all raise
  ValueError — never a ``zlib.error``/``struct.error`` and never pixels.

Pure codec tests — no Spark session needed.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pytest

from multithreaded_map_reduce_library_spark.functions.png import (
    _MAGIC,
    _chunk,
    decode_png,
    encode_png,
)

_SIZES = [(1, 1), (3, 2), (8, 8), (13, 5), (7, 3)]
_PALETTE = [((i * 5) % 256, (i * 11) % 256, (i * 23) % 256) for i in range(256)]


def _hand_streams() -> dict[str, list[bytes]]:
    rng = np.random.RandomState(3)
    out: dict[str, list[bytes]] = {}
    for w, h in _SIZES:
        for c in (1, 3, 4):
            px = rng.randint(0, 256, size=(h, w, c)).astype(np.uint8)
            out.setdefault(f"rgb8-c{c}", []).append(encode_png(px))
            out.setdefault(f"adam7-c{c}", []).append(encode_png(px, interlace=True))
        for depth in (1, 2, 4, 8):
            idx = rng.randint(0, 2**depth, size=(h, w)).astype(np.uint8)
            out.setdefault(f"palette{depth}", []).append(
                encode_png(idx, depth=depth, palette=_PALETTE[: 2**depth])
            )
        px16 = rng.randint(0, 65536, size=(h, w)).astype(np.uint16)
        out.setdefault("gray16", []).append(encode_png(px16, depth=16))
    return out


#: sha256 over each family's streams in ``_SIZES`` order.
_ENCODE_DIGESTS = {
    "rgb8-c1": "39dace452fe21d58df1b8142b2a6063686140093ec16454ce387b3ecbf5c4f86",
    "adam7-c1": "04c3d733747c198bc15552ca043888f0b30c529e2a52025f65564e8e3f2f280b",
    "rgb8-c3": "334fea12f8fc76c0a1fad83eb7fc9857c53259707c335ff347eab983e318875c",
    "adam7-c3": "6af857ffed2b03afdcd91b170ff2d14862d844b9863b61e76ab92d933d2a9eb0",
    "rgb8-c4": "13dc07319dbae5357b1b78075f42b4539240865fd166f13f59e025c3d12459a3",
    "adam7-c4": "3db1b3b78b64e227627deae7853d4403969b5b691e127e336aa400e9cba08181",
    "palette1": "77fd3c152c9b858e77847edce847241a3b73fed1b29e6986c5d5f130637e87ed",
    "palette2": "be9dd4ce3f34aa8041e98b22ab0dae902dc3107e1491a9d55b5e0c07694a7024",
    "palette4": "cc58eedb534e301242e40177b5669d78765e54d95c454a8cf7720be190ad9772",
    "palette8": "de3787f587e5a13291cbde2c83ed547840470209615debedf17020fc7cb5e88a",
    "gray16": "6e95676d5906b101289736ac27633f789488528c6588a582a7c4dc945a226987",
}


def test_encoder_bytes_match_recorded_digests():
    got = {
        k: hashlib.sha256(b"".join(v)).hexdigest() for k, v in _hand_streams().items()
    }
    assert got == _ENCODE_DIGESTS


def _streams() -> list[bytes]:
    """Gray, RGB, Adam7, 4-bit palette and 16-bit streams."""
    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(6, 5, 3)).astype(np.uint8)
    return [
        encode_png(img[..., 0]),
        encode_png(img),
        encode_png(img, interlace=True),
        encode_png(img[..., 0] % 16, depth=4, palette=_PALETTE[:16]),
        encode_png(img[..., 0].astype(np.uint16) * 257, depth=16),
    ]


def test_every_truncation_raises_value_error():
    """A stream cut at ANY byte raises ValueError: a cut inside a chunk
    runs past the payload, and a cut after the last IDAT has no IEND."""
    for data in _streams():
        decode_png(data)
        for n in range(len(data)):
            with pytest.raises(ValueError):
                decode_png(data[:n])


def _stream(*chunks: bytes) -> bytes:
    ihdr = _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
    return _MAGIC + ihdr + b"".join(chunks)


def test_chunk_past_payload_raises():
    idat = _chunk(b"IDAT", zlib.compress(b"\x00" * 6))
    long = struct.pack(">I", 1000) + idat[4:]
    with pytest.raises(ValueError, match="past"):
        decode_png(_stream(long, _chunk(b"IEND", b"")))


def test_crc_mismatch_raises():
    idat = bytearray(_chunk(b"IDAT", zlib.compress(b"\x00" * 6)))
    idat[-1] ^= 1
    with pytest.raises(ValueError, match="CRC"):
        decode_png(_stream(bytes(idat), _chunk(b"IEND", b"")))


def test_missing_iend_raises():
    with pytest.raises(ValueError, match="IEND"):
        decode_png(_stream(_chunk(b"IDAT", zlib.compress(b"\x00" * 6))))


def test_corrupt_zlib_raises():
    with pytest.raises(ValueError, match="zlib"):
        decode_png(_stream(_chunk(b"IDAT", b"\x78\x9c\xff\xff"), _chunk(b"IEND", b"")))
