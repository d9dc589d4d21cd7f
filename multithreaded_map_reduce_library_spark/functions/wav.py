"""Minimal, dependency-free WAV codec (``struct`` + numpy).

The RIFF/WAVE container (Microsoft Multimedia Programming Interface and
Data Specifications 1.0, 1991) is a ``RIFF`` header naming form
``WAVE``, then chunks of ``tag, u32 length, body`` padded to even
length. A ``fmt `` chunk gives the format code, channel count, sample
rate and bits per sample; a ``data`` chunk holds the interleaved
samples. Other chunks are skipped.

``decode_wav`` is the package's only chunk walk and ``encode_wav`` its
only header writer and sample packer; the audio kernels and fabricators
in ``operators/multimodal.py`` call them. Sample formats:

* PCM (format code 1), 16- and 24-bit little-endian two's complement;
* IEEE float (format code 3), 32-bit;
* ITU-T G.711 μ-law (format code 7), 8-bit, companded from int16.

Each kernel family passes an :class:`Envelope` constant naming what it
decodes. A stream outside it raises ``NotImplementedError`` before any
sample is read; a malformed container (no RIFF/WAVE magic, a missing
``fmt ``/``data`` chunk, a short ``fmt `` chunk, a chunk running past the
end, data not a whole number of blocks) raises ``ValueError``. Neither
ever returns numbers.
"""

from __future__ import annotations

import struct
from typing import NamedTuple

import numpy as np

_ULAW_BIAS = 132  # 0x84
_ULAW_CLIP = 32635

#: encode_wav format name -> (format code, bits per sample).
FORMATS = {"pcm16": (1, 16), "pcm24": (1, 24), "float32": (3, 32), "ulaw": (7, 8)}


class Envelope(NamedTuple):
    """What one kernel family decodes; the two texts end the
    ``NotImplementedError`` for another format code and for another bit
    depth or channel count."""

    fmt: int
    bits: tuple[int, ...]
    channels: tuple[int, ...]
    fmt_only: str
    only: str


PCM16_MONO = Envelope(1, (16,), (1,), "PCM only", "PCM16 mono only")
PCM_16_24 = Envelope(1, (16, 24), (1, 2), "PCM only", "PCM 16/24-bit, mono/stereo only")
FLOAT32_MONO = Envelope(
    3, (32,), (1,), "IEEE-float decoder takes fmt 3 only", "float32 mono only"
)
ULAW_MONO = Envelope(7, (8,), (1,), "G.711 mu-law only", "G.711 mu-law 8-bit mono only")


def decode_wav(payload: bytes, envelope: Envelope) -> tuple[int, np.ndarray]:
    """Parse a RIFF/WAVE payload to ``(sample_rate, samples)``.

    ``samples`` has shape ``(n, channels)``: int64 for PCM (24-bit
    sign-extended exactly) and for μ-law (G.711-expanded to the int16
    grid), float64 for IEEE float32 (the widening is exact). The last
    ``fmt `` and ``data`` chunks win. The envelope is checked before any
    sample is decoded, so an unsupported format raises the kernel's own
    message rather than a codec error."""
    raw = bytes(payload)
    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(raw):
        tag = raw[pos : pos + 4]
        (ln,) = struct.unpack("<I", raw[pos + 4 : pos + 8])
        if pos + 8 + ln > len(raw):
            raise ValueError(
                f"'{tag.decode('latin-1')}' chunk declares {ln} bytes, "
                f"{len(raw) - pos - 8} present (truncated payload)"
            )
        body = raw[pos + 8 : pos + 8 + ln]
        pos += 8 + ln + (ln & 1)
        if tag == b"fmt ":
            if ln < 16:
                raise ValueError(f"'fmt ' chunk is {ln} bytes, needs 16")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    code, channels, sample_rate, _byte_rate, _block_align, bits = fmt
    if code != envelope.fmt:
        raise NotImplementedError(f"WAV fmt {code}: {envelope.fmt_only}")
    if bits not in envelope.bits or channels not in envelope.channels:
        raise NotImplementedError(
            f"WAV bits={bits} channels={channels}: {envelope.only}"
        )
    block = channels * bits // 8
    if len(data) % block:
        raise ValueError(
            f"data chunk {len(data)} bytes not a multiple of {block}, "
            "the block align (truncated?)"
        )
    if code == 3:
        s = np.frombuffer(data, dtype="<f4").astype(np.float64)
    elif code == 7:
        b = (~np.frombuffer(data, dtype=np.uint8).astype(np.int64)) & 0xFF
        mag = ((((b & 0x0F) << 3) + _ULAW_BIAS) << ((b >> 4) & 7)) - _ULAW_BIAS
        s = np.where(b & 0x80, -mag, mag)
    elif bits == 16:
        s = np.frombuffer(data, dtype="<i2").astype(np.int64)
    else:
        # 24-bit has no numpy dtype: load each sample into the high three
        # bytes of an int32, then shift down (sign-extending)
        u = np.zeros((len(data) // 3, 4), dtype=np.uint8)
        u[:, 1:] = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        s = (u.view("<i4")[:, 0] >> 8).astype(np.int64)
    return sample_rate, s.reshape(-1, channels)


def encode_wav(samples: np.ndarray, sample_rate: int, fmt: str) -> bytes:
    """Pack ``samples`` — shape ``(n,)`` for mono or ``(n, channels)``
    interleaved — as a 44-byte-header RIFF/WAVE payload in ``fmt``
    (a :data:`FORMATS` name). PCM samples must already be on the target
    integer grid; μ-law takes int16-grid samples and compands them
    (sign | exponent<<4 | mantissa, complemented: m = min(|s|, 32635) +
    132, e = msb(m) − 7, mant = (m >> (e+3)) & 15); float32 stores the
    values bit-for-bit."""
    code, bits = FORMATS[fmt]
    s = np.asarray(samples)
    channels = 1 if s.ndim == 1 else s.shape[1]
    s = s.reshape(-1)
    if code == 3:
        data = s.astype("<f4").tobytes()
    elif code == 7:
        s16 = s.astype(np.int64)
        m = np.minimum(np.abs(s16), _ULAW_CLIP) + _ULAW_BIAS
        # exact msb via frexp (ints << 2^53 are exact doubles)
        e = np.frexp(m.astype(np.float64))[1] - 1 - 7
        enc = ~(np.where(s16 < 0, 0x80, 0) | (e << 4) | ((m >> (e + 3)) & 0x0F))
        data = (enc & 0xFF).astype(np.uint8).tobytes()
    else:
        # int32 little-endian, low bits // 8 bytes of each
        data = s.astype("<i4").view(np.uint8).reshape(-1, 4)[:, : bits // 8].tobytes()
    block = channels * bits // 8
    pad = b"\x00" * (len(data) & 1)  # chunks are padded to even length
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI", b"RIFF", 36 + len(data) + len(pad), b"WAVE",
        b"fmt ", 16, code, channels, sample_rate, sample_rate * block, block, bits,
        b"data", len(data),
    )
    return header + data + pad
