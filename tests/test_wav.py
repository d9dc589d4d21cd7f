"""WAV codec (functions/wav.py) and the 10 oracle-hashed queries that
read it.

Layers tested:
* oracle parity for all 10 registered WAV queries at sf0.001 (sf0.01 is
  the `slow` replay in tests/test_oracle_parity.py);
* an encoder-bytes pin: sha256 of the four fabricators' payloads over the
  first 32 sf0.001 embeddings and over one hand-built vector with values
  at ±1, beyond ±1, 0 and −0.0, recorded before the fabricators shared
  one encoder;
* malformed containers raise ValueError and never return numbers.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

from multithreaded_map_reduce_library_spark.operators import multimodal as mm
from multithreaded_map_reduce_library_spark.plans.registry import all_queries
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

from .conftest import SF_SMALL
from .oracle_util import compare_query

WAV_QUERIES = [
    "multimodal_wav_energy",
    "multimodal_wav_vad_features",
    "multimodal_wav_silence_runs",
    "multimodal_wav_stereo24_energy",
    "multimodal_wav_envelope_parity",
    "multimodal_wav_float32_energy",
    "multimodal_wav_quadrature",
    "multimodal_wav_autocorr",
    "multimodal_wav_ulaw_roundtrip",
    "stream_multimodal_wav_ingest",
]


@pytest.mark.parametrize("name", WAV_QUERIES)
def test_wav_query_oracle_parity(spark, name):
    q = all_queries()[name]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


# --------------------------------------------------------------------------
# encoder-bytes pin
# --------------------------------------------------------------------------

#: ±1, beyond ±1, signed zeros, the μ-law clip edge (0.9961 · 32767 >
#: 32635), the smallest PCM16 step and values that round at half a step.
_HAND_VECTOR = [
    1.0, -1.0, 1.5, -2.0, 0.0, -0.0, 0.5, -0.5,
    0.9961, -0.9961, 1 / 32767, -1 / 32767, 1e-6, -1e-6, 0.25, -0.75,
]

#: sha256 over the payloads in asset_id order, per (fabricator, input).
_ENCODE_DIGESTS = {
    "pcm16-emb32": "c0fd6f5d5834cdbc8b50e2f11640853e1ab58eb31124246983c29700bb5e3fda",
    "pcm16-hand": "a7fb2eba6876c3aa57ef00f36f8e8244e24942782889289bd9e56e958eb6a0e2",
    "stereo24-emb32": "a5bcd1c6d618565313311f74c48ca1afafa244ccfefa942a3784bceb1f07d7de",
    "stereo24-hand": "12a3d7af53b839daedaf0c958f27b5dcfd9f5d2adaac4fe491577a51f88d994e",
    "float32-emb32": "939224369a3b057fbf59f752376ab89156dc6afb17e14c5dd5dda9016b50c343",
    "float32-hand": "25f5626a43f66d2d3c54fe883381f40444babce25b76edc88785b1cca90add7e",
    "ulaw-emb32": "a5c5278914780c81d48a289ce25a4062bc62c152b28c0f6b9ebdc92212b16f6d",
    "ulaw-hand": "0c221418573a6ebdb42e53d57c361ea02ac176a1f35927437ce4927a3227f8bb",
}


def test_fabricator_bytes_match_recorded_digests(spark):
    """Every byte the four WAV fabricators write is pinned: sharing one
    header writer and sample packer must not move any of them."""
    emb = (
        load_table(spark, SF_SMALL, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(32)
    )
    hand = spark.createDataFrame(
        [(-1, _HAND_VECTOR)], "vec_id long, embedding array<float>"
    )
    src = emb.unionByName(hand)
    fabs = {
        "pcm16": mm.embeddings_as_wav_assets,
        "stereo24": mm.embeddings_as_wav_stereo24_assets,
        "float32": mm.embeddings_as_wav_float32_assets,
        "ulaw": mm.embeddings_as_ulaw_wav_assets,
    }
    got = {}
    for name, fab in fabs.items():
        rows = sorted((r["asset_id"], bytes(r["payload"])) for r in fab(src).collect())
        assert len(rows) == 33
        got[f"{name}-emb32"] = hashlib.sha256(b"".join(p for _, p in rows[1:])).hexdigest()
        got[f"{name}-hand"] = hashlib.sha256(rows[0][1]).hexdigest()
    assert got == _ENCODE_DIGESTS


# --------------------------------------------------------------------------
# malformed containers
# --------------------------------------------------------------------------


def _riff(*chunks: tuple[bytes, bytes, int | None]) -> bytes:
    """RIFF/WAVE container from (tag, body, declared length or None)."""
    out = b""
    for tag, body, declared in chunks:
        ln = len(body) if declared is None else declared
        out += tag + struct.pack("<I", ln) + body + b"\x00" * (len(body) & 1)
    return b"RIFF" + struct.pack("<I", 4 + len(out)) + b"WAVE" + out


def _fmt(code=1, channels=1, bits=16) -> bytes:
    block = channels * bits // 8
    return struct.pack("<HHIIHH", code, channels, 16_000, 16_000 * block, block, bits)


def test_data_chunk_longer_than_payload_raises(spark):
    """A data chunk that declares 128 bytes with only 100 present is a
    truncated payload: the energy kernel raises, it does not return the
    frames that happen to fit."""
    pcm = np.arange(50, dtype="<i2").tobytes()
    payload = _riff((b"fmt ", _fmt(), None), (b"data", pcm, 128))
    df = spark.createDataFrame([(7, payload)], "asset_id long, payload binary")
    with pytest.raises(Exception, match="asset 7: 'data' chunk declares 128 bytes"):
        mm.wav_frame_energy(df).collect()


def test_chunk_past_end_raises():
    """Any chunk, not only ``data``, whose declared length runs past the
    payload raises instead of being cut short."""
    from multithreaded_map_reduce_library_spark.functions.wav import (
        PCM16_MONO,
        decode_wav,
    )

    pcm = np.arange(50, dtype="<i2").tobytes()
    with pytest.raises(ValueError, match="'data' chunk declares 128 bytes, 100 present"):
        decode_wav(_riff((b"fmt ", _fmt(), None), (b"data", pcm, 128)), PCM16_MONO)
    with pytest.raises(ValueError, match="'LIST' chunk declares 64 bytes"):
        decode_wav(
            _riff((b"fmt ", _fmt(), None), (b"data", pcm, None), (b"LIST", b"x" * 8, 64)),
            PCM16_MONO,
        )


def test_short_fmt_chunk_raises():
    from multithreaded_map_reduce_library_spark.functions.wav import (
        PCM16_MONO,
        decode_wav,
    )

    payload = _riff((b"fmt ", _fmt()[:14], None), (b"data", bytes(32), None))
    with pytest.raises(ValueError, match="'fmt ' chunk is 14 bytes"):
        decode_wav(payload, PCM16_MONO)


def test_ulaw_without_fmt_chunk_raises_missing_chunk():
    from multithreaded_map_reduce_library_spark.functions.wav import (
        ULAW_MONO,
        decode_wav,
    )

    with pytest.raises(ValueError, match="missing fmt/data chunk"):
        decode_wav(_riff((b"data", bytes(16), None)), ULAW_MONO)


def test_envelope_checked_before_samples():
    """A format outside the envelope raises the envelope's
    NotImplementedError even when its data would not decode."""
    from multithreaded_map_reduce_library_spark.functions.wav import (
        FLOAT32_MONO,
        PCM_16_24,
        decode_wav,
    )

    odd = bytes(7)
    with pytest.raises(NotImplementedError, match="PCM only"):
        decode_wav(_riff((b"fmt ", _fmt(code=85), None), (b"data", odd, None)), PCM_16_24)
    with pytest.raises(NotImplementedError, match="float32 mono only"):
        decode_wav(
            _riff((b"fmt ", _fmt(code=3, bits=64), None), (b"data", odd, None)),
            FLOAT32_MONO,
        )


def test_encode_decode_roundtrip_every_format():
    from multithreaded_map_reduce_library_spark.functions import wav

    s16 = np.array([-32767, -1, 0, 1, 129, 32635, 32767])
    assert np.array_equal(
        wav.decode_wav(wav.encode_wav(s16, 8000, "pcm16"), wav.PCM16_MONO)[1][:, 0], s16
    )
    s24 = np.array([[-(1 << 23), 8_388_607], [-1, 0], [1, 12345]])
    sr, got = wav.decode_wav(wav.encode_wav(s24, 44_100, "pcm24"), wav.PCM_16_24)
    assert sr == 44_100 and np.array_equal(got, s24)
    f32 = np.array([-0.0, 0.0, 1.5, -2.25e-8], dtype=np.float32)
    got = wav.decode_wav(wav.encode_wav(f32, 8000, "float32"), wav.FLOAT32_MONO)[1][:, 0]
    assert got.tobytes() == f32.astype(np.float64).tobytes()  # -0.0 kept
    # μ-law: odd sample count gets a pad byte; decode lands on the G.711 grid
    payload = wav.encode_wav(s16[:3], 8000, "ulaw")
    assert len(payload) == 44 + 3 + 1
    assert wav.decode_wav(payload, wav.ULAW_MONO)[1][:, 0].tolist() == [-32124, 0, 0]
