"""From-scratch JPEG codec (functions/jpeg.py) + the 13 oracle-hashed
queries that feed it.

Layers tested:
* closed-form exactness on per-block-constant images (the oracle-replay
  contract — DC-only reconstruction in exact integer arithmetic);
* bounded lossy error on smooth content; deterministic decode;
* the entropy/marker layer (FF00 stuffing, non-multiple-of-8 padding,
  ZRL runs, two DQT tables in one stream, RGB 4:4:4);
* honest envelope: arithmetic-coded / oversampled / truncated streams
  raise, never return wrong pixels (progressive SOF2 and subsampled
  chroma decode for real since rounds 5-6 — see the progressive
  section below);
* the `_decode_image_bytes` routing (JPEG no longer PIL-gated);
* a decoded-bytes pin: sha256 of the output of 98 streams, recorded with
  the per-block decoder the one-walk decoder replaced;
* an encoder-bytes pin: sha256 of 264 streams from all five public
  encoders (gray and RGB; baseline, multi-scan and progressive) × size ×
  subsampling × qscale × DRI, recorded with one encoder body per mode;
* oracle parity for all 13 registered JPEG queries at sf0.001 (sf0.01 is
  covered by tools/drive_contract.py).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from multithreaded_map_reduce_library_spark.functions.jpeg import (
    QUANT_LUMA,
    decode_jpeg,
    encode_jpeg_gray,
    encode_jpeg_rgb,
    is_jpeg,
    quant_table,
)
from multithreaded_map_reduce_library_spark.plans.registry import all_queries

from .conftest import SF_SMALL
from .oracle_util import compare_query


def _block_constant_image(vals: np.ndarray, blocks_per_row: int = 8) -> np.ndarray:
    n_rows = len(vals) // blocks_per_row
    return np.repeat(
        np.repeat(
            np.asarray(vals, dtype=np.uint8).reshape(n_rows, blocks_per_row), 8, axis=0
        ),
        8,
        axis=1,
    )


def _expected_constant(v: int, q00: int) -> int:
    """The codec's documented DC-only reconstruction for a constant block."""
    m = v - 128
    qd = (16 * abs(m) + q00) // (2 * q00)
    qd = qd if m >= 0 else -qd
    return min(max(math.floor((qd * q00 + 4) / 8) + 128, 0), 255)


def test_block_constant_closed_form_all_values():
    """Every grey value 0..255 as a constant block reconstructs to the
    exact closed form the SQL oracle computes, at both quant scales."""
    vals = np.arange(256, dtype=np.uint8)
    img = _block_constant_image(vals, blocks_per_row=16)  # 16x16 blocks
    for qscale, q00 in ((1, 16), (2, 32)):
        w, h, c, out = decode_jpeg(encode_jpeg_gray(img, qscale=qscale))
        assert (w, h, c) == (128, 128, 1)
        for i, v in enumerate(vals):
            r, col = divmod(i, 16)
            block = out[r * 8 : (r + 1) * 8, col * 8 : (col + 1) * 8]
            assert (block == _expected_constant(int(v), q00)).all(), (v, q00)


def test_gradient_bounded_error_and_determinism():
    x = np.arange(64)
    img = np.clip(x[None, :] + x[:, None], 0, 255).astype(np.uint8)
    data = encode_jpeg_gray(img)
    _, _, _, out1 = decode_jpeg(data)
    _, _, _, out2 = decode_jpeg(data)
    assert (out1 == out2).all()
    assert np.abs(out1.astype(int) - img.astype(int)).max() <= 4


def test_non_multiple_of_8_pads_and_crops():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(41, 53), dtype=np.uint8)
    w, h, c, out = decode_jpeg(encode_jpeg_gray(img))
    assert (w, h, c) == (53, 41, 1)
    assert out.shape == (41, 53)


def test_ff_stuffing_roundtrip():
    """Find payloads whose entropy stream emits 0xFF bytes (stuffed as
    FF00 per §B.1.1.5) and check the decoder unstuffs them: the stream
    must still parse and the block-constant parts stay closed-form."""
    hit = False
    for seed in range(40):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
        data = encode_jpeg_gray(img)
        body = data[2:-2]
        if b"\xff\x00" in body:
            hit = True
            w, h, c, out = decode_jpeg(data)
            assert (w, h, c) == (16, 16, 1)
    assert hit, "no seed produced a stuffed 0xFF — stuffing path untested"


def test_rgb_444_roundtrip_bounded():
    rng = np.random.default_rng(3)
    base = rng.integers(60, 196, size=(16, 16, 3))
    img = np.repeat(np.repeat(base, 2, axis=0), 2, axis=1).astype(np.uint8)[:32, :32]
    w, h, c, out = decode_jpeg(encode_jpeg_rgb(img))
    assert (w, h, c) == (32, 32, 3)
    assert out.shape == (32, 32, 3)
    # chroma table is coarse (Annex K.2); bound the luma-dominant error
    assert np.abs(out.astype(int) - img.astype(int)).mean() < 40


def test_envelope_raises_never_wrong_pixels():
    img = np.full((8, 8), 100, dtype=np.uint8)
    data = bytearray(encode_jpeg_gray(img))
    # arithmetic coding: flip SOF0 (FFC0) to SOF9 (FFC9)
    i = bytes(data).index(b"\xff\xc0")
    arith = data.copy()
    arith[i + 1] = 0xC9
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(arith))
    # sampling factor beyond 2: craft SOF with 4x1 sampling on component 1
    # (factors 1-2 are in-envelope since the round-5 4:2:0 support)
    rgb = bytearray(encode_jpeg_rgb(np.zeros((8, 8, 3), dtype=np.uint8)))
    j = bytes(rgb).index(b"\xff\xc0")
    sub = rgb.copy()
    sub[j + 11] = 0x41  # component 1 sampling byte (4,1)
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(sub))
    # truncated entropy data
    k = bytes(data).index(b"\xff\xda")
    with pytest.raises(ValueError):
        decode_jpeg(bytes(data[: k + 10]))
    # not a JPEG at all
    assert not is_jpeg(b"\x89PNG")
    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG\r\n")
    # SOF height 0 means a DNL marker defines it (§B.2.2), which this codec
    # never reads; width 0 is illegal. Neither decodes to an empty array.
    j = bytes(data).index(b"\xff\xc0") + 5  # SOF payload: P, then Y, X
    for off, err in ((0, NotImplementedError), (2, ValueError)):
        bad = data.copy()
        bad[j + off : j + off + 2] = b"\x00\x00"
        with pytest.raises(err, match="DNL" if off == 0 else "width 0"):
            decode_jpeg(bytes(bad))
    # the encoder's limits, checked once for all five encoders: sides in
    # 1..65535 (SOF's 16-bit fields, Y=0 reserved for DNL) and a DRI
    # interval in 0..65535
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_gray_progressive,
        encode_jpeg_rgb_multiscan,
        encode_jpeg_rgb_progressive,
    )

    for enc, chans in (
        (encode_jpeg_gray, ()),
        (encode_jpeg_gray_progressive, ()),
        (encode_jpeg_rgb, (3,)),
        (encode_jpeg_rgb_multiscan, (3,)),
        (encode_jpeg_rgb_progressive, (3,)),
    ):
        for shape in ((0, 5), (5, 0), (65536, 1), (1, 65536)):
            with pytest.raises(ValueError, match="1..65535 pixels"):
                enc(np.zeros(shape + chans, dtype=np.uint8))
        for ri in (-1, 65536):
            with pytest.raises(ValueError, match="restart_interval must be 0..65535"):
                enc(np.zeros((8, 8) + chans, dtype=np.uint8), restart_interval=ri)
        top = enc(np.zeros((8, 8) + chans, dtype=np.uint8), restart_interval=65535)
        assert decode_jpeg(top)[3].shape[:2] == (8, 8)


def test_restart_intervals_transparent_and_checked():
    """DRI/RSTn support (round-5 second pass): restart markers must not
    change a single decoded pixel at any interval, the markers must
    actually be emitted, and a broken RST sequence number must raise."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(64, 64), dtype=np.uint8)
    plain = decode_jpeg(encode_jpeg_gray(img))[3]
    for ri in (1, 2, 4, 7, 100):
        data = encode_jpeg_gray(img, restart_interval=ri)
        assert (decode_jpeg(data)[3] == plain).all(), ri
    data = encode_jpeg_gray(img, restart_interval=4)
    n_rst = sum(data.count(bytes([0xFF, 0xD0 + m])) for m in range(8))
    assert n_rst >= 15  # 64 MCUs / 4 - 1 boundaries (byte coincidences aside)
    i = data.index(b"\xff\xd0")
    bad = bytearray(data)
    bad[i + 1] = 0xD5
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))


def test_quant_table_scaling():
    assert quant_table(QUANT_LUMA, 1)[0, 0] == 16
    assert quant_table(QUANT_LUMA, 2)[0, 0] == 32
    assert quant_table(QUANT_LUMA, 64).max() == 255  # clipped
    assert quant_table(QUANT_LUMA, 1).min() >= 1


def test_decode_image_bytes_routes_jpeg_without_pil():
    """The round-5 contract: JPEG payloads decode through the
    from-scratch codec regardless of PIL availability."""
    from multithreaded_map_reduce_library_spark.operators import multimodal as mm

    img = _block_constant_image(np.arange(64, 100, dtype=np.uint8).repeat(2)[:64])
    arr = mm._decode_image_bytes(encode_jpeg_gray(img))
    assert arr.shape == (64, 64)
    assert arr[0, 0] == _expected_constant(64, 16)


def test_jpeg_roundtrip_query_oracle_parity(spark):
    q = all_queries()["multimodal_jpeg_roundtrip"]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


def test_jpeg_quality_sweep_query_oracle_parity(spark):
    q = all_queries()["multimodal_jpeg_quality_sweep"]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


def test_jpeg_restart_query_oracle_parity(spark):
    q = all_queries()["multimodal_jpeg_restart_roundtrip"]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


def test_segment_decode_equals_whole_decode():
    """split→segment-decode→sum must agree with the sequential decoder
    exactly, across shapes (incl. an interval that doesn't divide the
    MCU count) — the invariant the distributed decode query hashes."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        decode_segment_pixel_sum,
        split_restart_segments,
    )

    rng = np.random.default_rng(9)
    for shape, ri in [((64, 64), 4), ((24, 40), 3), ((64, 64), 7)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        data = encode_jpeg_gray(img, restart_interval=ri)
        whole = decode_jpeg(data)[3]
        header, n_total, segs = split_restart_segments(data)
        got = blocks = 0
        for i, (mcu_start, seg) in enumerate(segs):
            nxt = segs[i + 1][0] if i + 1 < len(segs) else n_total
            nb, s = decode_segment_pixel_sum(header, seg, nxt - mcu_start)
            got += s
            blocks += nb
        assert blocks == n_total
        assert got == int(whole.astype(np.int64).sum())
    # no restart interval -> split must refuse, not mis-split
    with pytest.raises(ValueError):
        split_restart_segments(encode_jpeg_gray(img))


def test_jpeg_parallel_decode_query_oracle_parity(spark):
    q = all_queries()["multimodal_jpeg_parallel_decode"]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


def test_jpeg_420_shapes_and_subsampling():
    """4:2:0 roundtrip: shapes survive odd dimensions; the 4:2:0 stream
    is smaller than 4:4:4 on the same content; restart intervals compose
    with subsampled MCUs; sampling factors >2 still raise."""
    rng = np.random.default_rng(13)
    for shape in [(32, 32, 3), (40, 56, 3), (17, 9, 3)]:
        x = rng.integers(0, 256, size=shape, dtype=np.uint8)
        w, h, c, out = decode_jpeg(encode_jpeg_rgb(x, subsampling="420"))
        assert (h, w, c) == (shape[0], shape[1], 3) and out.shape == shape
    smooth = np.repeat(
        np.repeat(rng.integers(0, 256, size=(4, 4, 3)), 16, axis=0), 16, axis=1
    ).astype(np.uint8)
    assert len(encode_jpeg_rgb(smooth, subsampling="420")) < len(
        encode_jpeg_rgb(smooth)
    )
    x = rng.integers(0, 256, size=(48, 48, 3), dtype=np.uint8)
    plain = decode_jpeg(encode_jpeg_rgb(x, subsampling="420"))[3]
    with_rst = decode_jpeg(
        encode_jpeg_rgb(x, subsampling="420", restart_interval=2)
    )[3]
    assert (plain == with_rst).all()
    # factor >2: flip Y sampling to 4x1 in the SOF and expect a raise
    data = bytearray(encode_jpeg_rgb(x, subsampling="420"))
    i = bytes(data).index(b"\xff\xc0")
    data[i + 11] = 0x41
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(data))


def test_jpeg_422_mode():
    """4:2:2 (horizontal-only chroma halving): shapes survive odd
    dimensions, restart intervals compose, and on constant macroblocks
    all three subsampling modes decode to identical pixels (every
    subsample is lossless there — the invariant the parity query
    hashes)."""
    rng = np.random.default_rng(21)
    for shape in [(32, 32, 3), (40, 56, 3), (17, 9, 3)]:
        x = rng.integers(0, 256, size=shape, dtype=np.uint8)
        w, h, c, out = decode_jpeg(encode_jpeg_rgb(x, subsampling="422"))
        assert (h, w, c) == (shape[0], shape[1], 3) and out.shape == shape
    x = rng.integers(0, 256, size=(48, 48, 3), dtype=np.uint8)
    plain = decode_jpeg(encode_jpeg_rgb(x, subsampling="422"))[3]
    rst = decode_jpeg(encode_jpeg_rgb(x, subsampling="422", restart_interval=2))[3]
    assert (plain == rst).all()
    triples = [tuple(int(v) for v in rng.integers(0, 256, 3)) for _ in range(16)]
    im = np.zeros((64, 64, 3), dtype=np.uint8)
    for i, rgb in enumerate(triples):
        r0, c0 = divmod(i, 4)
        im[r0 * 16 : (r0 + 1) * 16, c0 * 16 : (c0 + 1) * 16] = rgb
    outs = [
        decode_jpeg(encode_jpeg_rgb(im, subsampling=m))[3]
        for m in ("444", "422", "420")
    ]
    assert (outs[0] == outs[1]).all() and (outs[1] == outs[2]).all()


def test_jpeg_subsampling_parity_query(spark):
    q = all_queries()["multimodal_jpeg_subsampling_parity"]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


def test_jpeg_420_macroblock_constant_closed_form():
    """Constant 16x16 macroblocks stay DC-only through the chroma
    box-mean, so the decoded color equals the closed-form chain the
    420 oracle replays (forward BT.601, both quant tables, inverse)."""
    rng = np.random.default_rng(14)

    def recon(v, q00):
        m = v - 128
        qd = (16 * abs(m) + q00) // (2 * q00)
        qd = qd if m >= 0 else -qd
        return min(max(math.floor((qd * q00 + 4) / 8) + 128, 0), 255)

    def clamp(v):
        return min(max(v, 0), 255)

    triples = [tuple(int(v) for v in rng.integers(0, 256, 3)) for _ in range(16)]
    im = np.zeros((64, 64, 3), dtype=np.uint8)
    for i, rgb in enumerate(triples):
        r0, c0 = divmod(i, 4)
        im[r0 * 16 : (r0 + 1) * 16, c0 * 16 : (c0 + 1) * 16] = rgb
    _, _, _, out = decode_jpeg(encode_jpeg_rgb(im, subsampling="420"))
    for i, (r, g, b) in enumerate(triples):
        y = clamp(math.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5))
        cb = clamp(math.floor(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0 + 0.5))
        cr = clamp(math.floor(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0 + 0.5))
        y2, cb2, cr2 = recon(y, 16), recon(cb, 17), recon(cr, 17)
        exp = (
            clamp(math.floor(y2 + 1.402 * (cr2 - 128.0) + 0.5)),
            clamp(
                math.floor(
                    y2 - 0.344136 * (cb2 - 128.0) - 0.714136 * (cr2 - 128.0) + 0.5
                )
            ),
            clamp(math.floor(y2 + 1.772 * (cb2 - 128.0) + 0.5)),
        )
        r0, c0 = divmod(i, 4)
        blk = out[r0 * 16 : (r0 + 1) * 16, c0 * 16 : (c0 + 1) * 16]
        assert (blk == np.array(exp)).all(), (i, (r, g, b), exp)


def test_jpeg_420_query_oracle_parity(spark):
    q = all_queries()["multimodal_jpeg420_roundtrip"]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


def test_jpeg_ahash_dedup_oracle_parity(spark):
    q = all_queries()["multimodal_jpeg_ahash_dedup"]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


def test_stream_jpeg_ingest_oracle_parity(spark):
    q = all_queries()["stream_multimodal_jpeg_ingest"]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


def test_stream_jpeg_ingest_invariant_to_micro_batching(spark, tmp_path):
    """The streaming JPEG ingest is stateless, so its output must be
    identical whether the source drains in one micro-batch or one file
    at a time over a 4-chunk split source (the WAV tier's invariance,
    applied to the image twin)."""
    import os

    import duckdb

    q = all_queries()["stream_multimodal_jpeg_ingest"]
    base = sorted(tuple(r) for r in q.fn(spark, SF_SMALL).collect())

    d = tmp_path / "sf_split"
    d.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem events documents"
    ).split():
        os.symlink(f"{SF_SMALL}/{t}.parquet", d / f"{t}.parquet")
    emb_dir = d / "embeddings.parquet"
    emb_dir.mkdir()
    con = duckdb.connect()
    src = f"{SF_SMALL}/embeddings.parquet"
    n = con.execute(f"SELECT COUNT(*) FROM read_parquet('{src}')").fetchone()[0]
    sz = (n + 3) // 4
    for i in range(4):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}') LIMIT {sz} OFFSET {i * sz})"
            f" TO '{emb_dir}/chunk{i}.parquet' (FORMAT PARQUET)"
        )
    os.environ["SPARK_GRAFT_STREAM_MAXFILES"] = "1"
    try:
        split = sorted(tuple(r) for r in q.fn(spark, str(d)).collect())
    finally:
        os.environ.pop("SPARK_GRAFT_STREAM_MAXFILES", None)
    assert split == base


def test_fill_bytes_before_markers_are_skipped():
    """§B.1.1.2: 0xFF fill bytes may pad before any marker; the parser
    must skip them instead of reading 0xFF as the marker id (ADVICE r5)."""
    img = _block_constant_image(np.arange(64, 128, dtype=np.uint8))
    data = encode_jpeg_gray(img)
    plain = decode_jpeg(data)[3]
    # single fill byte right after SOI, and a run of three before SOS
    k = data.index(b"\xff\xda")
    padded = data[:2] + b"\xff" + data[2:k] + b"\xff\xff\xff" + data[k:]
    w, h, c, out = decode_jpeg(padded)
    assert (w, h, c) == (64, 64, 1)
    assert (out == plain).all()


def test_multiscan_truncated_stream_raises_value_error():
    """Round 7: §B.2.3 multi-scan sequential streams now decode NATIVELY
    (no more envelope raise), so a SOS listing fewer components than SOF
    routes to the multi-scan decoder — and a stream whose remaining
    components are never coded by ANY scan is TRUNCATED: clean ValueError
    at EOI, never wrong pixels and never a KeyError."""
    import struct as _struct

    data = encode_jpeg_rgb(np.zeros((8, 8, 3), dtype=np.uint8))
    i = data.index(b"\xff\xda")
    old_len = _struct.unpack(">H", data[i + 2 : i + 4])[0]
    seg = data[i + 4 : i + 2 + old_len]
    ns = seg[0]
    assert ns == 3
    new_payload = bytes([1]) + seg[1:3] + seg[1 + 2 * ns :]
    new_sos = b"\xff\xda" + _struct.pack(">H", len(new_payload) + 2) + new_payload
    hacked = data[:i] + new_sos + data[i + 2 + old_len :]
    with pytest.raises(ValueError, match="components coded"):
        decode_jpeg(hacked)
    # split_restart_segments has no multi-scan path: the header walk it
    # stops at the first SOS must keep the clean envelope raise (ADVICE r5).
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        split_restart_segments,
    )

    with pytest.raises(NotImplementedError, match="multi-scan"):
        split_restart_segments(hacked)


def test_multiscan_sequential_equals_baseline_decode():
    """encode_jpeg_rgb_multiscan (Y non-interleaved scan, then Cb+Cr
    interleaved in MCU order) carries exactly the single-scan encoder's
    quantized coefficients, so decode must be pixel-identical to the
    baseline encoding of the same image — across subsamplings and
    non-multiple-of-MCU dims (pads the interleaved scan 2 while scan 1
    walks the smaller §A.2.2 grid)."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_rgb_multiscan,
    )

    rng = np.random.default_rng(131)
    for h, w in [(64, 64), (40, 56), (17, 33), (8, 8), (50, 23)]:
        for sub in ("444", "422", "420"):
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            base = decode_jpeg(encode_jpeg_rgb(img, subsampling=sub))
            ms = decode_jpeg(encode_jpeg_rgb_multiscan(img, subsampling=sub))
            assert base[:3] == ms[:3]
            assert np.array_equal(base[3], ms[3]), (h, w, sub)


def test_multiscan_streams_are_structurally_multiscan():
    """The fixture must actually exercise both §B.2.3 scan shapes: two
    SOS segments, the first non-interleaved (ns=1, component 1), the
    second an interleaved component subset (ns=2, components 2+3)."""
    import struct as _struct

    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_rgb_multiscan,
    )

    data = encode_jpeg_rgb_multiscan(
        np.zeros((32, 32, 3), dtype=np.uint8), subsampling="420"
    )
    sos_at = []
    j = 0
    while True:
        j = data.find(b"\xff\xda", j)
        if j < 0:
            break
        sos_at.append(j)
        j += 2
    assert len(sos_at) == 2
    ns1 = data[sos_at[0] + 4]
    ns2 = data[sos_at[1] + 4]
    assert ns1 == 1 and data[sos_at[0] + 5] == 1
    assert ns2 == 2 and data[sos_at[1] + 5] == 2 and data[sos_at[1] + 7] == 3
    # every scan full precision: Ss=0 Se=63 AhAl=0
    for at, ns in ((sos_at[0], ns1), (sos_at[1], ns2)):
        ss, se, ahal = data[at + 4 + 1 + 2 * ns : at + 4 + 4 + 2 * ns]
        assert (ss, se, ahal) == (0, 63, 0)


def test_dqt_latch_rejects_mid_frame_redefinition():
    """ADVICE r6: libjpeg latches a component's quant table at its first
    scan. A (non-conformant) stream redefining a LATCHED table between
    scans must raise — never decode to different pixels than libjpeg —
    while a byte-identical redefinition stays legal. Covers both the
    multi-scan sequential and the progressive decoder (shared
    _merge_dqt/_latch_scan_qtables)."""
    import struct as _struct

    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        _segment,
        _ZZ_COLS,
        _ZZ_ROWS,
        encode_jpeg_gray_progressive,
        encode_jpeg_rgb_multiscan,
    )

    def inject_after_first_sos(data: bytes, qscale: int) -> bytes:
        first = data.index(b"\xff\xda")
        seglen = _struct.unpack(">H", data[first + 2 : first + 4])[0]
        # after the first scan's entropy data = at the SECOND marker ≥
        # first SOS; simplest robust point: just before the second SOS
        # (multiscan) or second DHT/SOS (progressive) — find next \xff\xda
        # or \xff\xc4 after the entropy region.
        nxt = min(
            x
            for x in (
                data.find(b"\xff\xda", first + 4 + seglen),
                data.find(b"\xff\xc4", first + 4 + seglen),
            )
            if x > 0
        )
        q = quant_table(QUANT_LUMA, qscale)
        dqt = _segment(
            b"\xff\xdb", bytes([0x00]) + q[_ZZ_ROWS, _ZZ_COLS].astype(np.uint8).tobytes()
        )
        return data[:nxt] + dqt + data[nxt:]

    img3 = np.random.default_rng(5).integers(0, 256, (24, 24, 3), dtype=np.uint8)
    ms = encode_jpeg_rgb_multiscan(img3, qscale=1, subsampling="444")
    with pytest.raises(ValueError, match="latched"):
        decode_jpeg(inject_after_first_sos(ms, qscale=2))
    ok = inject_after_first_sos(ms, qscale=1)  # identical redefinition
    assert np.array_equal(decode_jpeg(ok)[3], decode_jpeg(ms)[3])

    imgg = np.random.default_rng(6).integers(0, 256, (16, 16), dtype=np.uint8)
    prog = encode_jpeg_gray_progressive(imgg, qscale=1)
    with pytest.raises(ValueError, match="latched"):
        decode_jpeg(inject_after_first_sos(prog, qscale=2))


def test_split_restart_segments_mcu_count_subsampled():
    """split_restart_segments must size the MCU grid by the max sampling
    factors: a 4:2:0 32x32 stream has 4 MCUs (16x16 each), not the 16 a
    1x1-only formula claims (ADVICE r5)."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        split_restart_segments,
    )

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    data = encode_jpeg_rgb(img, subsampling="420", restart_interval=1)
    _header, n_mcus, segs = split_restart_segments(data)
    assert n_mcus == 4
    assert [s[0] for s in segs] == [0, 1, 2, 3]
    # 4:2:2 on 32x48: MCUs are 16x8 -> ceil(32/8) * ceil(48/16) = 4*3
    img2 = rng.integers(0, 256, size=(32, 48, 3), dtype=np.uint8)
    data2 = encode_jpeg_rgb(img2, subsampling="422", restart_interval=2)
    _h2, n2, segs2 = split_restart_segments(data2)
    assert n2 == 12
    assert [s[0] for s in segs2] == [0, 2, 4, 6, 8, 10]


# --------------------------------------------------------------------------
# progressive (SOF2) codec — round 6
# --------------------------------------------------------------------------


def test_progressive_equals_baseline_decode():
    """The parity invariant: a fully-refined progressive stream carries
    exactly the baseline encoder's quantized coefficients, so decode
    output must be pixel-identical to the baseline encoding of the same
    image — across shapes (incl. non-multiples of 8), quant scales, and
    chroma subsampling modes."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_gray_progressive,
        encode_jpeg_rgb_progressive,
    )

    rng = np.random.default_rng(7)
    for shape in [(8, 8), (16, 16), (41, 53), (64, 64)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for qs in (1, 2):
            base = decode_jpeg(encode_jpeg_gray(img, qscale=qs))
            prog = decode_jpeg(encode_jpeg_gray_progressive(img, qscale=qs))
            assert base[:3] == prog[:3]
            assert (base[3] == prog[3]).all(), (shape, qs)
    for shape in [(16, 16), (32, 32), (17, 23)]:
        img = rng.integers(0, 256, size=shape + (3,), dtype=np.uint8)
        for sub in ("444", "420", "422"):
            base = decode_jpeg(encode_jpeg_rgb(img, subsampling=sub))
            prog = decode_jpeg(encode_jpeg_rgb_progressive(img, subsampling=sub))
            assert base[:3] == prog[:3]
            assert (base[3] == prog[3]).all(), (shape, sub)


def test_progressive_streams_are_structurally_progressive():
    """The encoder must actually emit SOF2 with the 6-scan script, not a
    renamed sequential stream: one SOF2 marker, six SOS markers for
    grayscale (DC, 2 AC-first bands, AC refine, DC refine, AC refine),
    and 16 for color (DC + 5 per-component AC scan groups x 3)."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_gray_progressive,
        encode_jpeg_rgb_progressive,
    )

    rng = np.random.default_rng(21)
    g = encode_jpeg_gray_progressive(
        rng.integers(0, 256, size=(32, 32), dtype=np.uint8)
    )
    assert g.count(b"\xff\xc2") == 1 and b"\xff\xc0" not in g
    assert g.count(b"\xff\xda") == 6
    c = encode_jpeg_rgb_progressive(
        rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    )
    assert c.count(b"\xff\xc2") == 1
    assert c.count(b"\xff\xda") == 2 + 4 * 3  # 2 DC scans + 4 AC scans/comp


def test_progressive_eobrun_and_sparse_content():
    """Long EOB runs (EOBn with n >> 1) and the buffered-correction-bit
    path: mostly-flat images make almost every block's AC band empty, so
    the encoder must accumulate multi-block EOB runs; isolated features
    exercise run-break + refinement placement. Parity must still be
    exact."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_gray_progressive,
    )

    # 128x128 flat field with a handful of bright spots: 256 blocks,
    # nearly all band-empty in every AC scan
    img = np.full((128, 128), 128, dtype=np.uint8)
    rng = np.random.default_rng(3)
    for _ in range(5):
        r, c = rng.integers(0, 120, size=2)
        img[r : r + 6, c : c + 6] = rng.integers(0, 256)
    base = decode_jpeg(encode_jpeg_gray(img))
    prog_bytes = encode_jpeg_gray_progressive(img)
    prog = decode_jpeg(prog_bytes)
    assert (base[3] == prog[3]).all()
    # a gradient image: every block has rich AC content, so refinement
    # scans emit newly-significant symbols at every level
    x = np.arange(64)
    grad = np.clip(2 * x[None, :] + x[:, None], 0, 255).astype(np.uint8)
    assert (
        decode_jpeg(encode_jpeg_gray(grad))[3]
        == decode_jpeg(encode_jpeg_gray_progressive(grad))[3]
    ).all()


def test_progressive_envelope_raises():
    """Truncated progressive scan data raises, never wrong pixels; a
    DRI segment is now ACCEPTED (round 9, VERDICT r8 item 3) — on a
    1-MCU image Ri=4 yields no restart boundaries, so the injected-DRI
    stream must decode identically to the original."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_gray_progressive,
    )

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    data = encode_jpeg_gray_progressive(img)
    i = data.index(b"\xff\xda")
    with_dri = data[:i] + b"\xff\xdd\x00\x04\x00\x04" + data[i:]
    assert np.array_equal(decode_jpeg(with_dri)[3], decode_jpeg(data)[3])
    with pytest.raises(ValueError):
        decode_jpeg(data[: i + 12])


def test_decode_image_bytes_routes_progressive_without_pil():
    """_decode_image_bytes must decode SOF2 through the from-scratch
    multi-scan path (no PIL dependency), same as baseline."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_gray_progressive,
    )
    from multithreaded_map_reduce_library_spark.operators import multimodal as mm

    img = _block_constant_image(np.arange(64, 100, dtype=np.uint8).repeat(2)[:64])
    arr = mm._decode_image_bytes(encode_jpeg_gray_progressive(img))
    assert arr.shape == (64, 64)
    assert arr[0, 0] == _expected_constant(64, 16)


def test_jpeg_progressive_query_oracle_parity(spark):
    q = all_queries()["multimodal_jpeg_progressive_roundtrip"]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


def test_jpeg_progressive_color420_query_oracle_parity(spark):
    q = all_queries()["multimodal_jpeg_progressive_color420"]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


def test_decode_image_bytes_routes_multiscan_without_pil():
    """_decode_image_bytes must decode §B.2.3 multi-scan sequential
    streams through the from-scratch path (no PIL dependency)."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_rgb_multiscan,
    )
    from multithreaded_map_reduce_library_spark.operators import multimodal as mm

    img = np.full((32, 32, 3), 64, dtype=np.uint8)
    arr = mm._decode_image_bytes(encode_jpeg_rgb_multiscan(img, subsampling="444"))
    assert arr.shape == (32, 32, 3)


def test_jpeg_multiscan_color420_query_oracle_parity(spark):
    q = all_queries()["multimodal_jpeg_multiscan_color420"]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


def test_jpeg_multiscan_dri_color420_query_oracle_parity(spark):
    q = all_queries()["multimodal_jpeg_multiscan_dri_color420"]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


def test_multiscan_dri_equals_baseline_decode():
    """Round 8 (VERDICT r7 item 4): multi-scan sequential WITH restart
    intervals. Restart machinery re-aligns the entropy stream and resets
    DC predictors but cannot change a coefficient, so decode must stay
    pixel-identical to the baseline encoding of the same image — across
    subsamplings, non-multiple-of-MCU dims, and intervals that exercise
    RST0-7 wraparound and the no-trailing-marker tail."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_rgb_multiscan,
    )

    rng = np.random.default_rng(132)
    for h, w in [(64, 64), (40, 56), (17, 33), (50, 23)]:
        for sub in ("444", "422", "420"):
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            base = decode_jpeg(encode_jpeg_rgb(img, subsampling=sub))
            for ri in (1, 3, 7):
                ms = decode_jpeg(
                    encode_jpeg_rgb_multiscan(img, subsampling=sub, restart_interval=ri)
                )
                assert ms[:3] == base[:3]
                assert np.array_equal(ms[3], base[3]), (h, w, sub, ri)


def test_multiscan_dri_stream_has_dri_and_rst_markers():
    """Structural check: the DRI segment is present and BOTH scans carry
    RSTn markers with per-scan sequence restart (§E.2.4: the restart
    number resets to 0 at every SOS)."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_rgb_multiscan,
    )

    rng = np.random.default_rng(133)
    img = rng.integers(0, 256, (32, 48, 3), dtype=np.uint8)
    data = encode_jpeg_rgb_multiscan(img, subsampling="420", restart_interval=1)
    assert b"\xff\xdd" in data
    # locate the two SOS segments and check each scan's first RST is RST0
    sos_positions = []
    i = 2
    while i < len(data) - 1:
        if data[i] == 0xFF and data[i + 1] == 0xDA:
            sos_positions.append(i)
        i += 1
    assert len(sos_positions) == 2
    for sp in sos_positions:
        # first RSTn after this SOS
        j = sp + 2
        first = None
        while j < len(data) - 1:
            if data[j] == 0xFF and 0xD0 <= data[j + 1] <= 0xD7:
                first = data[j + 1] - 0xD0
                break
            if data[j] == 0xFF and data[j + 1] == 0xDA and j > sp:
                break
            j += 1
        assert first == 0, f"scan at {sp}: first restart marker is RST{first}"


def test_multiscan_dri_rst_sequence_error_raises():
    """A swapped restart marker (RST1 where RST0 is due) must raise a
    clean ValueError — lost sync never silently produces wrong pixels."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_rgb_multiscan,
    )

    rng = np.random.default_rng(134)
    img = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    data = bytearray(encode_jpeg_rgb_multiscan(img, subsampling="420", restart_interval=1))
    i = 2
    while i < len(data) - 1:
        if data[i] == 0xFF and data[i + 1] == 0xD0:
            data[i + 1] = 0xD1
            break
        i += 1
    with pytest.raises(ValueError, match="RST sequence error"):
        decode_jpeg(bytes(data))


def test_progressive_dri_equals_baseline_decode():
    """Round 9 (VERDICT r8 item 3): restart intervals INSIDE progressive
    scans. Restart machinery re-aligns the entropy stream, resets DC
    predictors and EOB runs, but cannot change a coefficient — so a
    fully-refined progressive stream with DRI must decode
    pixel-identical to the baseline encoding of the same image, across
    subsamplings, non-multiple-of-MCU dims, and intervals exercising
    RST0-7 wraparound and the no-trailing-marker tail."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_gray,
        encode_jpeg_gray_progressive,
        encode_jpeg_rgb,
        encode_jpeg_rgb_progressive,
    )

    rng = np.random.default_rng(135)
    for h, w in [(64, 64), (40, 56), (17, 33)]:
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        base = decode_jpeg(encode_jpeg_gray(img))
        for ri in (1, 3, 7):
            pg = decode_jpeg(
                encode_jpeg_gray_progressive(img, restart_interval=ri)
            )
            assert pg[:3] == base[:3]
            assert np.array_equal(pg[3], base[3]), (h, w, ri)
    for sub in ("444", "422", "420"):
        img3 = rng.integers(0, 256, (50, 23, 3), dtype=np.uint8)
        base = decode_jpeg(encode_jpeg_rgb(img3, subsampling=sub))
        for ri in (3, 5):
            pg = decode_jpeg(
                encode_jpeg_rgb_progressive(
                    img3, subsampling=sub, restart_interval=ri
                )
            )
            assert np.array_equal(pg[3], base[3]), (sub, ri)


def test_progressive_dri_eobrun_reset_at_boundary():
    """The progressive-specific subtlety (VERDICT r8 item 3): EOB runs
    may not cross a restart boundary. A CONSTANT image makes every AC
    block empty, so without the encoder-side flush a single EOBn would
    span all blocks and every restart boundary; Ri values that divide
    neither the 64-block AC grids nor the 64 DC MCUs force flushes at
    non-EOB-aligned points, and the decoder must reset its run counter
    at each marker."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_gray,
        encode_jpeg_gray_progressive,
    )

    cimg = np.full((64, 64), 131, dtype=np.uint8)
    base = decode_jpeg(encode_jpeg_gray(cimg))
    for ri in (1, 3, 5, 7):
        data = encode_jpeg_gray_progressive(cimg, restart_interval=ri)
        assert data.count(b"\xff\xdd") == 1
        # AC scans of a 64-block grid at Ri=ri: boundaries exist inside
        # the scans, so RST markers must actually be in the stream
        assert sum(data.count(bytes((0xFF, 0xD0 + m))) for m in range(8)) > 0
        pg = decode_jpeg(data)
        assert np.array_equal(pg[3], base[3]), ri


def test_progressive_dri_rst_sequence_error_raises():
    """A swapped restart marker in a progressive stream must raise a
    clean ValueError — lost sync never silently produces wrong pixels."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_gray_progressive,
    )

    rng = np.random.default_rng(136)
    img = rng.integers(0, 256, (32, 32), dtype=np.uint8)
    data = bytearray(encode_jpeg_gray_progressive(img, restart_interval=1))
    i = 2
    while i < len(data) - 1:
        if data[i] == 0xFF and data[i + 1] == 0xD0:
            data[i + 1] = 0xD1
            break
        i += 1
    with pytest.raises(ValueError, match="RST sequence error"):
        decode_jpeg(bytes(data))


def test_progressive_dri_per_scan_marker_number_reset():
    """§E.2.4: the restart marker number restarts at 0 at every SOS —
    check the first RSTn after each of the progressive stream's SOS
    segments is RST0."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_gray_progressive,
    )

    rng = np.random.default_rng(137)
    img = rng.integers(0, 256, (64, 64), dtype=np.uint8)
    data = encode_jpeg_gray_progressive(img, restart_interval=3)
    sos_positions = [
        i
        for i in range(2, len(data) - 1)
        if data[i] == 0xFF and data[i + 1] == 0xDA
    ]
    assert len(sos_positions) >= 5  # the scan script has >= 5 scans
    checked = 0
    for sp in sos_positions:
        j = sp + 2
        while j < len(data) - 1:
            if data[j] == 0xFF and 0xD0 <= data[j + 1] <= 0xD7:
                assert data[j + 1] == 0xD0, f"scan at {sp}: first RST{data[j+1]-0xD0}"
                checked += 1
                break
            if data[j] == 0xFF and data[j + 1] == 0xDA and j > sp + 2:
                break
            j += 1
    assert checked >= 5


def test_jpeg_progressive_dri_color420_query_oracle_parity(spark):
    q = all_queries()["multimodal_jpeg_progressive_dri_color420"]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


def _idct_block(coef: np.ndarray) -> np.ndarray:
    """Per-block reference IDCT (the form ``_idct_planes`` batches): the
    DC term is split out so a DC-only block is exact (qd·q00/8 has
    denominator 8 — exact in binary floating point)."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import _DCT_T

    dc = float(coef[0, 0])
    ac = coef.astype(np.float64)
    ac[0, 0] = 0.0
    return (_DCT_T.T @ ac @ _DCT_T) + dc / 8.0


def test_idct_planes_batched_matches_per_block():
    """Round-10 batched _idct_planes equivalence pin: the stacked-matmul
    dequantize+IDCT must be BITWISE equal to the per-block _idct_block
    reference above (np.matmul runs the same 2D kernel per slice; the
    oracle hashes depend on this)."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        QUANT_CHROMA,
        QUANT_LUMA,
        _idct_planes,
        _ZZ_COLS,
        _ZZ_ROWS,
    )

    rng = np.random.default_rng(42)
    comps = [(1, 2, 2, 0), (2, 1, 1, 1)]
    qtables = {0: QUANT_LUMA, 1: QUANT_CHROMA}
    coefs = [
        rng.integers(-300, 300, size=(6, 4, 64)).astype(np.int64),
        rng.integers(-300, 300, size=(3, 2, 64)).astype(np.int64),
    ]
    # sprinkle DC-only blocks (every-AC-zero) into the mix
    coefs[0][0, 0, 1:] = 0
    coefs[1][1, 1, 1:] = 0

    got = _idct_planes(coefs, comps, qtables)
    for ci, (_, _hs, _vs, tq) in enumerate(comps):
        q = qtables[tq]
        nby, nbx = coefs[ci].shape[:2]
        for by in range(nby):
            for bx in range(nbx):
                blk = np.zeros((8, 8), dtype=np.int64)
                blk[_ZZ_ROWS, _ZZ_COLS] = coefs[ci][by, bx] * q[_ZZ_ROWS, _ZZ_COLS]
                want = _idct_block(blk)
                have = got[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                assert (want == have).all(), (ci, by, bx)


def test_quantize_plane_matches_per_block():
    """Round-10 batched encode-quantize equivalence pin: _quantize_plane
    must be BITWISE equal to per-block _quantize_block over a plane
    mixing flat and random blocks (the constant-DC fast path and the
    float DCT + half-away path both)."""
    import numpy as np

    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        QUANT_CHROMA,
        QUANT_LUMA,
        _quantize_block,
        _quantize_plane,
        quant_table,
    )

    rng = np.random.default_rng(7)
    plane = rng.integers(0, 256, size=(40, 56), dtype=np.uint8)
    plane[8:16, 8:16] = 77  # constant block
    plane[24:32, 40:48] = 0  # constant block at the dark rail
    for q in (QUANT_LUMA, QUANT_CHROMA, quant_table(QUANT_LUMA, 2)):
        got = _quantize_plane(plane, q)
        for by in range(5):
            for bx in range(7):
                want = _quantize_block(plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], q)
                assert (got[by, bx] == want).all(), (by, bx)


# --------------------------------------------------------------------------
# decoded-bytes pin
# --------------------------------------------------------------------------

#: sha256 of ``(w, h, c, pixels)`` per (encoder, size, qscale), recorded
#: with the per-block baseline decoder this codec had before the one-walk
#: decoder replaced it. Every DRI variant, the multi-scan stream and the
#: progressive stream decode to the same pixels as their single-scan twin,
#: so each entry pins several streams.
_DECODE_DIGESTS = {
    "gray-17x33-q1": "aeccecec8ddbe021bdaac02a207cf213aa28bc5cdf5c56dbe3a0fb53dda7269e",
    "gray-17x33-q2": "442393d961d9b1d7e3ca7963df5352ef2388971adca2099f021c9b8b358a9125",
    "gray-1x1-q1": "90ccae7b483de899eb77ecc86cca7e3ae4ebc841bc4408e6434f3ae43ae1a000",
    "gray-1x1-q2": "90ccae7b483de899eb77ecc86cca7e3ae4ebc841bc4408e6434f3ae43ae1a000",
    "gray-50x23-q1": "c473d2a90561d4e2a54f8b01823d9cfee228afe3c7c24deb621add982fef226a",
    "gray-50x23-q2": "d8b293cbfe2cb5944d55f809ca05bbbac98cf13cabc651dd6302544e7f685d07",
    "gray-64x64-q1": "e132f11c4b8a00e0cc10d394c5303e912602b351d230ae917fab9eca07a5690f",
    "gray-64x64-q2": "d9ccb78e11de542e762db702463f7a212292c12359136998a886cec382e0cd6a",
    "rgb420-17x33-q1": "3baf67eeabb3096500fdcadb9836c16897eecf4b7c9de86822e21e4ce41bc464",
    "rgb420-17x33-q2": "92584cfbc206ce5ca49f54ab236968a5d52a95f22ebeb56e7d44a31c7d56308c",
    "rgb420-1x1-q1": "4dde0aac4e2a9c8885dfc4c17908a733aae57a6158bc611b3c3084217a76d94e",
    "rgb420-1x1-q2": "c001a43f672f4b44388356cbc9698fc0733293cd301a0d71dfcd8436414ca656",
    "rgb420-50x23-q1": "65a235614020531143db2fb829a315e5feb0bb6b59ae1036806bc6663a01a2f5",
    "rgb420-50x23-q2": "8cbb7fa3c4d487728b5a5f11ebbce2d7cd5e12832f8d54574bfb04d67b3bb9af",
    "rgb420-64x64-q1": "bab1095a58b7e277a4e67d9f33d8e5885523488d706959fb26b6ecc7cb2f7cbd",
    "rgb420-64x64-q2": "9afde17495815e5ed2d7d3db4d4fec913d52680895736d2c87df68913154734e",
    "rgb422-17x33-q1": "3987490c551f3da7763e028d38b5ee8f51408f6e6c438f046e022c424b06781d",
    "rgb422-17x33-q2": "dfdec0324aac96377f176db89bbde52dd7497b1cbddacf919acac6bb1fa84db0",
    "rgb422-1x1-q1": "4dde0aac4e2a9c8885dfc4c17908a733aae57a6158bc611b3c3084217a76d94e",
    "rgb422-1x1-q2": "c001a43f672f4b44388356cbc9698fc0733293cd301a0d71dfcd8436414ca656",
    "rgb422-50x23-q1": "263e73cb8da2f239c093c5b1f03081346df97babfb642cbce3574fec88bae6a3",
    "rgb422-50x23-q2": "f5417bf4745fedda9ab37227c2e8e0a1a524abab70a5cecfe097bfff092898f3",
    "rgb422-64x64-q1": "42938d70cd321cea0512d6f98c8b0024c067ce0d5d7c976f44e24833512f6de3",
    "rgb422-64x64-q2": "99fd496a93615b65b020b1bdbad27e027153487a808ce9dd7498679c75bbaa75",
    "rgb444-17x33-q1": "339bad856410592dfa848cff8505785a3aced041ebcdcf14bc3d39fe1b299ffb",
    "rgb444-17x33-q2": "2240ee52107c6da06aa04b798eac9f1773e9e0f6b9101ea92d9624aa0dfb4dd8",
    "rgb444-1x1-q1": "4dde0aac4e2a9c8885dfc4c17908a733aae57a6158bc611b3c3084217a76d94e",
    "rgb444-1x1-q2": "c001a43f672f4b44388356cbc9698fc0733293cd301a0d71dfcd8436414ca656",
    "rgb444-50x23-q1": "e2541c17d636162b50210f253efb62bd42ca726d4dcb65927b8fb3cadf9c2c84",
    "rgb444-50x23-q2": "fae6a60196aa420c315cc1fd588a99babd7aada3b913eefebfb4d150763ee6f5",
    "rgb444-64x64-q1": "b3e2e162297c7c84679be6853f43b4b643cfb142be47c82ed61404f97107ae76",
    "rgb444-64x64-q2": "9fad9b9490637c38b807c5efd9fc965895e0c0dde01a17043b368a8c89938e7a",
}


def _digest_streams():
    """(digest key, stream id, JPEG bytes) over gray / RGB 4:4:4 / 4:2:2 /
    4:2:0 × DRI {0, 1, 4} × four sizes × qscale {1, 2}, plus one
    multi-scan and one progressive stream. Each image is seeded noise with
    a flat top-left quadrant, so DC-only and AC-rich blocks both occur."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_rgb_multiscan,
        encode_jpeg_rgb_progressive,
    )

    rng = np.random.default_rng(20261017)
    imgs = {}
    for h, w in [(64, 64), (17, 33), (50, 23), (1, 1)]:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        img[: h // 2, : w // 2] = 77
        imgs[(h, w)] = img
    for (h, w), img in imgs.items():
        for qs in (1, 2):
            key = f"{h}x{w}-q{qs}"
            for ri in (0, 1, 4):
                yield f"gray-{key}", f"dri{ri}", encode_jpeg_gray(
                    img[..., 0], qscale=qs, restart_interval=ri
                )
                for sub in ("444", "422", "420"):
                    yield f"rgb{sub}-{key}", f"dri{ri}", encode_jpeg_rgb(
                        img, qscale=qs, subsampling=sub, restart_interval=ri
                    )
    yield "rgb420-50x23-q1", "multiscan-dri4", encode_jpeg_rgb_multiscan(
        imgs[(50, 23)], subsampling="420", restart_interval=4
    )
    yield "rgb420-17x33-q1", "progressive-dri1", encode_jpeg_rgb_progressive(
        imgs[(17, 33)], subsampling="420", restart_interval=1
    )


def test_decoded_bytes_match_recorded_digests():
    """The decoder's output bytes are pinned across 98 streams: deleting
    or rerouting a decode path must not move a single pixel."""
    import hashlib

    seen = set()
    wrong = []
    for key, variant, data in _digest_streams():
        w, h, c, arr = decode_jpeg(data)
        got = hashlib.sha256(f"{w},{h},{c};".encode() + arr.tobytes()).hexdigest()
        if got != _DECODE_DIGESTS[key]:
            wrong.append((key, variant))
        seen.add((key, variant))
    assert len(seen) == 98
    assert not wrong, wrong


def test_every_truncation_raises_value_error():
    """A stream cut at ANY byte raises ValueError: never an IndexError or
    struct error from a half-read marker segment, and never pixels — a
    progressive stream cut between scans would otherwise decode to
    partially refined coefficients."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_rgb_multiscan,
        encode_jpeg_rgb_progressive,
    )

    img = np.random.default_rng(4).integers(0, 256, (9, 12, 3), dtype=np.uint8)
    for data in (
        encode_jpeg_gray(img[..., 0], restart_interval=1),
        encode_jpeg_rgb(img, subsampling="420"),
        encode_jpeg_rgb_multiscan(img, restart_interval=1),
        encode_jpeg_rgb_progressive(img, subsampling="420"),
    ):
        decode_jpeg(data)
        for n in range(len(data)):
            with pytest.raises(ValueError):
                decode_jpeg(data[:n])


def _with_segment(data: bytes, marker: int, payload: bytes) -> bytes:
    """``data`` with one marker segment put just before its first SOS."""
    sos = data.index(b"\xff\xda")
    seg = bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload
    return data[:sos] + seg + data[sos:]


@pytest.mark.parametrize(
    "marker, payload, match",
    [
        (0xDD, b"", "DRI segment"),  # no interval
        (0xC4, bytes([0x00, 200] + [0] * 15), "DHT table"),  # 200 codes, no values
        (0xC4, bytes([0x00] + [0] * 14 + [150, 150]) + bytes(300), "DHT table"),  # 300 > 256
        (0xC4, bytes([0x52, 1] + [0] * 15) + b"\x00", "DHT table class byte"),  # Tc 5, Th 2
        (0xDB, b"", "DQT segment"),  # no table
        (0xDA, b"", "SOS segment"),  # no component count
        (0xDA, b"\x01\x01", "SOS segment"),  # one component, no selectors
    ],
    ids=[
        "dri-empty",
        "dht-past-end",
        "dht-over-256",
        "dht-class-0x52",
        "dqt-empty",
        "sos-empty",
        "sos-short",
    ],
)
def test_malformed_segment_raises_value_error(marker, payload, match):
    """A complete stream with one malformed marker segment raises
    ValueError, not a struct error or IndexError from reading past the
    segment's payload."""
    data = encode_jpeg_gray(np.full((8, 8), 90, dtype=np.uint8))
    decode_jpeg(data)
    with pytest.raises(ValueError, match=match):
        decode_jpeg(_with_segment(data, marker, payload))


def test_short_sof_payload_raises_value_error():
    """An SOF segment whose payload stops before its fields (4 bytes here:
    precision, height and one byte of the width) raises ValueError."""
    data = encode_jpeg_gray(np.full((8, 8), 90, dtype=np.uint8))
    i = data.index(b"\xff\xc0")
    end = i + 2 + int.from_bytes(data[i + 2 : i + 4], "big")
    for payload in (b"\x08\x00\x08\x00", data[i + 4 : end - 1]):
        short = data[:i] + b"\xff\xc0" + (len(payload) + 2).to_bytes(2, "big") + payload
        with pytest.raises(ValueError, match="SOF segment shorter"):
            decode_jpeg(short + data[end:])


def test_second_frame_header_raises():
    """One stream carries one frame: a second SOF after the scan raises
    rather than restarting the coefficient grids or being ignored."""
    data = encode_jpeg_gray(np.full((8, 8), 90, dtype=np.uint8))
    i = data.index(b"\xff\xc0")
    seglen = int.from_bytes(data[i + 2 : i + 4], "big")
    sof = data[i : i + 2 + seglen]
    with pytest.raises(ValueError, match="second frame header"):
        decode_jpeg(data[:-2] + sof + data[-2:])


# --------------------------------------------------------------------------
# encoder bytes pin
# --------------------------------------------------------------------------

#: sha256 of each public encoder's output per (mode, subsampling, size),
#: each over qscale {1, 2} × the mode's DRI set, in that order. The
#: ``progressive-*`` rows hash DRI {0, 1, 4} and were recorded before the
#: progressive encoder took its colour transform and chroma downsample
#: from ``_rgb_planes``; ``progressive-dri3-*`` adds DRI 3. The gray,
#: baseline and multi-scan rows hash DRI {0, 1, 3, 4} and were recorded
#: while baseline, multi-scan and progressive had one encoder body each,
#: before they became one ``_encode``. DRI 3 puts a
#: restart mid-MCU-row for 4:2:0 (6 blocks per MCU) and for the 2-block
#: chroma MCU of the multi-scan stream.
_ENCODE_DIGESTS = {
    "progressive-444-64x64": "c6578635d6a1e53965e5fd8006e787e971070052ed7a4b972e27981efbad3dbf",
    "progressive-422-64x64": "94331a072053bcf25ee10eaa8c14eafbb1730792a3d4264ba653b137f3f71689",
    "progressive-420-64x64": "db94ef5e86686f2fa085ec674896ae70ff59e86b1c766bb86f16b1e091a40d04",
    "progressive-444-17x33": "2c57ae4c6eb96998532c5a321146946824f7d57d2dafb224ab68145f88340818",
    "progressive-422-17x33": "e3c105e525efd721329e6c86bb8ef99aa8082c6e3f737b63d625dcd1aa7c3477",
    "progressive-420-17x33": "97e8447871861d80155c607b3a1f99cdcfc56ce75e1faa86a21f4374e2d3f008",
    "progressive-444-1x1": "47092bdf0cf123eb1030144d61fbcfff9ed99c797c77c22cdd3025194e8d14a6",
    "progressive-422-1x1": "045fc58d41f20669f85610a3aaf86c9bc119cf3f5de2f521c85c6c8c6b92e677",
    "progressive-420-1x1": "53b91c43dca3750b0c869dcd8418a980b6953850ea3e6e879f7e3a58370d2aea",
    "progressive-dri3-444-64x64": "148221268943d6187f72c181ebfba683b9106ebecf56ad0f58cc151036190566",
    "progressive-dri3-422-64x64": "a24857b460cabc39e5ef18bd824d7ad1363b2d0e7dc3b9ba402a7ab723ebe1a3",
    "progressive-dri3-420-64x64": "40d348e7d3087d2a930743da445f6cbda5a233fc4531f879c9fac3f6d2d99384",
    "progressive-dri3-444-17x33": "7ae4aed022ff99135f38052761612f8e2979a747780c9d033625e1776a3c950a",
    "progressive-dri3-422-17x33": "7fc48d05ec04f85258e053475686b58509e535f5225bdab32a5282aac3a21989",
    "progressive-dri3-420-17x33": "e42a2f5c946193e66828314eff771fdc900bc057711a52d659dfe57db9a235b2",
    "progressive-dri3-444-1x1": "3f2514ce8493f5a536591b1144c44b101b961669edd3fc7c658ffa49705d27bd",
    "progressive-dri3-422-1x1": "4ea2f0ec823c3eb66563f4d1a8beb89378b9461b44d9822279ad3a61c0906512",
    "progressive-dri3-420-1x1": "f25c668820b55eec5ebbf5ece38f4c80ce8644f62d7e1264c2b27aba4ebd6a2f",
    "gray-64x64": "16dc401539d56901db3bb481eaea63427e1d8f53e7a0f6fb78f20b0b5479e824",
    "gray-17x33": "06c54d752025430ca9e204061bc24548bfc48046562c6163b3abf66f37961603",
    "gray-1x1": "b855d93b2e813630c6a520a80b9a4e9b4e3a327d42b26014732229502fa420c0",
    "gray-progressive-64x64": "c34d438b99a0ecaf8e3ac10aac4dfcb6baca617ab61aedb299df46a16e8f8ed1",
    "gray-progressive-17x33": "5c3e5b1f3c7bbb34d8e3216340822c1ffa5bd44a61200838b60093a950d99c23",
    "gray-progressive-1x1": "ef162b5dc035374d58754e3e00d90b253cc1baa7eee1f7fc3c327c91fa435006",
    "baseline-444-64x64": "a227a07c89f5604e8baf44f0d0b8c4c5afd47f36d702372364e551ddda9232d0",
    "baseline-422-64x64": "fb99f84672881420d2c8dd814bcb80e8bdaa7b49b3fce248a7c786f6d95df1e7",
    "baseline-420-64x64": "de32c7385b0a02492e59b269a0a40cef45b2015ef62ade58fa6669c012b7368e",
    "baseline-444-17x33": "c1c324761f9863bf9436bd8b44d095c858abf65c9e1cd787e37e7e3a368bf8c3",
    "baseline-422-17x33": "de509784f860aa379d42863bc3d2ba81421e1b5faf96e04f77bde3d96d71e931",
    "baseline-420-17x33": "ba2812b74639a675a58e32210c8b3873e011909ba2741cbe51a3a111158f115c",
    "baseline-444-1x1": "83191d76d43db7f3e95fbccb2bac887a766167d6d97d9f8db46de6fed484b3f5",
    "baseline-422-1x1": "f9475dc03dbb091db9a691d03d5edfcbacb760979037cdb1bec20333cc0bf9ff",
    "baseline-420-1x1": "398df5f7061afbac7bead20ce03669de0509aaf742adbe59deaf6d7ebb0741dd",
    "multiscan-444-64x64": "4933d0a5b3c0bc30800550749a1eb5dc2cb20967c6bdef9ab9bf69d160fe465c",
    "multiscan-422-64x64": "383a70453d138fa88f5883783aa10f7bb028dc16788e8bd54f1a9fcb45e9fd62",
    "multiscan-420-64x64": "fa45cb4a092df87e7f0524219874df3b9551488811f0ca96f737dfcc5c3b67d8",
    "multiscan-444-17x33": "c47792f1969970585678829fd11811066f0e2e9585c3463aaca75c761509d90a",
    "multiscan-422-17x33": "52091142d5b60d50a6e3acd9b5e4c23575e4ae2b25ea2f577c015d9441806c80",
    "multiscan-420-17x33": "72176cbc95a8c67e211d0fd09fb53a7a3cf87e61ce78245a9dc8c5ecfcf2d201",
    "multiscan-444-1x1": "50a054f17c617eb6c7c5ba26744042ff220b4e854b5b4b7700cd07490060bb04",
    "multiscan-422-1x1": "297ff00cbcd37748b460a36f05d73de5e192d712784d860d8c83d18fd78e3312",
    "multiscan-420-1x1": "5b328d5c6ab3b4777da44bf1a6efb56f4e768d5925534fd2c48d52fdb29dd045",
}


def _encode_pin_modes():
    """(mode, subsamplings, DRI set, encoder(img, qscale, sub, ri)) for
    every public encoder; gray modes encode the image's red channel."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        encode_jpeg_gray_progressive,
        encode_jpeg_rgb_multiscan,
        encode_jpeg_rgb_progressive,
    )

    subs = ("444", "422", "420")
    dri = (0, 1, 3, 4)

    def gray(enc):
        return lambda img, qs, _sub, ri: enc(
            img[..., 0], qscale=qs, restart_interval=ri
        )

    def rgb(enc):
        return lambda img, qs, sub, ri: enc(
            img, qscale=qs, subsampling=sub, restart_interval=ri
        )

    return [
        ("progressive", subs, (0, 1, 4), rgb(encode_jpeg_rgb_progressive)),
        ("progressive-dri3", subs, (3,), rgb(encode_jpeg_rgb_progressive)),
        ("gray", ("",), dri, gray(encode_jpeg_gray)),
        ("gray-progressive", ("",), dri, gray(encode_jpeg_gray_progressive)),
        ("baseline", subs, dri, rgb(encode_jpeg_rgb)),
        ("multiscan", subs, dri, rgb(encode_jpeg_rgb_multiscan)),
    ]


def test_progressive_encoder_bytes_match_recorded_digests():
    """Every public encoder's output bytes are pinned over three sizes ×
    qscale {1, 2} × DRI (and × 4:4:4 / 4:2:2 / 4:2:0 for RGB): 264
    streams, progressive, baseline and multi-scan alike. Sharing or
    rewriting an encoder stage must not move a single byte."""
    import hashlib

    rng = np.random.default_rng(20261018)
    got = {}
    n = 0
    modes = _encode_pin_modes()
    for h, w in [(64, 64), (17, 33), (1, 1)]:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        img[: h // 2, : w // 2] = 77
        for mode, subs, dris, enc in modes:
            for sub in subs:
                d = hashlib.sha256()
                for qs in (1, 2):
                    for ri in dris:
                        d.update(enc(img, qs, sub, ri))
                        n += 1
                got["-".join(filter(None, (mode, sub, f"{h}x{w}")))] = d.hexdigest()
    assert n == 264
    assert got == _ENCODE_DIGESTS


def test_split_restart_segments_one_component_sampled_2x2():
    """A one-component frame's scan is non-interleaved (§A.2) whatever
    sampling factors it declares: one block per MCU on the component's
    own grid. A 24×40 gray stream with DRI 2 whose SOF declares 2×2
    sampling holds 15 blocks in 8 restart segments, and the segment
    pixel sums add up to the whole-file decode."""
    from multithreaded_map_reduce_library_spark.functions.jpeg import (
        decode_segment_pixel_sum,
        split_restart_segments,
    )

    img = np.random.default_rng(9).integers(0, 256, (24, 40), dtype=np.uint8)
    data = bytearray(encode_jpeg_gray(img, restart_interval=2))
    i = data.index(b"\xff\xc0")
    assert data[i + 11] == 0x11  # component 1's sampling byte
    data[i + 11] = 0x22
    data = bytes(data)
    header, n_mcus, segs = split_restart_segments(data)
    assert n_mcus == 15
    assert [s[0] for s in segs] == [0, 2, 4, 6, 8, 10, 12, 14]
    ends = [s[0] for s in segs[1:]] + [n_mcus]
    parts = [
        decode_segment_pixel_sum(header, seg, end - start)
        for (start, seg), end in zip(segs, ends)
    ]
    assert sum(nb for nb, _ in parts) == 15
    _w, _h, _c, arr = decode_jpeg(data)
    assert sum(s for _, s in parts) == int(arr.astype(np.int64).sum())
