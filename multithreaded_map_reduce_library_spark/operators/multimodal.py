"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata structs, with decode / feature-extract / resize / frame-sample as
Arrow-batched ``mapInPandas`` stages.

Decode is real, not stubbed: PNG, baseline-DCT JPEG (including 4:2:0 /
4:2:2 chroma subsampling and restart markers) and WAV payloads are decoded
by the repo's dependency-free from-scratch codecs (``functions/png.py``,
``functions/jpeg.py``, ``functions/wav.py``) in every environment, so
every oracle-hashed result is a function of the bytes alone; image
variants outside the codec envelopes raise ``NotImplementedError``. Only
non-image payloads (e.g. document bytes read as assets) fall back to a
deterministic md5-seeded fake grid that keeps the feature plumbing
exercised on opaque bytes.

Every per-asset kernel runs through one mapInPandas loop,
:func:`_map_assets`, and every fabricator through one pandas-UDF helper,
:func:`_fabricate`.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator
from itertools import chain

import numpy as np
import pandas as pd  # module-level so pandas-UDF type hints resolve

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from multithreaded_map_reduce_library_spark.functions.jpeg import (
    decode_jpeg,
    decode_segment_pixel_sum,
    encode_jpeg_gray,
    encode_jpeg_gray_progressive,
    encode_jpeg_rgb,
    encode_jpeg_rgb_multiscan,
    encode_jpeg_rgb_progressive,
    split_restart_segments,
)
from multithreaded_map_reduce_library_spark.functions.png import (
    decode_png,
    encode_png,
    is_png,
)
from multithreaded_map_reduce_library_spark.functions.wav import (
    FLOAT32_MONO,
    PCM16_MONO,
    PCM_16_24,
    ULAW_MONO,
    decode_wav,
    encode_wav,
)

#: Canonical multimodal asset schema: opaque payload + typed metadata.
ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("modality", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("modality", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("payload_md5", StringType(), True),
        StructField("feat_dim", IntegerType(), True),
        StructField("feat_l2", StringType(), True),
    ]
)


# --------------------------------------------------------------------------
# The one per-asset mapInPandas loop and the one fabricator helper
# --------------------------------------------------------------------------


#: What a kernel returns for a column with one element per output row.
_ARRAYS = (np.ndarray, list, tuple)


def _column(values: list, counts: list[int]):
    """Join one output column's per-asset values: arrays concatenate,
    anything else — numbers, ``str``, ``bytes`` — is a scalar repeated
    over the asset's rows. pandas keeps ``bytes`` as objects (a numpy
    ``S`` array would drop trailing NUL bytes)."""
    if isinstance(values[0], np.ndarray):
        return np.concatenate(values)
    if isinstance(values[0], _ARRAYS):
        return list(chain.from_iterable(values))
    return pd.Series(values).repeat(counts).to_numpy()


def _map_assets(
    assets: DataFrame, schema: StructType, kernel, inputs: tuple[str, ...] = ("payload",)
) -> DataFrame:
    """Arrow-batched mapInPandas over assets: ``kernel(*inputs)`` per row
    returns the schema's columns after ``asset_id``, each either always a
    scalar (one value for all of the asset's rows) or always an array
    (ndarray/list/tuple, one element per row). The first input is the
    binary payload (a null reads as ``b""``). Columns are collected per
    batch and joined once; a ValueError names its asset."""
    names = [f.name for f in schema.fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, counts, cols = [], [], [[] for _ in names[1:]]
            for asset_id, payload, *rest in zip(*(pdf[c] for c in ("asset_id", *inputs))):
                try:
                    out = kernel(payload or b"", *rest)
                except ValueError as e:
                    raise ValueError(f"asset {asset_id}: {e}") from e
                ids.append(asset_id)
                counts.append(next((len(v) for v in out if isinstance(v, _ARRAYS)), 1))
                for col, v in zip(cols, out):
                    col.append(v)
            if ids:
                yield pd.DataFrame(
                    {n: _column(c, counts) for n, c in zip(names, [ids, *cols])}
                )

    return assets.select("asset_id", *inputs).mapInPandas(batches, schema)


def _fabricate(
    emb: DataFrame, id_col: str, samples: Column, encode, spread: bool = False
) -> DataFrame:
    """(asset_id, payload) rows: ``encode(ndarray)`` of each row's
    ``samples`` array, in an Arrow pandas UDF. ``spread`` first
    repartitions the skinny rows by ``asset_id`` over the default
    parallelism."""

    @F.pandas_udf("binary")
    def to_payload(col: pd.Series) -> pd.Series:
        return pd.Series([encode(np.asarray(s)) for s in col])

    sel = emb.select(F.col(id_col).alias("asset_id"), samples.alias("_s"))
    if spread:
        sel = sel.repartition(emb.sparkSession.sparkContext.defaultParallelism, "asset_id")
    return sel.select("asset_id", to_payload("_s").alias("payload"))


def _quantized(vec_col: str, scale: float, offset: float = 0.5) -> Column:
    """``floor(clamp(x, -1, 1) * scale + offset)`` per element, as an
    int, JVM-side: exact IEEE ops, so an oracle replays the samples from
    the embedding column directly."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(
            F.least(F.greatest(x.cast("double"), F.lit(-1.0)), F.lit(1.0)) * scale
            + F.lit(offset)
        ).cast("int"),
    )


def _gray8(vec_col: str) -> Column:
    """``floor(clip((x + 1) / 2, 0, 1) * 255)`` per element, as an int:
    the 8-bit gray quantization of every image fabricator, in plain SQL
    double math a DuckDB oracle reproduces bit-for-bit."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(
            F.least(F.greatest((x.cast("double") + 1.0) / 2.0, F.lit(0.0)), F.lit(1.0))
            * 255.0
        ).cast("int"),
    )


def _gray_png(what: str, payload: bytes) -> tuple[int, int, np.ndarray]:
    """``(width, height, int64 (h, w) pixels)`` of a grayscale PNG; any
    other color type raises ``NotImplementedError("<what>: grayscale
    images only")``."""
    w, h, c, arr = decode_png(payload)
    if c != 1:
        raise NotImplementedError(f"{what}: grayscale images only")
    return w, h, arr.astype(np.int64).reshape(h, w)


def _wsum(flat: np.ndarray) -> int:
    """Position-weighted checksum ``Σ flat[k] * (k + 1)``."""
    return int((flat * np.arange(1, len(flat) + 1)).sum())


def _decode_image_bytes(payload: bytes) -> np.ndarray:
    """Decode an image payload to an (h, w, c) float array — (8, 8) for
    the fake grid.

    PNG and JPEG payloads are decoded by the dependency-free from-scratch
    codecs (functions/png.py, functions/jpeg.py) in every environment:
    every registered query that feeds this kernel is oracle-hashed, so
    the decode result must be a function of the bytes alone, never of
    which packages the runtime happens to have installed. functions/jpeg.py
    covers baseline SOF0/SOF1 (with 4:2:0/4:2:2 chroma subsampling and
    restart markers), progressive SOF2 and multi-scan sequential streams;
    JPEG variants outside that envelope (arithmetic coding, 12-bit) raise
    ``NotImplementedError``. JPEG is identified by its SOI marker alone,
    so valid streams whose first segment is not APP0/APP1 still decode.

    Non-image payloads fall back to the deterministic md5-seeded fake
    8x8 grid, which keeps the feature plumbing exercised on opaque bytes.
    """
    if is_png(payload):
        return decode_png(payload)[3].astype(np.float64)
    if payload[:3] == b"\xff\xd8\xff":
        return decode_jpeg(payload)[3].astype(np.float64)
    seed = hashlib.md5(payload).digest()
    return np.frombuffer((seed * 4)[:64], dtype=np.uint8).reshape(8, 8).astype(np.float64)


def extract_features(assets: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow moves the binary column in columnar batches; each payload is
    decoded and reduced to a small feature row. This is the plan shape for
    100 TB of images: scan parquet -> mapInPandas -> columnar features, no
    driver involvement, no per-row Python UDF.
    """

    def features(payload, modality):
        feat = _decode_image_bytes(payload).ravel()
        l2 = f"{float(np.sqrt((feat ** 2).sum())):.6f}"
        return modality, len(payload), hashlib.md5(payload).hexdigest(), feat.size, l2

    return _map_assets(assets, FEATURE_SCHEMA, features, ("payload", "modality"))


def documents_as_assets(docs: DataFrame) -> DataFrame:
    """Adapter used by tests/queries: treat document text bytes as opaque
    payloads so the multimodal plumbing runs against driver-provided data."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("modality"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )


def embeddings_as_png_assets(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", width: int = 8,
    interlaced: bool = False,
) -> DataFrame:
    """Fabricate REAL image payloads from driver data: each embedding is
    quantized to 8-bit grey JVM-side (:func:`_gray8`), then an
    Arrow-batched pandas UDF encodes the grid as an actual PNG byte
    stream (functions/png.py), Adam7-interlaced when ``interlaced``.
    Gives the decode path genuine bytes to chew on without any external
    image fixture."""
    return _fabricate(
        emb,
        id_col,
        _gray8(vec_col),
        lambda s: encode_png(s.astype(np.uint8).reshape(-1, width), interlace=interlaced),
    )


def embeddings_as_jpeg_assets(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qscale: int = 1,
    restart_interval: int = 0,
    spread: bool = True,
    progressive: bool = False,
) -> DataFrame:
    """Fabricate REAL baseline-JPEG payloads from driver data: each
    embedding element is quantized to 8-bit grey JVM-side (the same
    :func:`_gray8` rule as the PNG twin) and painted as a CONSTANT 8×8
    block — 64 elements → a 64×64 image, 8 blocks per row — then encoded
    by the from-scratch baseline encoder (functions/jpeg.py) in an Arrow
    pandas UDF. Per-block-constant content makes the lossy DC-only
    reconstruction closed-form computable by a SQL oracle (see
    functions/jpeg.py determinism contract), while the bitstream still
    exercises the full marker/Huffman/entropy path.

    The encode/decode kernels are compute-bound while the input is a
    handful of parquet splits (one, at test SFs): ``spread`` moves the
    skinny (id, 64 quantized ints) rows across the cluster BEFORE the
    expensive per-asset work — the shuffle moves ~260 B/row, the kernel
    costs ~3 ms/asset. Same pattern as a real 100 TB image pipeline:
    repartition metadata, not pixels. ``spread=False`` for streaming
    plans, where parallelism comes from the file source and the ingest
    tier stays shuffle-free."""
    enc = encode_jpeg_gray_progressive if progressive else encode_jpeg_gray

    def to_jpeg(s):
        blocks = s.astype(np.uint8).reshape(-1, 8)
        img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
        return enc(img, qscale=qscale, restart_interval=restart_interval)

    return _fabricate(emb, id_col, _gray8(vec_col), to_jpeg, spread=spread)


def embeddings_as_jpeg420_assets(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qscale: int = 1,
    subsampling: str = "420",
    progressive: bool = False,
    multiscan: bool = False,
    restart_interval: int = 0,
) -> DataFrame:
    """Color 4:2:0 fixture builder: embedding elements 0..47 quantize to
    16 RGB triples painted as CONSTANT 16×16 macroblocks (4×4 grid →
    a 64×64×3 image), encoded by the from-scratch encoder at YCbCr
    4:2:0. Constant macroblocks keep every component's every block
    DC-only THROUGH the chroma box-mean downsample, so the full color
    chain — BT.601 forward, two quant tables, subsample, DCT, entropy,
    upsample, BT.601 inverse — reconstructs in closed form a SQL oracle
    replays (identical double expressions both engines). Spread across
    the cluster like :func:`embeddings_as_jpeg_assets`."""
    if progressive and multiscan:
        raise ValueError("pick one of progressive / multiscan")
    if progressive:
        enc = encode_jpeg_rgb_progressive
    else:
        enc = encode_jpeg_rgb_multiscan if multiscan else encode_jpeg_rgb

    def to_jpeg420(s):
        grid = s[:48].astype(np.uint8).reshape(4, 4, 3)
        img = np.repeat(np.repeat(grid, 16, axis=0), 16, axis=1)
        return enc(
            img, qscale=qscale, subsampling=subsampling, restart_interval=restart_interval
        )

    return _fabricate(emb, id_col, _gray8(vec_col), to_jpeg420, spread=True)


SEGMENT_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("seg_idx", IntegerType(), False),
        StructField("n_mcus", IntegerType(), False),
        StructField("header", BinaryType(), False),
        StructField("segment", BinaryType(), False),
    ]
)

SEGMENT_SUM_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("seg_idx", IntegerType(), False),
        StructField("n_blocks", IntegerType(), False),
        StructField("sum_px_part", LongType(), False),
    ]
)


def split_jpeg_segments(assets: DataFrame) -> DataFrame:
    """mapInPandas stage 1 of the DISTRIBUTED single-asset JPEG decode:
    split each restart-interval payload at its RSTm boundaries into
    independently decodable entropy segments (byte-aligned, fresh DC
    predictors — §E.2.4), one output row per (asset, segment) carrying
    the shared ~350 B header. At 100 TB this is how one multi-GB scan
    image spreads across executors: the SPLIT is a cheap marker scan;
    the expensive DCT work lands on whichever tasks receive the
    segments after the repartition."""

    def split(payload):
        header, n_total, segs = split_restart_segments(payload)
        starts = [start for start, _ in segs]
        n_mcus = np.diff(np.asarray(starts + [n_total], dtype=np.int64))
        return np.arange(len(segs)), n_mcus, header, [seg for _, seg in segs]

    return _map_assets(assets, SEGMENT_SCHEMA, split)


def decode_jpeg_segments(segments: DataFrame) -> DataFrame:
    """mapInPandas stage 2: decode each entropy segment with zero
    upstream state and emit its partial pixel sum. The caller
    repartitions between the stages so one asset's segments fan out
    across the cluster — the groupBy that reassembles per-asset totals
    moves 2 ints per segment, never pixels."""

    def decode(segment, header, n_mcus, seg_idx):
        return (seg_idx, *decode_segment_pixel_sum(header, segment, int(n_mcus)))

    return _map_assets(
        segments, SEGMENT_SUM_SCHEMA, decode, ("segment", "header", "n_mcus", "seg_idx")
    )


DECODE_META_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("sum_px", LongType(), True),
    ]
)


def decode_image_meta(assets: DataFrame) -> DataFrame:
    """mapInPandas REAL image decode: each payload is parsed by the
    stdlib PNG or JPEG codec and reduced to its decoded geometry plus the
    exact integer pixel sum — pure-int outputs, so an oracle that knows
    how the pixels were produced can value-hash the result. The 100 TB
    plan shape: parquet scan of binary column -> Arrow batches ->
    per-batch decode -> tiny typed rows out; no driver involvement."""

    def meta(payload):
        a = _decode_image_bytes(payload)
        c = a.shape[2] if a.ndim == 3 else 1
        return a.shape[1], a.shape[0], c, int(a.sum())

    return _map_assets(assets, DECODE_META_SCHEMA, meta)


CHECKSUM_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("sum_px", LongType(), True),
        StructField("wsum_px", LongType(), True),
    ]
)


def decode_image_checksum(assets: DataFrame) -> DataFrame:
    """Like :func:`decode_image_meta` but adds a POSITION-WEIGHTED pixel
    checksum ``wsum_px = Σ px[k] * (k+1)`` over the row-major flattened
    image — permutation-SENSITIVE, so a decoder that lands the right
    pixels in the wrong places (the failure mode of a bad Adam7
    de-interlace scatter) breaks the hash even though the plain sum
    survives. Same Arrow mapInPandas plan shape, stdlib codec only in
    the hashed path."""

    def checksum(payload):
        w, h, c, arr = decode_png(payload)
        flat = arr.astype(np.int64).reshape(-1)
        return w, h, c, int(flat.sum()), _wsum(flat)

    return _map_assets(assets, CHECKSUM_SCHEMA, checksum)


def frame_sample(assets: DataFrame, every_n_bytes: int = 1024) -> DataFrame:
    """'Frame sampling' shape for video payloads: one output row per sampled
    offset. posexplode over a computed offset array — JVM-side; the (stub)
    per-frame decode would run in a downstream mapInPandas."""
    offsets = F.sequence(
        F.lit(0),
        F.greatest(F.octet_length("payload") - 1, F.lit(0)),
        F.lit(every_n_bytes),
    )
    return assets.select(
        "asset_id", F.posexplode(offsets).alias("frame_idx", "byte_offset")
    )


AHASH_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("ahash", StringType(), True),
    ]
)


def ahash_assets(assets: DataFrame) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprints over decoded image
    payloads: decode, take the 8x8 grid, set bit i iff pixel_i is
    strictly above the grid mean, pack MSB-first into 16 hex chars.
    Identical fingerprints = perceptual duplicates — the image-tier
    analogue of the text SimHash.

    Arrow-batched mapInPandas like extract_features: the decode kernel
    runs per columnar batch, nothing touches the driver, and the output
    is a 2-column skinny relation ready for the dedup group-by. The
    deterministic fallback decoder makes the hash oracle-replayable
    (pipeline26) while a real codec drops in without changing the plan.
    """

    def ahash(payload):
        img = _decode_image_bytes(payload)
        if img.ndim == 3:  # RGB(A) -> luma-free mean collapse
            img = img.mean(axis=2)
        # downsample to 8x8 by block mean when larger (real codec path);
        # the fake decoder is already 8x8. Images with either dimension
        # < 8 can't block-mean (h - h%8 == 0 would yield an all-NaN grid
        # and collapse every tiny image to one hash) — replicate edges up
        # to 8 first, which keeps the hash a pure function of the pixels.
        if img.shape != (8, 8):
            h, w = img.shape
            if h < 8:
                img = np.repeat(img, -(-8 // h), axis=0)[:8]
                h = 8
            if w < 8:
                img = np.repeat(img, -(-8 // w), axis=1)[:, :8]
                w = 8
            img = img[: h - h % 8, : w - w % 8]
            img = img.reshape(8, h // 8, 8, w // 8).mean(axis=(1, 3))
        flat = img.ravel()
        return (np.packbits(flat > flat.mean()).tobytes().hex(),)

    return _map_assets(assets, AHASH_SCHEMA, ahash)


# --------------------------------------------------------------------------
# Audio: WAV payloads — fabricate, parse, frame features. Every kernel
# decodes with functions/wav.decode_wav and every fabricator encodes with
# functions/wav.encode_wav; the kernels below do only their own math.
# --------------------------------------------------------------------------

WAV_SAMPLE_RATE = 16_000
WAV_FRAME = 16  # samples per analysis frame


def _wav(envelope, kernel):
    """A :func:`_map_assets` kernel that first decodes the payload within
    ``envelope`` (functions/wav.py), then calls
    ``kernel(sample_rate, samples, *other_inputs)``."""
    return lambda payload, *rest: kernel(*decode_wav(payload, envelope), *rest)


def _wav_assets(
    emb: DataFrame, id_col: str, samples: Column, fmt: str, channels: int = 1
) -> DataFrame:
    """(asset_id, payload) rows: each row's ``samples`` array, interleaved
    over ``channels``, packed by ``encode_wav``."""
    return _fabricate(
        emb,
        id_col,
        samples,
        lambda s: encode_wav(np.reshape(s, (-1, channels)), WAV_SAMPLE_RATE, fmt),
    )


def _frames(s: np.ndarray, frame: int) -> np.ndarray:
    """(n, ch) samples -> (n_frames, frame, ch) whole frames; trailing
    samples short of a full frame drop (documented)."""
    n_frames = len(s) // frame
    return s[: n_frames * frame].reshape(n_frames, frame, s.shape[1])


def _frame_energy(s: np.ndarray, frame: int) -> np.ndarray:
    """Exact integer Σs² per (frame, channel), int64-accumulated."""
    w = _frames(s, frame)
    return (w * w).sum(axis=1)


def embeddings_as_wav_assets(emb: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Fabricate REAL RIFF/WAVE PCM16 payloads from embeddings: each
    vector's 64 floats quantize to int16 samples (floor(x*32767+0.5),
    clamped — exact IEEE ops, so an oracle can replay the samples from
    the embedding directly), wrapped in a byte-correct 44-byte WAV
    header. The audio twin of ``embeddings_as_png_assets``: the payload
    is genuine (any WAV reader opens it) but fully determined by the
    row, so the decode side is value-hashable cross-engine."""
    return _wav_assets(emb, id_col, _quantized(vec_col, 32767.0), "pcm16")


WAV_ENERGY_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_samples", IntegerType(), True),
        StructField("frame_idx", IntegerType(), True),
        StructField("energy", LongType(), True),
    ]
)


def wav_frame_energy(assets: DataFrame, frame: int = WAV_FRAME) -> DataFrame:
    """REAL WAV decode + per-frame energy: parse the RIFF/fmt/data
    chunks (header fields validated, not assumed), reinterpret the PCM16
    payload, and emit one row per ``frame``-sample frame with the exact
    integer energy Σs² — the standard VAD/loudness front-end feature.
    Arrow-batched mapInPandas, the same 100 TB plan shape as the image
    decode path: binary column in, skinny typed rows out, no driver.

    Non-WAV payloads raise (fail loud — ADVICE r2 envelope discipline);
    trailing samples short of a full frame are dropped (documented)."""

    def energy(sr, s):
        e = _frame_energy(s, frame)[:, 0]
        return sr, len(s), np.arange(len(e)), e

    return _map_assets(assets, WAV_ENERGY_SCHEMA, _wav(PCM16_MONO, energy))


WAV_FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("frame_idx", IntegerType(), True),
        StructField("energy", LongType(), True),
        StructField("zcr", IntegerType(), True),
        StructField("peak", IntegerType(), True),
    ]
)


def wav_frame_features(assets: DataFrame, frame: int = WAV_FRAME) -> DataFrame:
    """REAL WAV decode + per-frame acoustic front-end features: the
    PCM16-mono envelope of :func:`wav_frame_energy` (decode_wav), emitting
    per frame

    * ``energy`` — exact integer Σs²,
    * ``zcr``    — zero crossings: adjacent within-frame pairs whose signs
      differ, with sign(s) := (s < 0) so 0 counts as nonnegative (the
      convention an oracle can replay with a single comparison),
    * ``peak``   — max |s| (int16 ⇒ ≤ 32768).

    Energy+ZCR is the classic two-feature voice-activity detector
    (high-energy/low-ZCR ≈ voiced, low-energy/high-ZCR ≈ fricative or
    noise). Same 100 TB shape: map-side Arrow decode, skinny integer
    rows out, zero shuffles, no driver.

    Non-WAV payloads raise; trailing samples short of a frame drop
    (same documented envelope as :func:`wav_frame_energy`)."""

    def features(sr, s):
        w = _frames(s, frame)[..., 0]
        neg = w < 0
        zcr = (neg[:, :-1] != neg[:, 1:]).sum(axis=1)
        return np.arange(len(w)), (w * w).sum(axis=1), zcr, np.abs(w).max(axis=1)

    return _map_assets(assets, WAV_FEATURES_SCHEMA, _wav(PCM16_MONO, features))


# --------------------------------------------------------------------------
# Audio, widened envelope (round 4): stereo + 24-bit PCM
# --------------------------------------------------------------------------

INT24_FULL_SCALE = 8_388_607  # 2^23 - 1, symmetric clamp like int16's 32767


def embeddings_as_wav_stereo24_assets(emb: DataFrame, id_col: str = "vec_id",
                                      vec_col: str = "embedding") -> DataFrame:
    """Fabricate REAL RIFF/WAVE **stereo 24-bit** PCM payloads from
    embeddings: dimension ``i`` (1-based) becomes channel ``(i-1) % 2``
    sample ``(i-1) // 2`` — 32 samples per channel — quantized
    ``floor(clamp(x)*8388607 + 0.5)`` (exact IEEE ops, replayable from
    the embedding by an oracle), packed as interleaved little-endian
    3-byte two's-complement frames (block align 6). Any WAV reader that
    supports 24-bit PCM opens the result."""
    # already channel-interleaved: index order IS (sample, channel)
    return _wav_assets(
        emb, id_col, _quantized(vec_col, float(INT24_FULL_SCALE)), "pcm24", channels=2
    )


WAV_PCM_ENERGY_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("channel", IntegerType(), True),
        StructField("n_samples", IntegerType(), True),
        StructField("frame_idx", IntegerType(), True),
        StructField("energy", LongType(), True),
    ]
)


def wav_pcm_frame_energy(assets: DataFrame, frame: int = WAV_FRAME) -> DataFrame:
    """Generalized REAL WAV decode + per-channel per-frame exact integer
    energy Σs²: the widened PCM envelope of decode_wav, **bits ∈ {16, 24}
    × channels ∈ {1, 2}** (24-bit samples are 3-byte little-endian two's
    complement, sign-extended exactly; stereo de-interleaves by block
    align before framing). ``n_samples`` is per channel; frames are per
    channel.

    Envelope discipline (ADVICE r2): anything outside raises —
    non-RIFF/missing chunks ``ValueError``, non-PCM fmt / other
    bit-depths / more channels ``NotImplementedError``, and a data chunk
    not divisible by block align ``ValueError`` (truncated payload) —
    never wrong numbers. Trailing samples short of a full frame drop
    (documented, same as the mono16 kernel).

    Scale: map-side Arrow decode, skinny integer rows out, zero
    shuffles; at 100 TB only frames-per-asset grows."""

    def energy(sr, s):
        e = _frame_energy(s, frame).T  # (channel, frame)
        ch, f = np.indices(e.shape)
        return sr, ch.ravel(), len(s), f.ravel(), e.ravel()

    return _map_assets(assets, WAV_PCM_ENERGY_SCHEMA, _wav(PCM_16_24, energy))


def embeddings_as_wav_float32_assets(emb: DataFrame, id_col: str = "vec_id",
                                     vec_col: str = "embedding") -> DataFrame:
    """Fabricate REAL RIFF/WAVE **IEEE float32** (format code 3) mono
    payloads: the embedding values ARE the samples, bit-for-bit (the
    parquet column is already float32), packed little-endian with the
    fmt-3 header any DAW/loader recognizes. The zero-quantization-loss
    member of the WAV family: the decode side recovers the exact stored
    floats, so oracles replay samples straight from the column."""
    return _wav_assets(emb, id_col, F.col(vec_col), "float32")


WAV_F32_ENERGY_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_samples", IntegerType(), True),
        StructField("frame_idx", IntegerType(), True),
        StructField("energy_q", LongType(), True),
    ]
)


def wav_float32_frame_energy(assets: DataFrame, frame: int = WAV_FRAME) -> DataFrame:
    """REAL IEEE-float32 WAV decode (format code 3) + per-frame energy on
    the exact integer grid: each recovered float32 sample quantizes to
    ``floor(float64(v) * 1e6 + 0.5)`` (float32→float64 is exact; the
    scale and floor are single correctly-rounded IEEE ops, so any engine
    replays it from the source column), and the frame energy is the
    exact BIGINT Σq² — float samples, integer hashes.

    Envelope: fmt 3 requires bits=32 and mono here; everything else
    raises (fmt-1 PCM belongs to :func:`wav_pcm_frame_energy`). A data
    chunk not divisible by 4 raises (truncated payload)."""

    def energy(sr, v):
        e = _frame_energy(np.floor(v * 1e6 + 0.5).astype(np.int64), frame)[:, 0]
        return sr, len(v), np.arange(len(e)), e

    return _map_assets(assets, WAV_F32_ENERGY_SCHEMA, _wav(FLOAT32_MONO, energy))


# --------------------------------------------------------------------------
# Video: fabricated RAWV containers — frame deltas for keyframe selection
# --------------------------------------------------------------------------

VIDEO_W, VIDEO_H, VIDEO_FRAMES = 4, 4, 4  # 16 px/frame x 4 frames = 64 samples


def embeddings_as_video_assets(emb: DataFrame, id_col: str = "vec_id",
                               vec_col: str = "embedding") -> DataFrame:
    """Fabricate raw-video payloads from embeddings: the 64 floats
    quantize to int16 exactly like the WAV path and are laid out as 4
    frames of 4x4 int16 'pixels' behind a 12-byte RAWV header
    (magic, w, h, n_frames). The video twin of
    :func:`embeddings_as_wav_assets`: a byte-real container whose every
    pixel an oracle can replay from the embedding column."""
    hdr = b"RAWV" + struct.pack("<HHI", VIDEO_W, VIDEO_H, VIDEO_FRAMES)
    return _fabricate(
        emb, id_col, _quantized(vec_col, 32767.0), lambda s: hdr + s.astype("<i2").tobytes()
    )


VIDEO_DELTA_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("frame_idx", IntegerType(), True),
        StructField("l1_delta", LongType(), True),
    ]
)


def video_frame_deltas(assets: DataFrame) -> DataFrame:
    """REAL container parse + frame differencing: validate the RAWV
    header, reinterpret the int16 pixel planes, and emit per frame f>=1
    the exact integer L1 delta Σ|px_f − px_{f−1}| against the previous
    frame — the scene-change signal shot-boundary/keyframe selection
    thresholds on. Arrow-batched mapInPandas; same 100 TB shape as the
    image/audio decode paths (map-side, skinny integer rows, no
    driver). Non-RAWV payloads raise (fail-loud envelope)."""

    def deltas(raw):
        if len(raw) < 12 or raw[:4] != b"RAWV":
            raise ValueError("not a RAWV payload")
        w, h, n = struct.unpack("<HHI", raw[4:12])
        if len(raw) - 12 != 2 * w * h * n:
            raise ValueError("truncated RAWV body")
        frames = np.frombuffer(raw, dtype="<i2", offset=12).astype(np.int64)
        return np.arange(1, n), np.abs(np.diff(frames.reshape(n, w * h), axis=0)).sum(axis=1)

    return _map_assets(assets, VIDEO_DELTA_SCHEMA, deltas)


# --------------------------------------------------------------------------
# Image analysis: Sobel edge energy over REAL decoded PNG pixels
# --------------------------------------------------------------------------

SOBEL_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("edge_energy", LongType(), True),
        StructField("edge_max", LongType(), True),
    ]
)


def image_sobel_energy(assets: DataFrame) -> DataFrame:
    """REAL PNG decode + Sobel gradient energy: parse the payload with the
    stdlib codec, convolve the grayscale grid with the 3x3 Sobel kernels,
    and emit the exact integer L1 gradient energy Σ(|gx|+|gy|) over the
    interior plus the max per-pixel gradient — the sharpness/blur signal
    an image-quality filter thresholds on before training ingestion.
    All-integer arithmetic (pixels are uint8, kernels are {-2..2}), so the
    output is value-hashable cross-engine against an oracle that replays
    the same convolution from the fabricated pixel grid.

    Scale shape: identical to decode_image_meta — parquet binary column →
    Arrow batches → per-asset numpy kernel → skinny typed rows; map-side
    only, no shuffle, no driver."""

    def sobel(payload):
        w, h, a = _gray_png("sobel", payload)
        # interior gradients via shifted slices (no scipy needed)
        gx = (
            -a[:-2, :-2] + a[:-2, 2:]
            - 2 * a[1:-1, :-2] + 2 * a[1:-1, 2:]
            - a[2:, :-2] + a[2:, 2:]
        )
        gy = (
            -a[:-2, :-2] - 2 * a[:-2, 1:-1] - a[:-2, 2:]
            + a[2:, :-2] + 2 * a[2:, 1:-1] + a[2:, 2:]
        )
        g = np.abs(gx) + np.abs(gy)
        return w, h, int(g.sum()), int(g.max()) if g.size else 0

    return _map_assets(assets, SOBEL_SCHEMA, sobel)


# --------------------------------------------------------------------------
# Audio analysis: exact quadrature (fs/4 DFT bin) energy over REAL WAV PCM
# --------------------------------------------------------------------------

QUADRATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("n_samples", IntegerType(), True),
        StructField("re_q", LongType(), True),
        StructField("im_q", LongType(), True),
        StructField("power_q", LongType(), True),
        StructField("energy", LongType(), True),
    ]
)


def wav_quadrature_energy(assets: DataFrame) -> DataFrame:
    """REAL WAV decode + single-bin DFT at k = N/4 (center frequency
    fs/4): because cos(πn/2) and sin(πn/2) take only values {1, 0, −1},
    the bin's real/imag parts are EXACT integer quadrature sums over the
    PCM samples — re = Σ s[4j] − s[4j+2], im = Σ s[4j+3] − s[4j+1] — and
    the bin power re²+im² plus the total energy Σs² are exact BIGINTs.
    This is the integer-arithmetic core of tone detection / narrowband
    energy monitoring (a Goertzel bin at a right-angle frequency), done
    without a single float so the oracle can replay it from the
    fabricated samples bit-for-bit.

    Scale shape: decode_wav (PCM16 mono) + numpy strided slices inside
    Arrow batches; map-side, one skinny row per asset, no shuffle."""

    def bin_power(sr, s):
        s = s[:, 0]
        re = int(s[0::4].sum() - s[2::4].sum())
        im = int(s[3::4].sum() - s[1::4].sum())
        return len(s), re, im, re * re + im * im, (s * s).sum()

    return _map_assets(assets, QUADRATURE_SCHEMA, _wav(PCM16_MONO, bin_power))


# --------------------------------------------------------------------------
# Image preprocessing: histogram equalization over REAL decoded PNG pixels
# --------------------------------------------------------------------------

HISTEQ_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("n_px", IntegerType(), True),
        StructField("n_buckets_used", IntegerType(), True),
        StructField("eq_sum", LongType(), True),
        StructField("eq_wsum", LongType(), True),
    ]
)

_HISTEQ_BUCKETS = 16


def image_hist_equalization(assets: DataFrame) -> DataFrame:
    """REAL PNG decode + histogram equalization: bucket the grayscale
    pixels into 16 levels, build the per-image CDF, and remap each pixel
    with the classic transfer function
    ``map(v) = round((cdf(v) − cdf_min) · 15 / (N − cdf_min))`` (half-up
    integer; 0 for a flat image where N = cdf_min) — the standard
    contrast-normalization preprocessing step. Output is the equalized
    image's exact integer sum and POSITION-WEIGHTED checksum
    Σ map(px_k)·(k+1), so a remap that permutes pixels or mis-assigns one
    bucket breaks the hash.

    Scale shape: per-asset Arrow kernel (mapInPandas) over the binary
    scan — map-side only, one skinny row per asset, no shuffle."""

    def histeq(payload):
        bucket = _gray_png("histeq", payload)[2].reshape(-1) >> 4  # 256 levels -> 16
        hist = np.bincount(bucket, minlength=_HISTEQ_BUCKETS)
        cdf = np.cumsum(hist)
        nonzero = np.nonzero(hist)[0]
        cdf_min = int(cdf[nonzero[0]]) if len(nonzero) else 0
        den = len(bucket) - cdf_min
        if den == 0:
            mapped = np.zeros(_HISTEQ_BUCKETS, dtype=np.int64)
        else:
            num = (cdf - cdf_min) * (_HISTEQ_BUCKETS - 1)
            mapped = (num + den // 2) // den  # half-up, num >= 0
        eq = mapped[bucket]
        return len(bucket), len(nonzero), int(eq.sum()), _wsum(eq)

    return _map_assets(assets, HISTEQ_SCHEMA, histeq)


# --------------------------------------------------------------------------
# Audio analysis: integer autocorrelation at dyadic lags (periodicity)
# --------------------------------------------------------------------------

AUTOCORR_LAGS = (1, 2, 4, 8, 16)

AUTOCORR_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("lag", IntegerType(), True),
        StructField("acf_raw", LongType(), True),
        StructField("energy", LongType(), True),
        StructField("is_dominant", BooleanType(), True),
    ]
)


def wav_autocorrelation(assets: DataFrame) -> DataFrame:
    """REAL WAV decode + unnormalized autocorrelation Σ s[n]·s[n−L] at
    the dyadic lags (1, 2, 4, 8, 16) — the integer core of
    autocorrelation pitch/periodicity detection: a waveform with period
    P spikes at lags near P. One row per (asset, lag) with the exact
    integer ACF value, the zero-lag energy, and a dominant-lag flag
    (max ACF, smallest-lag tie-break). All-integer, replayable by a SQL
    oracle from the fabricated samples.

    Scale shape: decode_wav (PCM16 mono) + numpy shifted dot products
    inside Arrow batches; map-side, |lags| skinny rows per asset, no
    shuffle."""

    def acf(sr, s):
        s = s[:, 0]
        v = np.array([(s[lag:] * s[:-lag]).sum() for lag in AUTOCORR_LAGS])
        # lags ascend, so argmax's first maximum is the smallest-lag tie-break
        return AUTOCORR_LAGS, v, (s * s).sum(), np.arange(len(v)) == v.argmax()

    return _map_assets(assets, AUTOCORR_SCHEMA, _wav(PCM16_MONO, acf))


# --------------------------------------------------------------------------
# Image resize: exact 2x box downscale over real PNG bytes
# --------------------------------------------------------------------------

DOWNSCALE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("out_w", IntegerType(), True),
        StructField("out_h", IntegerType(), True),
        StructField("ds_sum", LongType(), True),
        StructField("ds_wsum", LongType(), True),
    ]
)


def image_downscale2(assets: DataFrame) -> DataFrame:
    """REAL PNG decode + exact 2x box-filter downscale: each output pixel
    is the half-up integer mean of its 2x2 source block,
    ``(a+b+c+d+2) // 4`` — the resize primitive of a vision-data
    ingestion pipeline, in the integer form a SQL oracle replays
    bit-for-bit. Output is the downscaled image's exact sum and
    POSITION-WEIGHTED checksum (row-major), so a transposed, shifted, or
    mis-averaged block breaks the hash. Odd dimensions are out of the
    tested envelope and raise rather than guess.

    Scale shape: per-asset Arrow kernel (mapInPandas) over the binary
    scan — map-side only, one skinny row per asset, no shuffle."""

    def downscale(payload):
        w, h, img = _gray_png("downscale2", payload)
        if w % 2 or h % 2:
            raise NotImplementedError("downscale2: even dimensions only")
        blk = img[0::2, 0::2] + img[0::2, 1::2] + img[1::2, 0::2] + img[1::2, 1::2]
        flat = ((blk + 2) // 4).reshape(-1)  # half-up, operands nonnegative
        return w // 2, h // 2, int(flat.sum()), _wsum(flat)

    return _map_assets(assets, DOWNSCALE_SCHEMA, downscale)


# --------------------------------------------------------------------------
# mu-law (G.711) WAV: fabrication (encode) + real decode kernel
# --------------------------------------------------------------------------

def embeddings_as_ulaw_wav_assets(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Fabricate REAL RIFF/WAVE G.711 mu-law payloads from embeddings:
    the 64 floats quantize to int16 exactly as the PCM16 twin
    (``embeddings_as_wav_assets``), then mu-law COMPRESS to one byte per
    sample (sign | exponent<<4 | mantissa, complemented — the classic
    telephony companding): m = min(|s|,32635)+132, e = msb(m)-7,
    mant = (m >> (e+3)) & 15. Container: fmt code 7, 8 bits, mono.
    Integer-only companding, so an oracle can replay the decoded
    samples from the embedding column directly."""
    return _wav_assets(emb, id_col, _quantized(vec_col, 32767.0), "ulaw")


ULAW_ROUNDTRIP_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("frame_idx", IntegerType(), True),
        StructField("energy", LongType(), True),
        StructField("err_energy", LongType(), True),
    ]
)


def wav_ulaw_roundtrip_energy(
    assets: DataFrame, originals: DataFrame, frame: int = WAV_FRAME
) -> DataFrame:
    """REAL mu-law decode + lossy-roundtrip audit: parse the RIFF
    container (fmt code 7, 8-bit mono enforced — anything else raises),
    EXPAND each companded byte back to int16 via the G.711 formula
    (dec = sign * (((mant<<3)+132)<<e - 132)), and emit per-frame the
    decoded energy AND the exact quantization-error energy against the
    original int16 samples (joined in by asset_id) — the codec's SNR
    numerator/denominator as exact integers.

    ``originals``: (asset_id, s16 array<int>) — the pre-companding
    samples, carried alongside so the error is exact, not estimated."""

    def roundtrip(sr, dec, orig):
        o = np.asarray(orig, dtype=np.int64).reshape(-1, 1)
        if len(o) != len(dec):
            raise ValueError("sample count mismatch")
        err = o - dec
        e = _frame_energy(dec, frame)[:, 0]
        return np.arange(len(e)), e, _frame_energy(err, frame)[:, 0]

    joined = assets.join(originals, "asset_id")
    return _map_assets(
        joined, ULAW_ROUNDTRIP_SCHEMA, _wav(ULAW_MONO, roundtrip), ("payload", "s16")
    )
