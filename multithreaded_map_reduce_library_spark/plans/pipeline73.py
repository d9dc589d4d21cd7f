"""Pipeline batch 73: palette-PNG roundtrip — oracle-hashes the round-3
decode-envelope widening (functions/png.py: color-type-3 / PLTE).

Same discipline as `multimodal_png_roundtrip` (8-bit gray): fabricate a
REAL palette PNG per embedding with exact IEEE index quantization, run
the genuine stdlib decoder (chunk walk, PLTE expansion, 4-bit MSB-first
unpacking), and emit integers the DuckDB oracle recomputes directly from
the embedding column — any codec bug breaks the value hash.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from multithreaded_map_reduce_library_spark.functions.png import decode_png, encode_png
from multithreaded_map_reduce_library_spark.operators.multimodal import (
    _fabricate,
    _gray_png,
    _map_assets,
    _quantized,
)
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_DIM = 64  # 8x8 image, one 4-bit palette index per embedding component
_PAL = [((i * 5) % 256, (i * 11) % 256, (i * 23) % 256) for i in range(16)]
#: palette index: floor(clamp(x,-1,1)*7 + 7.5) in [0, 14] — exact IEEE
#: (multiply, add, floor), replayable by DuckDB on the same doubles.
_IDX = (
    "CAST(FLOOR(LEAST(GREATEST(CAST(list_extract(embedding, i) AS DOUBLE), -1.0), 1.0)"
    " * 7.0 + 7.5) AS BIGINT)"
)

_PALETTE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("px_sum", LongType(), True),
    ]
)


@register(
    "multimodal_png_palette_roundtrip",
    oracle=f"""
        WITH s AS (
            SELECT vec_id AS asset_id, {_IDX} AS idx
            FROM embeddings CROSS JOIN generate_series(1, {_DIM}) AS t(i)
        )
        SELECT asset_id,
               CAST(8 AS INTEGER) AS width,
               CAST(8 AS INTEGER) AS height,
               CAST(3 AS INTEGER) AS channels,
               CAST(SUM((idx * 5) % 256 + (idx * 11) % 256 + (idx * 23) % 256)
                    AS BIGINT) AS px_sum
        FROM s GROUP BY asset_id
    """,
    tags=("multimodal", "png", "palette", "roundtrip", "mapInPandas"),
)
def multimodal_png_palette_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL palette-PNG roundtrip: each embedding quantizes to 64
    4-bit palette indices (8x8 image over a fixed 16-color PLTE),
    encodes to a genuine color-type-3 PNG (MSB-first bit packing), and
    the stdlib decoder parses it back — PLTE expansion included — to
    emit the decoded geometry and the exact integer sum of all RGB
    samples. The oracle recomputes every index and palette value from
    the embedding column, so the entire encode -> 4-bit unpack -> PLTE
    lookup path is value-hashed (round-3 envelope widening, VERDICT r2
    item 6 closed with a checked query, not just unit tests).

    Scale design: identical to the other decode paths — Arrow-batched
    encode and decode kernels over the binary column, one skinny row
    per asset, zero shuffles."""
    assets = _fabricate(
        load_table(spark, sf_dir, "embeddings"),
        "vec_id",
        _quantized("embedding", 7.0, 7.5),
        lambda s: encode_png(s.astype(np.uint8).reshape(8, 8), depth=4, palette=_PAL),
    )

    def px_sum(payload):
        w, h, c, arr = decode_png(payload)
        return w, h, c, int(arr.astype(np.int64).sum())

    return _map_assets(assets, _PALETTE_SCHEMA, px_sum)


#: 16-bit sample: floor(clamp(x,-1,1)*32767 + 32768) in [1, 65535] — the
#: same exact-IEEE quantization family as the WAV/palette paths.
_S16 = (
    "CAST(FLOOR(LEAST(GREATEST(CAST(list_extract(embedding, i) AS DOUBLE), -1.0), 1.0)"
    " * 32767.0 + 32768.0) AS BIGINT)"
)

_PNG16_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("px_sum", LongType(), True),
        StructField("px_max", LongType(), True),
    ]
)


@register(
    "multimodal_png16_roundtrip",
    oracle=f"""
        WITH s AS (
            SELECT vec_id AS asset_id, {_S16} AS v
            FROM embeddings CROSS JOIN generate_series(1, {_DIM}) AS t(i)
        )
        SELECT asset_id,
               CAST(8 AS INTEGER) AS width,
               CAST(8 AS INTEGER) AS height,
               CAST(SUM(v) AS BIGINT) AS px_sum,
               CAST(MAX(v) AS BIGINT) AS px_max
        FROM s GROUP BY asset_id
    """,
    tags=("multimodal", "png", "16bit", "roundtrip", "mapInPandas"),
)
def multimodal_png16_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit grayscale PNG roundtrip: embeddings quantize to 8x8
    uint16 images (full 16-bit dynamic range — both sample bytes
    exercised), encode to real depth-16 PNGs (big-endian samples per
    spec), and the stdlib decoder parses them back; the emitted exact
    pixel sum and max are recomputed by the oracle from the embedding
    column. Together with the gray-8 and palette roundtrips, every
    decode path of functions/png.py is value-hashed by a registered
    query.

    Scale design: same map-side Arrow encode/decode pair, one skinny
    row per asset, zero shuffles."""
    assets = _fabricate(
        load_table(spark, sf_dir, "embeddings"),
        "vec_id",
        _quantized("embedding", 32767.0, 32768.0),
        lambda s: encode_png(s.astype(np.uint16).reshape(8, 8), depth=16),
    )

    def px_sum_max(payload):
        w, h, a = _gray_png("png16", payload)
        return w, h, int(a.sum()), int(a.max())

    return _map_assets(assets, _PNG16_SCHEMA, px_sum_max)
