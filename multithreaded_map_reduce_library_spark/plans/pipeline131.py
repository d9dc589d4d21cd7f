"""Pipeline batch 131 (round 7): MULTI-SCAN SEQUENTIAL JPEG (§B.2.3) —
the last common crawl decode shape the envelope still raised on
(VERDICT r6 item 6). A spec-legal sequential (SOF0) stream may split its
components across several scans: each scan is full precision (Ss=0,
Se=63, Ah=Al=0) and either NON-interleaved (one component on its own
§A.2.2 block raster) or interleaved over a component SUBSET in MCU
order. functions/jpeg.py now decodes this natively (its one marker
walk, ``_walk``, which also decodes baseline and progressive streams:
per-scan block order via ``_scan_order``, coefficients accumulated per
component, one dequantize+IDCT at EOI, quant tables latched at each
component's first scan per ADVICE r6) and encodes it
(``encode_jpeg_rgb_multiscan``: Y alone non-interleaved, then Cb+Cr
interleaved — exercising BOTH scan shapes in one stream).

Reference parity anchor: the reference engine (mapreduce.h:44-83) has no
image tier; this extends the driver-mandated multimodal superset.

Scale design: identical plan shape to the baseline/progressive tiers —
scan → pandas-UDF encode → mapInPandas decode → tiny typed rows; pixels
never cross a shuffle; per-asset Arrow-batch work, embarrassingly
parallel at 100 TB. Decode cost is one Huffman walk per scan (2 here vs
1 baseline / 6 progressive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from multithreaded_map_reduce_library_spark.plans.pipeline129 import COLOR420_ORACLE
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table


@register(
    "multimodal_jpeg_multiscan_color420",
    # The multi-scan sequential stream carries EXACTLY the baseline
    # encoder's quantized coefficients (same _rgb_planes + the same one
    # quantize pass in _encode, just re-ordered across two SOS
    # segments), so the same closed-form color-chain oracle as the
    # baseline and progressive 4:2:0 roundtrips applies verbatim — any
    # cross-scan DC predictor, scan-order, component-subset MCU
    # geometry, or quant-latch bug breaks the hash.
    oracle=COLOR420_ORACLE,
    tags=(
        "multimodal",
        "image-decode",
        "jpeg",
        "multiscan-sequential",
        "chroma-subsampling",
        "mapInPandas",
    ),
    bench=True,
)
def multimodal_jpeg_multiscan_color420(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-SCAN SEQUENTIAL (§B.2.3) 4:2:0 roundtrip: the constant
    16×16-macroblock color fixtures encoded as a 2-scan SOF0 stream —
    scan 1 carries Y alone (non-interleaved, its own 8×8-per-MCU block
    raster), scan 2 carries Cb+Cr interleaved in MCU order — and decoded
    by the new sequential multi-scan path. Both scans are full
    precision, so the accumulated coefficients equal the single-scan
    encoding's exactly and the baseline closed-form color oracle pins
    the result: a wrong non-interleaved grid, a DC predictor leaking
    across scans, or a mis-latched quant table all change the hash."""
    from multithreaded_map_reduce_library_spark.operators.multimodal import (
        decode_image_meta,
        embeddings_as_jpeg420_assets,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return decode_image_meta(embeddings_as_jpeg420_assets(emb, multiscan=True))
