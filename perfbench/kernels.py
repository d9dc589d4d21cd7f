"""Direct calls into the engine's ``functions`` kernels, without Spark, on
seeded inputs: the per-layer rates the traced run reports for the JPEG
decoder, the two Arrow vector kernels and the DJB2 partitioner.
"""

from __future__ import annotations

import random
import time

import numpy as np

#: embedding width of the committed ``embeddings`` table
DIM = 64


def _rate(units: float, fn, reps: int) -> float:
    fn()  # first call outside the clock: imports, caches
    t0 = time.perf_counter()
    for _ in range(reps):
        fn()
    return units * reps / (time.perf_counter() - t0)


def _image(rng: np.random.Generator, h: int, w: int) -> np.ndarray:
    """Smooth gradient plus noise: compresses like a photo, not like noise."""
    y, x = np.mgrid[0:h, 0:w]
    base = np.stack([x * 255 // w, y * 255 // h, (x + y) * 255 // (h + w)], axis=-1)
    return np.clip(base + rng.integers(-24, 25, size=(h, w, 3)), 0, 255).astype(np.uint8)


def jpeg_decode_mb_per_s(seed: int, reps: int = 3) -> float:
    """Decoded megapixel-bytes per second of ``decode_jpeg`` over one
    baseline, one multi-scan and one progressive encode of seeded images."""
    from multithreaded_map_reduce_library_spark.functions import jpeg

    rng = np.random.default_rng(seed)
    encodes = [
        jpeg.encode_jpeg_rgb(_image(rng, 96, 128)),
        jpeg.encode_jpeg_rgb_multiscan(_image(rng, 96, 128)),
        jpeg.encode_jpeg_rgb_progressive(_image(rng, 96, 128)),
    ]
    mb = 3 * 96 * 128 * 3 / 1e6

    def run():
        for data in encodes:
            jpeg.decode_jpeg(data)

    return _rate(mb, run, reps)


def _list_array(values: np.ndarray, value_type):
    import pyarrow as pa

    n, d = values.shape
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(values.ravel(), type=value_type))


def _with_rider(rider_rows: list[dict], n: int, struct_type):
    """The first-row rider column: the whole bounded side on row 0, NULL
    on every other row."""
    import pyarrow as pa

    return pa.array([rider_rows] + [None] * (n - 1), type=pa.list_(struct_type))


def cosine_rows_per_s(seed: int, rows: int = 4096, queries: int = 16, reps: int = 5) -> float:
    """Input rows per second through ``pairwise_cosine_batches``."""
    import pyarrow as pa

    from multithreaded_map_reduce_library_spark.functions.arrowdist import pairwise_cosine_batches

    rng = np.random.default_rng(seed)
    nv = rng.standard_normal((rows, DIM)).astype(np.float32)
    qv = rng.standard_normal((queries, DIM)).astype(np.float32)
    qtype = pa.struct([("q_id", pa.int64()), ("qv", pa.list_(pa.float32())), ("q_lbl", pa.int32())])
    rider = [{"q_id": i, "qv": qv[i].tolist(), "q_lbl": i % 4} for i in range(queries)]
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(np.arange(rows, dtype=np.int64)),
            _list_array(nv, pa.float32()),
            pa.array(rng.integers(0, 4, rows, dtype=np.int32)),
            _with_rider(rider, rows, qtype),
        ],
        names=["n_id", "nv", "n_lbl", "_q"],
    )
    return _rate(rows, lambda: list(pairwise_cosine_batches([batch])), reps)


def argmin_rows_per_s(seed: int, rows: int = 16384, clusters: int = 8, reps: int = 5) -> float:
    """Input rows per second through ``lloyd_argmin_batches``."""
    import pyarrow as pa

    from multithreaded_map_reduce_library_spark.functions.arrowdist import lloyd_argmin_batches

    rng = np.random.default_rng(seed)
    v = rng.integers(-1000, 1000, size=(rows, DIM), dtype=np.int64)
    ctype = pa.struct([("cluster", pa.int64()), ("s", pa.list_(pa.int64())), ("n", pa.int64())])
    rider = [
        {"cluster": c, "s": rng.integers(-50_000, 50_000, DIM).tolist(), "n": 50}
        for c in range(clusters)
    ]
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(np.arange(rows, dtype=np.int64)),
            _list_array(v, pa.int64()),
            _with_rider(rider, rows, ctype),
        ],
        names=["vec_id", "v", "_cents"],
    )
    return _rate(rows, lambda: list(lloyd_argmin_batches([batch])), reps)


def djb2_keys_per_s(seed: int, keys: int = 50_000, partitions: int = 10, reps: int = 3) -> float:
    """Keys per second through the Python-form ``djb2`` partitioner."""
    import string

    from multithreaded_map_reduce_library_spark.functions.hashing import djb2

    rng = random.Random(seed)
    ks = ["".join(rng.choices(string.ascii_lowercase, k=rng.randint(3, 10))) for _ in range(keys)]

    def run():
        for k in ks:
            djb2(k, partitions)

    return _rate(keys, run, reps)
