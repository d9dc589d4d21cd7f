"""Bit-identity tests for the round-10 Arrow-boundary kernels
(functions/arrowdist.py): the mapInArrow numpy folds must reproduce the
JVM ``F.aggregate`` fold doubles EXACTLY (same left-to-right rounding,
same strict-< tie-breaks), and the first-row rider must reach every
partition's task."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.arrowdist import (
    first_row_rider,
    lloyd_argmin_batches,
    pack_rows,
    pairwise_cosine_batches,
)

_DIM = 64


def _rng():
    return np.random.default_rng(20260818)


def test_lloyd_argmin_matches_jvm_fold_argmin(spark):
    """The numpy argmin must equal the round-3 JVM form (crossJoin +
    fold dist + MIN(STRUCT(d, cluster))) row for row — including on
    engineered exact ties, where both must pick the lowest cluster id."""
    rng = _rng()
    n, k = 200, 5
    V = rng.integers(-(1 << 20), 1 << 20, size=(n, _DIM), dtype=np.int64)
    S = rng.integers(-(1 << 24), 1 << 24, size=(k, _DIM), dtype=np.int64)
    N = np.array([1, 3, 7, 3, 7], dtype=np.int64)
    # clusters 3/4 duplicate 1/2 exactly -> every row ties across the
    # pair; the lower cluster id must win on both engines
    S[3], N[3] = S[1], N[1]
    S[4], N[4] = S[2], N[2]

    q = spark.createDataFrame(
        [(int(i), [int(x) for x in V[i]]) for i in range(n)], "vec_id long, v array<long>"
    ).repartition(7)
    cents = spark.createDataFrame(
        [(int(j), [int(x) for x in S[j]], int(N[j])) for j in range(k)],
        "cluster long, s array<long>, n long",
    )

    def term(i):
        d = (F.col("n") * F.element_at("v", i) - F.element_at("s", i)).cast("double")
        return d * d

    fold = F.aggregate(
        F.sequence(F.lit(1), F.lit(_DIM)), F.lit(0.0), lambda acc, i: acc + term(i)
    )
    dist = fold / (F.col("n") * F.col("n")).cast("double")
    jvm = {
        r["vec_id"]: r["best"]["cluster"]
        for r in q.crossJoin(F.broadcast(cents))
        .groupBy("vec_id")
        .agg(F.min(F.struct(dist.alias("d"), F.col("cluster").alias("cluster"))).alias("best"))
        .collect()
    }

    packed = pack_rows(cents, "cluster", "s", "n", alias="_cents")
    arrow = {
        r["vec_id"]: r["cluster"]
        for r in q.crossJoin(F.broadcast(packed))
        .select("vec_id", "v", first_row_rider("_cents").alias("_cents"))
        .mapInArrow(
            lloyd_argmin_batches,
            schema="vec_id bigint, v array<bigint>, cluster bigint",
        )
        .collect()
    }
    assert arrow == jvm
    # the engineered ties really exercised the tie-break: the duplicated
    # high clusters must never be chosen
    assert set(arrow.values()) <= {0, 1, 2}


def test_pairwise_cosine_bits_match_jvm_fold(spark):
    """sim doubles from the numpy kernel must be bit-identical to the
    zip_with+aggregate JVM fold divided by JVM-sqrt norms."""
    from multithreaded_map_reduce_library_spark.functions.vectors import dot, l2_norm

    rng = _rng()
    nt, nq = 150, 9
    T = (rng.random((nt, _DIM), dtype=np.float32) * 2 - 1).astype(np.float32)
    Q = (rng.random((nq, _DIM), dtype=np.float32) * 2 - 1).astype(np.float32)

    tdf = spark.createDataFrame(
        [(int(i), [float(x) for x in T[i]], int(i % 3)) for i in range(nt)],
        "n_id long, nv array<float>, n_lbl int",
    ).repartition(5)
    qdf = spark.createDataFrame(
        [(int(j), [float(x) for x in Q[j]], int(j % 3)) for j in range(nq)],
        "q_id long, qv array<float>, q_lbl int",
    )

    jvm = {
        (r["q_id"], r["n_id"]): (r["m"], r["sim"])
        for r in tdf.crossJoin(F.broadcast(qdf.withColumn("q_norm", l2_norm("qv"))))
        .select(
            "q_id",
            "n_id",
            F.when(F.col("n_lbl") == F.col("q_lbl"), 1).otherwise(0).alias("m"),
            (dot("qv", "nv") / (F.col("q_norm") * l2_norm("nv"))).alias("sim"),
        )
        .collect()
    }

    packed = pack_rows(qdf, "q_id", "qv", "q_lbl", alias="_q")
    arrow = {
        (r["q_id"], r["n_id"]): (r["m"], r["sim"])
        for r in tdf.crossJoin(F.broadcast(packed))
        .select("n_id", "nv", "n_lbl", first_row_rider("_q").alias("_q"))
        .mapInArrow(
            pairwise_cosine_batches,
            schema="q_id bigint, n_id bigint, m int, sim double",
        )
        .collect()
    }
    assert set(arrow) == set(jvm)
    for key, (m, sim) in arrow.items():
        jm, jsim = jvm[key]
        assert m == jm
        assert sim == jsim and repr(sim) == repr(jsim), (key, sim, jsim)


def test_rider_reaches_every_partition_and_batch_boundaries():
    """Direct worker-level check: a multi-batch iterator where only the
    FIRST batch's first row carries the rider decodes every batch; a
    missing rider raises the diagnostic error."""
    rng = _rng()
    k = 3
    S = rng.integers(-(1 << 22), 1 << 22, size=(k, _DIM), dtype=np.int64)
    N = np.array([2, 5, 9], dtype=np.int64)
    cents = [
        {"cluster": j, "s": [int(x) for x in S[j]], "n": int(N[j])} for j in range(k)
    ]
    rider_type = pa.list_(
        pa.struct(
            [("cluster", pa.int64()), ("s", pa.list_(pa.int64())), ("n", pa.int64())]
        )
    )

    def batch(vids, rider_first):
        nrows = len(vids)
        V = rng.integers(-(1 << 20), 1 << 20, size=(nrows, _DIM), dtype=np.int64)
        rider = [cents if (rider_first and i == 0) else None for i in range(nrows)]
        return pa.RecordBatch.from_arrays(
            [
                pa.array(vids, type=pa.int64()),
                pa.array([[int(x) for x in row] for row in V], type=pa.list_(pa.int64())),
                pa.array(rider, type=rider_type),
            ],
            names=["vec_id", "v", "_cents"],
        )

    out = list(lloyd_argmin_batches(iter([batch([1, 2, 3], True), batch([4, 5], False)])))
    assert [b.num_rows for b in out] == [3, 2]
    for b in out:
        assert set(b.column(2).to_pylist()) <= {0, 1, 2}

    import pytest

    with pytest.raises(ValueError, match="first-row rider"):
        list(lloyd_argmin_batches(iter([batch([1, 2], False)])))


def _cosine_batch(nv_rows, rider):
    """One pairwise_cosine_batches input batch whose first row carries
    ``rider`` (the query set)."""
    q_type = pa.struct(
        [("q_id", pa.int64()), ("qv", pa.list_(pa.float32())), ("q_lbl", pa.int32())]
    )
    n = len(nv_rows)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(range(n), type=pa.int64()),
            pa.array(nv_rows, type=pa.list_(pa.float32())),
            pa.array([0] * n, type=pa.int32()),
            pa.array([rider] + [None] * (n - 1), type=pa.list_(q_type)),
        ],
        names=["n_id", "nv", "n_lbl", "_q"],
    )


def _lloyd_batch(v_rows, cents):
    """One lloyd_argmin_batches input batch whose first row carries
    ``cents`` (the centroids)."""
    c_type = pa.struct(
        [("cluster", pa.int64()), ("s", pa.list_(pa.int64())), ("n", pa.int64())]
    )
    n = len(v_rows)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(range(n), type=pa.int64()),
            pa.array(v_rows, type=pa.list_(pa.int64())),
            pa.array([cents] + [None] * (n - 1), type=pa.list_(c_type)),
        ],
        names=["vec_id", "v", "_cents"],
    )


def test_ragged_vectors_raise_instead_of_misaligning():
    """Rows of width 2 and 4 hold 6 elements, which reshape evenly to
    (2, 3): the kernels must refuse the batch, not fold shifted rows."""
    import pytest

    cents = [{"cluster": 0, "s": [0, 0, 0], "n": 1}]
    with pytest.raises(ValueError, match="ragged"):
        list(lloyd_argmin_batches(iter([_lloyd_batch([[1, 2], [3, 4, 5, 6]], cents)])))
    query = [{"q_id": 0, "qv": [1.0, 0.0, 0.0], "q_lbl": 0}]
    with pytest.raises(ValueError, match="ragged"):
        list(
            pairwise_cosine_batches(
                iter([_cosine_batch([[1.0, 2.0], [3.0, 4.0, 5.0, 6.0]], query)])
            )
        )
    # equal widths still decode: the check rejects only ragged rows
    out = list(lloyd_argmin_batches(iter([_lloyd_batch([[1, 2, 3], [4, 5, 6]], cents)])))
    assert out[0].column(2).to_pylist() == [0, 0]


def test_empty_rider_raises():
    """An empty bounded side (no centroids / no queries) has no right
    answer, so both kernels raise a clear error instead of failing
    inside numpy or pyarrow."""
    import pytest

    with pytest.raises(ValueError, match="empty rider"):
        list(lloyd_argmin_batches(iter([_lloyd_batch([[1, 2], [3, 4]], [])])))
    with pytest.raises(ValueError, match="empty rider"):
        list(pairwise_cosine_batches(iter([_cosine_batch([[1.0, 2.0], [3.0, 4.0]], [])])))
