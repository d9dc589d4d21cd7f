"""Exact fold-ordered vector math at the Arrow boundary (guide §4.1/§4.2).

Round-9 measured (and reverted) the two pure-JVM alternatives for the
per-row nearest-centroid / all-pairs-cosine work:

- interpreted higher-order-function folds (``F.aggregate``) cost per
  element per row and grow linearly with the corpus (kmeans map-only
  argmin: 1.13-1.20x SLOWER at sf1);
- statically unrolled expression trees shift the cost into analysis/
  codegen (~3x on the warmed IVF query at sf0.1); that spelling is gone,
  and functions/vectors.py keeps only the fold.

This module is the third option the round-9 verdict asked for: hand whole
Arrow batches to numpy (C speed) via ``mapInArrow`` — no crossJoin row
expansion, no per-vector shuffle, no interpreted lambdas — while keeping
every double BIT-IDENTICAL to the JVM/DuckDB fold the oracles replay.

Bit-identity argument (shared by both workers below):

* Integer inputs cross Arrow as int64 — exact.
* ``n*v_i - s_i`` is computed in int64 (exact, |values| far below 2^63),
  then cast to float64 — exact while |d| < 2^53, which holds for every
  scale this repo ships (|v_i| <= 2^20, n and |s_i| bounded by corpus
  sums < 2^40).
* The squared-distance / dot-product folds accumulate LEFT TO RIGHT,
  one IEEE-754 multiply then one IEEE-754 add per element, exactly like
  ``F.aggregate(seq, 0.0, (acc, i) -> acc + t_i)`` and DuckDB's
  ``list_reduce`` — numpy is used as ``for i: acc += t[:, i]`` (one
  vectorized column at a time), NEVER ``np.sum``/``np.dot``/BLAS, whose
  pairwise/blocked reductions round differently.
* ``0.0 + t_0 == t_0`` (t_0 is a square or a product of finite doubles,
  never -0.0 added to change sign of a sum that matters), so seeding the
  accumulator with zeros matches the fold's ``F.lit(0.0)`` seed.
* ``sqrt``, division and comparison are single correctly-rounded IEEE
  ops — identical across numpy, the JVM and DuckDB.
* Argmin ties break to the LOWEST id: candidates are scanned in
  ascending id order and replaced only on strict ``<`` — exactly
  ``MIN(STRUCT(dist, id))`` lexicographic semantics.

Centroid / query-set transfer ("first-row rider", no driver collect):
the bounded side is aggregated to ONE row (``sort_array(collect_list(
struct(...)))``), broadcast, cross-joined onto the big side, and then
PROJECTED AWAY except on each partition's first row — detected with
``monotonically_increasing_id()``'s in-partition offset (low 33 bits
== 0). The Python task reads the rider once from row 0 of its first
batch, so the ~KB rider crosses Arrow once per task instead of once per
row, and the big side never shuffles. The rider expression is
nondeterministic (mid), which also pins the projection in place.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: monotonically_increasing_id() = (partition_id << 33) + offset_in_partition
_OFFSET_MASK = (1 << 33) - 1


def first_row_rider(rider: Column | str) -> Column:
    """``rider`` on each partition's first row, NULL elsewhere."""
    rider = F.col(rider) if isinstance(rider, str) else rider
    return F.when(
        F.monotonically_increasing_id().bitwiseAND(F.lit(_OFFSET_MASK)) == 0, rider
    )


def pack_rows(df: DataFrame, *cols: str, alias: str) -> DataFrame:
    """Aggregate a BOUNDED relation to one row holding a deterministic
    (struct-sorted) array of its rows — the broadcastable rider."""
    return df.agg(
        F.sort_array(F.collect_list(F.struct(*[F.col(c) for c in cols]))).alias(alias)
    )


def _rider_from_first_row(batch, name: str):
    idx = batch.schema.get_field_index(name)
    cell = batch.column(idx)[0]
    if not cell.is_valid:
        raise ValueError(
            f"first-row rider {name!r} missing: partition did not start at "
            "in-partition offset 0 (projection moved across a shuffle?)"
        )
    rider = cell.as_py()
    if not rider:
        # pack_rows over an empty bounded relation: no centroid / query
        # to compare against, so there is no right answer to return
        raise ValueError(f"empty rider {name!r}: the bounded side has no rows")
    return rider


def _list_col_to_ndarray(batch, name: str, dtype):
    """A list column as an (n_rows, width) array. Null or ragged rows
    raise: reshaping the flat values by (n_rows, -1) would otherwise
    silently shift elements across rows whenever their total still
    divides evenly (rows [1, 2], [3, 4, 5, 6] -> [[1, 2, 3], [4, 5, 6]])."""
    import numpy as np

    col = batch.column(batch.schema.get_field_index(name))
    lengths = np.diff(np.asarray(col.offsets))
    if col.null_count or np.any(lengths != lengths[:1]):
        raise ValueError(
            f"list column {name!r} has null or ragged rows "
            f"(lengths {sorted(set(lengths.tolist()))}); every row needs "
            "the same width"
        )
    flat = np.asarray(col.flatten(), dtype=dtype)
    return flat.reshape(batch.num_rows, -1)


def lloyd_argmin_batches(batches):
    """mapInArrow worker for one Lloyd assignment pass.

    Input : vec_id bigint, v array<bigint>, _cents array<struct<
            cluster bigint, s array<bigint>, n bigint>> (first-row rider,
            structs sorted by cluster id ascending).
    Output: vec_id bigint, v array<bigint>, cluster bigint — v passes
            through untouched (zero-copy), cluster is the argmin of
            sum_i (n*v_i - s_i)^2 / n^2 over the centroids, fold-ordered
            doubles, ties to the lowest cluster id (module docstring).
    """
    import numpy as np
    import pyarrow as pa

    C = S = N = None
    for b in batches:
        if b.num_rows == 0:
            continue
        if C is None:
            cents = _rider_from_first_row(b, "_cents")
            C = np.array([c["cluster"] for c in cents], dtype=np.int64)
            S = np.array([c["s"] for c in cents], dtype=np.int64)
            N = np.array([c["n"] for c in cents], dtype=np.int64)
        V = _list_col_to_ndarray(b, "v", np.int64)
        best_d = best_c = None
        for j in range(len(C)):
            D = (N[j] * V - S[j]).astype(np.float64)
            acc = np.zeros(b.num_rows, dtype=np.float64)
            for i in range(D.shape[1]):
                acc += D[:, i] * D[:, i]  # one round per mul, one per add
            dist = acc / np.float64(N[j] * N[j])
            if best_d is None:
                best_d = dist
                best_c = np.full(b.num_rows, C[j], dtype=np.int64)
            else:
                better = dist < best_d  # strict: ties keep the lower id
                best_d = np.where(better, dist, best_d)
                best_c = np.where(better, C[j], best_c)
        yield pa.RecordBatch.from_arrays(
            [
                b.column(b.schema.get_field_index("vec_id")),
                b.column(b.schema.get_field_index("v")),
                pa.array(best_c, type=pa.int64()),
            ],
            names=["vec_id", "v", "cluster"],
        )


def pairwise_cosine_batches(batches):
    """mapInArrow worker for all-pairs cosine against a bounded query set.

    Input : n_id bigint, nv array<float>, n_lbl int, _q array<struct<
            q_id bigint, qv array<float>, q_lbl int>> (first-row rider).
    Output: one row per (training row, query) pair —
            q_id bigint, n_id bigint, m int, sim double — where
            m = 1 if the labels match else 0 and
            sim = dot(qv, nv) / (||qv|| * ||nv||) with every fold
            accumulated left-to-right in float64 (module docstring),
            bit-identical to functions/vectors.py::cosine and the DuckDB
            oracle's expanded sum.
    """
    import numpy as np
    import pyarrow as pa

    QI = QV = QL = QN = None
    for b in batches:
        if b.num_rows == 0:
            continue
        if QI is None:
            qrows = _rider_from_first_row(b, "_q")
            QI = np.array([r["q_id"] for r in qrows], dtype=np.int64)
            QL = np.array([r["q_lbl"] for r in qrows], dtype=np.int64)
            # float32 -> float64 is exact; fold the norms left-to-right
            QV = np.array([r["qv"] for r in qrows], dtype=np.float32).astype(
                np.float64
            )
            acc = np.zeros(len(QI), dtype=np.float64)
            for i in range(QV.shape[1]):
                acc += QV[:, i] * QV[:, i]
            QN = np.sqrt(acc)
        nb = b.num_rows
        NV = _list_col_to_ndarray(b, "nv", np.float32).astype(np.float64)
        n_id = np.asarray(
            b.column(b.schema.get_field_index("n_id")), dtype=np.int64
        )
        n_lbl = np.asarray(
            b.column(b.schema.get_field_index("n_lbl")), dtype=np.int64
        )
        acc = np.zeros(nb, dtype=np.float64)
        for i in range(NV.shape[1]):
            acc += NV[:, i] * NV[:, i]
        n_norm = np.sqrt(acc)
        nq = len(QI)
        # dot products, fold order preserved per pair: acc += nv_i * qv_i
        dots = np.zeros((nb, nq), dtype=np.float64)
        for i in range(NV.shape[1]):
            dots += NV[:, i : i + 1] * QV[None, :, i]
        sim = dots / (QN[None, :] * n_norm[:, None])
        m = (n_lbl[:, None] == QL[None, :]).astype(np.int32)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.broadcast_to(QI[None, :], (nb, nq)).ravel()),
                pa.array(np.repeat(n_id, nq)),
                pa.array(m.ravel()),
                pa.array(sim.ravel()),
            ],
            names=["q_id", "n_id", "m", "sim"],
        )
