"""Pipeline batch 13: distributed iterative ML — Lloyd's k-means over
the embedding table, the canonical "ML training loop as dataflow"
workload (and the training step that produces the IVF centroids the ANN
family consumes). Two full Lloyd iterations (assign → recompute) run as
DataFrame ops with the oracle unrolled CTE-per-iteration, the same
pattern as ``pagerank_dedup_graph``.

Cross-engine exactness: embeddings are float32 in (-1, 1), so
``FLOOR(x * 2^20)`` is EXACT (a float32 times a power of two is exactly
representable; no FLOOR-boundary risk) — every vector becomes an integer
grid point. Centroids stay as (component-sum array, count) in exact
BIGINTs; squared distances compare as ``sum((n*v_i - s_i)^2) / n^2`` in
doubles computed in identical left-fold order on both engines, so
argmins (ties broken by cluster id) agree bit-for-bit. Displayed
columns are integers only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_KM_K = 8
_KM_ITERS = 2
_KM_SCALE = 1 << 20
_KM_DIM = 64


def _duck_kmeans_sql(iters: int = _KM_ITERS) -> str:
    dist = (
        "(list_reduce(list_prepend(0.0, list_transform(range({dim}), i -> "
        "CAST(c.n * q.v[i + 1] - c.s[i + 1] AS DOUBLE)"
        " * CAST(c.n * q.v[i + 1] - c.s[i + 1] AS DOUBLE))), (a, b) -> a + b)"
        " / CAST(c.n * c.n AS DOUBLE))"
    ).format(dim=_KM_DIM)
    sums = ", ".join(f"SUM(v[{i + 1}])" for i in range(_KM_DIM))
    ctes = [
        f"""q AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT)) AS v
            FROM embeddings
        )""",
        f"""c0 AS (
            SELECT vec_id AS cluster, v AS s, CAST(1 AS BIGINT) AS n
            FROM q WHERE vec_id < {_KM_K}
        )""",
    ]
    prev = "c0"
    for it in range(1, iters + 1):
        ctes.append(
            f"""a{it} AS (
                SELECT vec_id, v, cluster FROM (
                    SELECT q.vec_id, q.v, c.cluster,
                           row_number() OVER (PARTITION BY q.vec_id
                               ORDER BY {dist}, c.cluster) AS rn
                    FROM q CROSS JOIN {prev} c
                ) WHERE rn = 1
            )"""
        )
        ctes.append(
            f"""c{it} AS (
                SELECT cluster, [{sums}] AS s, COUNT(*) AS n
                FROM a{it} GROUP BY cluster
            )"""
        )
        prev = f"c{it}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT cluster, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec,
               MAX(vec_id) AS max_vec, CAST(SUM(v[1]) AS BIGINT) AS s0
        FROM a{iters} GROUP BY cluster
    """
    )


def quantized_vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, v): embeddings on the exact 2^20 integer grid."""
    return emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _KM_SCALE).cast("bigint"),
        ).alias("v"),
    )


def lloyd_assignments(q: DataFrame, iters: int = _KM_ITERS, k: int = _KM_K) -> DataFrame:
    """Run ``iters`` Lloyd iterations over quantized vectors ``(vec_id, v)``
    and return the final assignment (vec_id, v, cluster). Centroids are
    exact (component-sum, count) BIGINT pairs broadcast into each
    assignment pass; distances compare as fold-ordered doubles with ties
    to the lowest cluster id — fully deterministic (module docstring).

    Round-10 shape (guide §4.1/§4.2, VERDICT r9 item 3): the assignment
    pass is a NARROW ``mapInArrow`` batched numpy argmin — the K
    centroids ride to each task once via the first-row rider (broadcast
    one-row array, no driver collect), so the corpus neither explodes
    K-fold through a crossJoin nor shuffles through the round-3 form's
    per-iteration groupBy(vec_id) exchange, and the per-row distance
    folds run in C instead of interpreted HOF lambdas (the round-9
    revert: HOF argmin was 1.13-1.20x slower at sf1). Distances are
    bit-identical to the old form and the DuckDB oracle — exact int64
    grid arithmetic, left-to-right float64 folds, strict-< tie-break in
    ascending cluster order (functions/arrowdist.py docstring). The only
    wide movement per iteration stays the skinny per-cluster
    component-sum aggregate (map-side partial sums over 64 columns)."""
    from multithreaded_map_reduce_library_spark.functions.arrowdist import (
        first_row_rider,
        lloyd_argmin_batches,
        pack_rows,
    )

    cents = q.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cluster"),
        F.col("v").alias("s"),
        F.lit(1).cast("bigint").alias("n"),
    )

    assigned = None
    for _ in range(iters):
        packed = pack_rows(cents, "cluster", "s", "n", alias="_cents")
        assigned = (
            q.crossJoin(F.broadcast(packed))
            .select("vec_id", "v", first_row_rider("_cents").alias("_cents"))
            .mapInArrow(
                lloyd_argmin_batches,
                schema="vec_id bigint, v array<bigint>, cluster bigint",
            )
        )
        cents = assigned.groupBy("cluster").agg(
            F.array(*[F.sum(F.element_at("v", i + 1)) for i in range(_KM_DIM)]).alias("s"),
            F.count("*").alias("n"),
        )
    return assigned


@register(
    "kmeans_lloyd_embeddings",
    oracle=_duck_kmeans_sql(),
    tags=("ml", "iterative", "kmeans", "clustering", "embeddings"),
    bench=True,
)
def kmeans_lloyd_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (K=8, 2 iterations) over the embedding corpus —
    the distributed training loop that produces IVF/quantization
    codebooks. Init: the K lowest vec_ids as singleton centroids
    (deterministic); each iteration assigns every vector to its nearest
    centroid (squared L2 on the exact integer grid, ties to the lowest
    cluster id) and recomputes centroids as exact (sum, count) pairs.
    Output: per-cluster membership stats after the final assignment.

    Scale design: the centroid table (K rows) BROADCASTS into the
    assignment join each iteration — the corpus never shuffles for
    assignment; the only wide movement is the skinny per-cluster
    component-sum aggregate (map-side partial sums over 64 columns).
    This is exactly how MLlib's k-means iterates at cluster scale. The
    assignment step is a ``mapInArrow`` numpy argmin
    (:func:`lloyd_assignments`); the centroid sums stay in Tungsten
    codegen. Driver never collects anything.

    Exactness: see module docstring — integer-grid vectors, exact
    integer centroid sums, fold-ordered double distances, deterministic
    tie-breaks; the displayed columns are all BIGINT."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = lloyd_assignments(quantized_vectors(emb))
    return assigned.groupBy("cluster").agg(
        F.count("*").alias("n_vecs"),
        F.min("vec_id").alias("min_vec"),
        F.max("vec_id").alias("max_vec"),
        F.sum(F.element_at("v", 1)).alias("s0"),
    )
