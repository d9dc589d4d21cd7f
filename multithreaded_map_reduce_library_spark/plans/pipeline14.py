"""Pipeline batch 14: trained-codebook IVF ANN — the composition the
k-means query exists for: Lloyd-trained centroids become the IVF cell
index, the corpus is assigned once (the "build the index" pass), and
queries probe their own cell with an exact cosine re-rank. Completes
the ANN family's progression: brute force → hyperplane LSH (data-
independent) → stride-IVF (cheap data-dependent) → k-means-IVF
(trained codebook, the production FAISS layout).

Cross-engine exactness: cell assignment reuses pipeline13's integer-grid
Lloyd (deterministic, oracle-matched); the re-rank cosine is the
similarity_q.py left-fold discipline (identical association order both
engines, only the displayed value rounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.plans.pipeline13 import (
    _duck_kmeans_sql,
    _KM_ITERS,
    lloyd_assignments,
    quantized_vectors,
)
from multithreaded_map_reduce_library_spark.functions.grid import grid
from multithreaded_map_reduce_library_spark.functions.vectors import cosine
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_DIM = 64
_Q_N = 10
_TOP_K = 3


def _dot(a: str, b: str) -> str:
    return " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(1, _DIM + 1))


def _ivf_kmeans_oracle() -> str:
    km = _duck_kmeans_sql(_KM_ITERS)
    # Reuse the kmeans CTE chain up to the final assignment a{iters};
    # strip its trailing SELECT and append the probe stages.
    with_block = km[: km.rindex("SELECT cluster, COUNT(*)")]
    return (
        with_block
        + f""",
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
        cells AS (SELECT a.vec_id, a.cluster AS cell, e.ev
                  FROM a{_KM_ITERS} a JOIN e USING (vec_id)),
        qs AS (SELECT vec_id AS q_id, ev AS qv, cell FROM cells
               WHERE vec_id < {_Q_N}),
        s AS (SELECT q.q_id, c.vec_id AS n_id, q.cell,
                     ({_dot("q.qv", "c.ev")})
                     / (sqrt({_dot("q.qv", "q.qv")}) * sqrt({_dot("c.ev", "c.ev")})) AS sim
              FROM qs q JOIN cells c ON q.cell = c.cell AND c.vec_id <> q.q_id),
        r AS (SELECT q_id, n_id, cell, sim,
                     CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                          ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rank
              FROM s)
        SELECT q_id, n_id, cell, rank, CAST(FLOOR(sim * 1000000.0 + 0.5) AS BIGINT) AS sim_e6
        FROM r WHERE rank <= {_TOP_K}
    """
    )


@register(
    "ann_ivf_kmeans",
    oracle=_ivf_kmeans_oracle(),
    tags=("similarity", "ann", "ivf", "kmeans", "ml", "embeddings"),
)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a TRAINED codebook: the Lloyd k-means cells
    (pipeline13) are the inverted lists; each query probes its own cell
    and exact cosine re-ranks the cell's members (top-3, ties to lowest
    neighbor id). Versus the stride-sampled IVF (`ann_ivf_cosine`),
    trained cells track the data distribution, so cell populations are
    balanced and recall-per-probe is higher — this is the FAISS
    IVF-Flat layout.

    Scale design: training touches the corpus twice (broadcast
    centroids, skinny sum shuffles — pipeline13); index build is the
    SAME assignment pass, and at rest the corpus is bucketed by cell so
    a probe reads one bucket. The probe join here is a cell equi-join
    (never all-pairs); the re-rank is JVM fold cosine inside codegen.
    At 100 TB: more centroids (sqrt-n sizing, see `stride_for_corpus`)
    and nprobe>1 multi-probe — both demonstrated in the sibling IVF
    queries."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = lloyd_assignments(quantized_vectors(emb)).select(
        "vec_id", F.col("cluster").alias("cell")
    )
    cells = assigned.join(emb.select("vec_id", F.col("embedding").alias("ev")), "vec_id")
    qs = cells.filter(F.col("vec_id") < _Q_N).select(
        F.col("vec_id").alias("q_id"), F.col("ev").alias("qv"), "cell"
    )
    s = (
        F.broadcast(qs)
        .join(cells, "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            "cell",
            cosine("qv", "ev").alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return (
        s.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _TOP_K)
        .select("q_id", "n_id", "cell", "rank", grid(F.col("sim"), 6).alias("sim_e6"))
    )
