"""Pipeline batch 48: mutual nearest neighbors over the embedding
corpus — the reciprocal-best-match criterion behind bitext mining and
high-precision dataset alignment (a pair only counts when each vector
is the OTHER's nearest neighbor, which kills the asymmetric hub
matches plain kNN keeps). Search is cell-local (the IVF layout), argmax
ties break to the lower id, and the oracle replays assignment, per-
vector argmax, and the reciprocity check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.grid import grid
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_MN_STRIDE = 50
_MN_DIM = 64


def _mn_dot(a: str, b: str) -> str:
    return " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(1, _MN_DIM + 1))


@register(
    "mutual_nn_pairs",
    oracle=f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id % {_MN_STRIDE} = 0),
        scored AS (SELECT e.vec_id, e.v, c.c_id,
                          ({_mn_dot("e.v", "c.cv")})
                          / (sqrt({_mn_dot("e.v", "e.v")}) * sqrt({_mn_dot("c.cv", "c.cv")}))
                              AS csim
                   FROM e CROSS JOIN cent c),
        asg AS (SELECT vec_id, v, c_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY csim DESC, c_id ASC) AS rn
                FROM scored),
        cells AS (SELECT vec_id, v, c_id AS cell FROM asg WHERE rn = 1),
        sims AS (
            SELECT a.vec_id AS src, x.vec_id AS dst,
                   ({_mn_dot("a.v", "x.v")})
                   / (sqrt({_mn_dot("a.v", "a.v")}) * sqrt({_mn_dot("x.v", "x.v")}))
                       AS sim
            FROM cells a JOIN cells x
              ON a.cell = x.cell AND a.vec_id <> x.vec_id
        ),
        nn AS (
            SELECT src, dst, sim,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY sim DESC, dst ASC) AS rn
            FROM sims
        ),
        best AS (SELECT src, dst, sim FROM nn WHERE rn = 1)
        SELECT a.src AS id_a, a.dst AS id_b, CAST(FLOOR(a.sim * 1000000.0 + 0.5) AS BIGINT) AS sim_e6
        FROM best a JOIN best b ON a.dst = b.src AND b.dst = a.src
        WHERE a.src < a.dst
    """,
    tags=("similarity", "mutual-nn", "alignment", "embedding"),
)
def mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest-neighbor pairs within embedding cells: a pair
    survives only when each side is the other's single nearest
    neighbor — the reciprocal-best-match filter bitext mining and
    cross-dataset alignment use to trade recall for near-perfect
    precision (hub vectors that are 'everyone's neighbor' cannot form
    mutual pairs). Ties break to the lower id; the oracle replays the
    whole chain.

    Scale design: candidate similarity is the cell-local equi-join (the
    IVF layout shared with semdedup/ann_ivf); the per-vector argmax is
    a window over each vector's cell candidates; reciprocity is a
    self-join of the |vectors|-row best relation on the reversed pair.
    Nothing all-pairs, nothing corpus-shuffled beyond the cell join.
    """
    from multithreaded_map_reduce_library_spark.operators.similarity import (
        _cos_pre,
        assign_ivf_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cells = assign_ivf_cells(emb, stride=_MN_STRIDE)
    a = cells.select(
        F.col("id").alias("src"), F.col("vec").alias("va"),
        F.col("norm").alias("na"), "cell",
    )
    b = cells.select(
        F.col("id").alias("dst"), F.col("vec").alias("vb"),
        F.col("norm").alias("nb"), "cell",
    )
    sims = (
        a.join(b, "cell")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst", _cos_pre("va", "vb", "na", "nb").alias("sim"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
    best = (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("src", "dst", "sim")
    )
    rev = best.select(
        F.col("src").alias("dst"), F.col("dst").alias("src")
    )
    return (
        best.join(rev, ["src", "dst"])
        .where(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("id_a"),
            F.col("dst").alias("id_b"),
            grid(F.col("sim"), 6).alias("sim_e6"),
        )
    )
