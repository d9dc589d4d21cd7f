"""Pipeline batch 72: SEMANTIC decontamination — embedding-similarity
leakage screening of an eval split against the training corpus.

The n-gram decontamination pair (`decontamination_ngram_overlap`,
`split_leakage_audit`) catches verbatim/near-verbatim leakage; modern
eval hygiene additionally screens by EMBEDDING similarity (paraphrased
or re-rendered eval items that share no 8-gram with their source). Same
bucketed-LSH discipline as `dedup_embedding_cosine`: the eval x train
all-pairs join never exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.grid import grid
from multithreaded_map_reduce_library_spark.operators.similarity import (
    _checked_norm,
    _cos_pre,
    random_hyperplane_bucket,
)
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.plans.similarity_q import (
    _bucket_sql,
    _dot,
)
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_DIM = 64
_PLANES = 4
_TAU = 0.5  # contamination cosine threshold
#: content-addressed eval split: md5 first hex digit >= 'd' -> eval
#: (3/16 ~ 19%), the complement trains — deterministic, engine-identical.
_IS_EVAL = "substr(md5('semdecon-' || CAST(vec_id AS VARCHAR)), 1, 1) >= 'd'"


@register(
    "semantic_decontamination",
    oracle=f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                          {_IS_EVAL} AS is_eval
                   FROM embeddings),
        b AS (SELECT vec_id, v, is_eval, {_bucket_sql("v", _PLANES)} AS bucket
              FROM e),
        p AS (SELECT ev.vec_id,
                     ({_dot("ev.v", "tr.v")})
                         / (sqrt({_dot("ev.v", "ev.v")})
                            * sqrt({_dot("tr.v", "tr.v")})) AS sim
              FROM b ev JOIN b tr
                ON ev.bucket = tr.bucket AND ev.is_eval AND NOT tr.is_eval),
        agg AS (SELECT vec_id, COUNT(*) AS n_candidates,
                       MAX(sim) AS max_sim
                FROM p GROUP BY vec_id)
        SELECT e.vec_id,
               CAST(COALESCE(a.n_candidates, 0) AS BIGINT) AS n_candidates,
               CAST(FLOOR(COALESCE(a.max_sim, 0.0) * 1000000.0 + 0.5) AS BIGINT)
                   AS max_sim_e6,
               CAST(CASE WHEN COALESCE(a.max_sim, 0.0) >= {_TAU}
                         THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        FROM e LEFT JOIN agg a USING (vec_id)
        WHERE e.is_eval
    """,
    tags=("decontamination", "similarity", "embedding", "governance"),
)
def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-similarity decontamination: a content-addressed ~19%
    eval split is screened against the remaining training corpus; per
    eval item, the count of same-LSH-bucket training candidates, the
    maximum exact cosine among them (0 when the bucket holds no
    training vector), and the contamination flag (max cosine >= 0.5).
    Flagged items are removed from eval (or their twins from training)
    — the semantic complement of the 8-gram decontamination pass.

    Scale design: identical to the near-dup tier — deterministic
    hyperplane buckets make the eval x train join a bucket equi-join
    (never all-pairs), the eval side is the small probe side, and the
    per-item aggregate is bucket-local. At 100 TB the training side is
    bucketed at rest and only eval-bucket probes are read."""
    emb = load_table(spark, sf_dir, "embeddings")
    is_eval = F.expr(_IS_EVAL.replace("VARCHAR", "STRING"))
    b = emb.select(
        "vec_id",
        F.col("embedding").alias("vec"),
        _checked_norm("embedding", "vec_id").alias("norm"),
        random_hyperplane_bucket("embedding", _DIM, _PLANES).alias("bucket"),
        is_eval.alias("is_eval"),
    )
    ev = b.filter(F.col("is_eval")).select(
        F.col("vec_id"), F.col("vec").alias("ev_v"),
        F.col("norm").alias("ev_n"), "bucket",
    )
    tr = b.filter(~F.col("is_eval")).select(
        F.col("vec").alias("tr_v"), F.col("norm").alias("tr_n"), "bucket",
    )
    agg = (
        ev.join(tr, "bucket")
        .select("vec_id", _cos_pre("ev_v", "tr_v", "ev_n", "tr_n").alias("sim"))
        .groupBy("vec_id")
        .agg(F.count("*").alias("n_candidates"), F.max("sim").alias("max_sim"))
    )
    return (
        ev.select("vec_id")
        .join(agg, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("bigint")
            .alias("n_candidates"),
            grid(F.coalesce(F.col("max_sim"), F.lit(0.0)), 6).alias("max_sim_e6"),
            F.when(F.coalesce(F.col("max_sim"), F.lit(0.0)) >= _TAU, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("contaminated"),
        )
    )
