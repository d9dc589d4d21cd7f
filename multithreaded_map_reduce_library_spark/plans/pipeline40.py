"""Pipeline batch 40: vector-tier data quality (embedding norm audit)
and the Zipf exponent fit over the token rank-frequency table — one
defect detector, one corpus-statistics estimator.

Discipline: norms are quantized to a 1e4 grid immediately after the
fixed-order fold (then ALL statistics are BIGINT sums); the Zipf fit
runs exact-integer OLS over 1e4-grid log-log points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.grid import grid
from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.functions.vectors import l2_norm
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_NA_DIM = 64


def _norm_dot(a: str) -> str:
    return " + ".join(f"{a}[{i}]*{a}[{i}]" for i in range(1, _NA_DIM + 1))


@register(
    "embedding_norm_audit",
    oracle=f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        nq AS (
            SELECT vec_id,
                   CAST(FLOOR(sqrt({_norm_dot("v")}) * 10000.0 + 0.5) AS BIGINT)
                       AS norm_q
            FROM e
        ),
        g AS (
            SELECT COUNT(*) AS n, SUM(norm_q) AS s, SUM(norm_q * norm_q) AS ss
            FROM nq
        ),
        b AS (
            SELECT norm_q // 5000 AS bucket, COUNT(*) AS n_vecs
            FROM nq GROUP BY bucket
        )
        SELECT b.bucket, CAST(b.bucket AS DOUBLE) * 0.5 AS norm_lo, b.n_vecs,
               CAST(FLOOR(CAST(CAST(g.s AS BIGINT) AS DOUBLE) / g.n / 10000.0
                          * 1000000.0 + 0.5) AS BIGINT) AS mean_norm_e6,
               CAST(FLOOR(sqrt((CAST(CAST(g.ss AS BIGINT) AS DOUBLE)
                           - CAST(CAST(g.s AS BIGINT) AS DOUBLE) * CAST(g.s AS BIGINT) / g.n) / g.n)
                     / 10000.0 * 1000000.0 + 0.5) AS BIGINT) AS std_norm_e6
        FROM b CROSS JOIN g
    """,
    tags=("data-quality", "embedding", "audit", "histogram"),
)
def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding norm audit — the vector-tier defect detector: L2 norms
    histogrammed in 0.5-wide buckets with corpus mean/std attached to
    every row. Truncated writes, all-zero vectors, and double-scaled
    batches all show up as off-distribution buckets (a zero vector
    lands in bucket 0; a 2x-scaled batch forms a second mode). Norms
    are grid-quantized right after the fixed-order fold, so mean and
    std come from BIGINT sums (population std, one sqrt at display).

    Scale design: one map-side scan computes norms; the histogram is a
    skinny bucket rollup and the stats are a 3-integer aggregate —
    standard profile-query shape, corpus touched once.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    nq = emb.select(
        "vec_id",
        F.floor(l2_norm("embedding") * 10000.0 + 0.5).cast("bigint").alias("norm_q"),
    )
    g = nq.agg(
        F.count("*").alias("n"),
        F.sum("norm_q").alias("s"),
        F.sum(F.col("norm_q") * F.col("norm_q")).alias("ss"),
    )
    b = nq.groupBy((F.col("norm_q") / 5000).cast("bigint").alias("bucket")).agg(
        F.count("*").alias("n_vecs")
    )
    return b.crossJoin(F.broadcast(g)).select(
        "bucket",
        (F.col("bucket") * 0.5).alias("norm_lo"),
        "n_vecs",
        grid(
            F.col("s").cast("double") / F.col("n") / 10000.0, 6
        ).alias("mean_norm_e6"),
        grid(
            F.sqrt(
                (
                    F.col("ss").cast("double")
                    - F.col("s").cast("double") * F.col("s") / F.col("n")
                )
                / F.col("n")
            )
            / 10000.0,
            6,
        ).alias("std_norm_e6"),
    )


_ZA_TOPK = 30  # fit over the top-30 ranks (the power-law head)


@register(
    "zipf_alpha_fit",
    oracle=f"""
        WITH t AS (
            SELECT lower(unnest(list_filter(string_split_regex(text, '[ \t\r\n]'),
                                            x -> x <> ''))) AS tok
            FROM documents
        ),
        f AS (SELECT tok, COUNT(*) AS freq FROM t GROUP BY tok),
        r AS (
            SELECT tok, freq,
                   ROW_NUMBER() OVER (ORDER BY freq DESC, tok ASC) AS rank
            FROM f
        ),
        pts AS (
            SELECT CAST(FLOOR(ln(CAST(rank AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT)
                       AS x_q,
                   CAST(FLOOR(ln(CAST(freq AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT)
                       AS y_q
            FROM r WHERE rank <= {_ZA_TOPK}
        ),
        s AS (
            SELECT COUNT(*) AS n, SUM(x_q) AS sx, SUM(y_q) AS sy,
                   SUM(x_q * y_q) AS sxy, SUM(x_q * x_q) AS sxx
            FROM pts
        )
        SELECT n AS n_points,
               CAST(FLOOR(-(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * 1000000.0 + 0.5) AS BIGINT) AS alpha_e6
        FROM s
    """,
    tags=("corpus-stats", "zipf", "power-law", "documents", "global-sort"),
)
def zipf_alpha_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent estimate: ordinary least squares on the log-log
    rank-frequency points of the top-30 tokens — alpha is the negated
    slope (natural language sits near 1; the synthetic corpus's alpha
    is whatever the driver generator used, which is the point of
    measuring it). Completes `token_zipf_table` with the fitted
    parameter. Log points are 1e4-grid integers, so the OLS sufficient
    statistics are exact BIGINTs (the `ols_user_trend` pattern) and the
    slope is one division.

    Scale design: token counts map-side combine; the rank is over the
    vocab; the fit reads 30 rows. Nothing here ever grows past |vocab|.
    """
    docs = load_table(spark, sf_dir, "documents")
    f = (
        docs.select(F.explode(tokens("text")).alias("t0"))
        .select(F.lower("t0").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    r = f.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), F.asc("tok")))
        .alias("rank"),
    ).where(F.col("rank") <= _ZA_TOPK)
    pts = r.select(
        F.floor(F.log(F.col("rank").cast("double")) * 10000.0 + 0.5)
        .cast("bigint")
        .alias("x_q"),
        F.floor(F.log(F.col("freq").cast("double")) * 10000.0 + 0.5)
        .cast("bigint")
        .alias("y_q"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x_q").alias("sx"),
        F.sum("y_q").alias("sy"),
        F.sum(F.col("x_q") * F.col("y_q")).alias("sxy"),
        F.sum(F.col("x_q") * F.col("x_q")).alias("sxx"),
    )
    return s.select(
        F.col("n").alias("n_points"),
        grid(
            -(
                (
                    F.col("n").cast("double") * F.col("sxy").cast("double")
                    - F.col("sx").cast("double") * F.col("sy").cast("double")
                )
                / (
                    F.col("n").cast("double") * F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx").cast("double")
                )
            ),
            6,
        ).alias("alpha_e6"),
    )
