"""Pipeline batch 61: class-balanced downsampling (cap the majority
classes at a multiple of the smallest, md5-rank deterministic) and the
word2vec negative-sampling table (unigram^0.75 with exact
largest-remainder slot allocation) — the two sampling utilities
`skipgram_training_pairs` needs to become a real embedding-training
pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.pipeline import _TOKS
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_CB_FACTOR = 2  # majority classes capped at 2x the minority size


@register(
    "class_balanced_downsample",
    oracle=f"""
        WITH n AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
        cap AS (SELECT {_CB_FACTOR} * MIN(n_lang) AS cap FROM n),
        r AS (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY substr(md5('bal|' || CAST(doc_id AS VARCHAR)), 1, 8)
                                ASC, doc_id ASC) AS rk
            FROM documents
        )
        SELECT r.lang, n.n_lang,
               COUNT(*) FILTER (WHERE r.rk <= cap.cap) AS n_kept
        FROM r JOIN n ON n.lang = r.lang CROSS JOIN cap
        GROUP BY r.lang, n.n_lang
    """,
    tags=("sampling", "balancing", "selection", "documents"),
)
def class_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language keeps at most 2x the
    smallest language's document count, members chosen by md5 rank —
    content-addressed like every sampler here, so re-runs and
    incremental ingests keep the SAME documents (a random() balancer
    churns the training set every run). Output: per language, original
    and kept counts.

    Scale design: class sizes are one rollup; the per-class rank is a
    lang-partitioned window (no global order); the cap is a broadcast
    scalar. The kept set would be written out with the same predicate;
    the counts here are its audit.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    cap = n.agg((F.lit(_CB_FACTOR) * F.min("n_lang")).alias("cap"))
    r = docs.select(
        "doc_id",
        "lang",
        F.row_number()
        .over(
            Window.partitionBy("lang").orderBy(
                F.asc(
                    F.substring(
                        F.md5(
                            F.concat(F.lit("bal|"), F.col("doc_id").cast("string"))
                        ),
                        1,
                        8,
                    )
                ),
                F.asc("doc_id"),
            )
        )
        .alias("rk"),
    )
    return (
        r.join(n, "lang")
        .crossJoin(F.broadcast(cap))
        .groupBy("lang", "n_lang")
        .agg(F.count(F.when(F.col("rk") <= F.col("cap"), 1)).alias("n_kept"))
    )


_NS_TABLE = 10000  # negative-sampling table slots
_NS_POW = 0.75


@register(
    "negative_sampling_table",
    oracle=f"""
        WITH t AS (
            SELECT lower(unnest({_TOKS})) AS tok FROM documents
        ),
        c AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok),
        w AS (
            SELECT tok, n,
                   CAST(FLOOR(POWER(CAST(n AS DOUBLE), {_NS_POW})
                              * 1000000.0 + 0.5) AS BIGINT) AS w_q
            FROM c
        ),
        tot AS (SELECT SUM(w_q) AS wsum FROM w),
        base AS (
            SELECT tok, n, w_q,
                   ({_NS_TABLE} * w_q) // wsum AS base_slots,
                   ({_NS_TABLE} * w_q) % wsum AS frac
            FROM w CROSS JOIN tot
        ),
        leftover AS (SELECT {_NS_TABLE} - SUM(base_slots) AS extra FROM base),
        ranked AS (
            SELECT tok, n, w_q, base_slots,
                   ROW_NUMBER() OVER (ORDER BY frac DESC, tok ASC) AS rk
            FROM base
        )
        SELECT tok, n,
               CAST(base_slots + CASE WHEN rk <= leftover.extra
                                     THEN 1 ELSE 0 END AS BIGINT) AS n_slots
        FROM ranked CROSS JOIN leftover
    """,
    tags=("training-data", "negative-sampling", "allocation", "documents"),
)
def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling table: each token's share of a
    10,000-slot sampling table proportional to count^0.75 (Mikolov's
    smoothing, which lifts rare words without letting stopwords own the
    table), allocated with exact largest-remainder rounding so slots
    sum to 10,000 EXACTLY — the proration discipline applied to the
    skip-gram pipeline's negative sampler. A trainer draws negatives by
    indexing this table with any uniform stream (e.g. the md5 draws of
    `empirical_bootstrap_draws`).

    Scale design: one token count (map-side combined), one libm pow per
    VOCAB entry quantized to the grid, then pure integer allocation on
    the vocab-sized relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select(F.explode(tokens("text")).alias("t0"))
        .select(F.lower("t0").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    w = c.select(
        "tok",
        "n",
        F.floor(F.pow(F.col("n").cast("double"), F.lit(_NS_POW)) * 1000000.0 + 0.5)
        .cast("bigint")
        .alias("w_q"),
    )
    tot = w.agg(F.sum("w_q").alias("wsum"))
    base = w.crossJoin(F.broadcast(tot)).select(
        "tok",
        "n",
        "w_q",
        F.expr(f"(CAST({_NS_TABLE} AS BIGINT) * w_q) div wsum").alias("base_slots"),
        ((_NS_TABLE * F.col("w_q")) % F.col("wsum")).alias("frac"),
    )
    leftover = base.agg((_NS_TABLE - F.sum("base_slots")).alias("extra"))
    ranked = base.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("frac"), F.asc("tok")))
    )
    return ranked.crossJoin(F.broadcast(leftover)).select(
        "tok",
        "n",
        (
            F.col("base_slots")
            + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
        ).alias("n_slots"),
    )
