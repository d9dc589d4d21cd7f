"""Pipeline batch 56: "fightin' words" comparative corpus analysis
(Monroe, Colaresi & Quinn 2008) — log-odds-ratio of word usage between
the en and non-en sub-corpora with an informative Dirichlet prior and
per-word z-scores. THE standard answer to "which words distinguish
these two corpora" (raw frequency ratios over-weight rare words; the
prior and variance term fix exactly that).

Determinism: the log-odds delta and its variance are computed from
exact integer counts with the whole per-word statistic quantized once
onto the 1e4 grid before ranking; ranks carry token tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.pipeline import _TOKS
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_FW_TOPK = 10


@register(
    "fighting_words_en_vs_rest",
    oracle=f"""
        WITH t AS (
            SELECT lower(unnest({_TOKS})) AS tok,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
            FROM documents
        ),
        c AS (
            SELECT tok,
                   SUM(is_en) AS ce,
                   SUM(1 - is_en) AS cr
            FROM t GROUP BY tok
        ),
        g AS (SELECT SUM(ce) AS te, SUM(cr) AS tr, SUM(ce + cr) AS ta,
                     COUNT(*) AS vsize
              FROM c),
        z AS (
            SELECT c.tok, c.ce, c.cr,
                   CAST(FLOOR((
                       ln((c.ce + CAST(c.ce + c.cr AS DOUBLE) / g.ta)
                          / (g.te + 1.0 - c.ce
                             - CAST(c.ce + c.cr AS DOUBLE) / g.ta))
                       - ln((c.cr + CAST(c.ce + c.cr AS DOUBLE) / g.ta)
                            / (g.tr + 1.0 - c.cr
                               - CAST(c.ce + c.cr AS DOUBLE) / g.ta))
                   ) / sqrt(1.0 / (c.ce + CAST(c.ce + c.cr AS DOUBLE) / g.ta)
                            + 1.0 / (c.cr + CAST(c.ce + c.cr AS DOUBLE) / g.ta))
                   * 10000.0 + 0.5) AS BIGINT) AS z_q
            FROM c CROSS JOIN g
        )
        SELECT tok, CAST(ce AS BIGINT) AS n_en, CAST(cr AS BIGINT) AS n_rest,
               CAST(z_q AS DOUBLE) / 10000.0 AS zscore,
               CAST(ROW_NUMBER() OVER (ORDER BY ABS(z_q) DESC, tok ASC)
                    AS BIGINT) AS rnk
        FROM z
        QUALIFY rnk <= {_FW_TOPK}
    """,
    tags=("corpus-stats", "comparative", "log-odds", "documents", "topk"),
)
def fighting_words_en_vs_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fightin' words: the top-10 tokens most distinctive of the en vs
    non-en sub-corpora by z-scored log-odds-ratio with an informative
    Dirichlet prior (prior mass proportional to each word's overall
    frequency — Monroe et al.'s recipe, which shrinks rare-word noise
    that raw PMI/frequency ratios amplify). Sign of z says which side
    the word fights for.

    Determinism: counts are exact integers; the entire per-word
    statistic (two logs, one sqrt) is quantized onto the 1e4 grid in
    ONE expression before the |z| ranking with token tiebreaks.

    Scale design: one token-keyed count aggregate with map-side combine
    and a 1-row total broadcast; the statistic is a map expression over
    the vocab; top-k is TakeOrdered. Comparative corpus analysis at
    100 TB is exactly this shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.explode(tokens("text")).alias("t0"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
    ).select(F.lower("t0").alias("tok"), "is_en")
    c = t.groupBy("tok").agg(
        F.sum("is_en").alias("ce"), F.sum(1 - F.col("is_en")).alias("cr")
    )
    g = c.agg(
        F.sum("ce").alias("te"),
        F.sum("cr").alias("tr"),
        F.sum(F.col("ce") + F.col("cr")).alias("ta"),
    )
    prior = (F.col("ce") + F.col("cr")).cast("double") / F.col("ta")
    delta = F.log(
        (F.col("ce") + prior)
        / (F.col("te") + 1.0 - F.col("ce") - prior)
    ) - F.log(
        (F.col("cr") + prior)
        / (F.col("tr") + 1.0 - F.col("cr") - prior)
    )
    var = 1.0 / (F.col("ce") + prior) + 1.0 / (F.col("cr") + prior)
    z_q = F.floor(delta / F.sqrt(var) * 10000.0 + 0.5).cast("bigint")
    z = c.crossJoin(F.broadcast(g)).select(
        "tok", "ce", "cr", z_q.alias("z_q")
    )
    ranked = z.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.desc(F.abs("z_q")), F.asc("tok")))
        .cast("bigint"),
    )
    return ranked.where(F.col("rnk") <= _FW_TOPK).select(
        "tok",
        F.col("ce").alias("n_en"),
        F.col("cr").alias("n_rest"),
        (F.col("z_q").cast("double") / 10000.0).alias("zscore"),
        "rnk",
    )
