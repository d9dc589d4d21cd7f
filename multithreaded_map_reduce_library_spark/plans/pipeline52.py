"""Pipeline batch 52: longest consecutive repeated-token run per
document — the degenerate-generation detector ("the the the the ...")
that complements `doc_repetition_quality`'s duplicate-bigram ratio
(that one catches global repetition; this one catches a single long
stutter that barely moves a global ratio). Pure integer gaps-and-
islands arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.pipeline import _TOKS
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table


@register(
    "max_token_run_length",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, toks[i] AS tok, i
            FROM (SELECT doc_id, {_TOKS} AS toks FROM documents),
                 UNNEST(generate_series(1, len(toks))) AS u(i)
        ),
        isl AS (
            SELECT doc_id, tok,
                   i - ROW_NUMBER() OVER (PARTITION BY doc_id, tok
                                          ORDER BY i ASC) AS island
            FROM t
        ),
        runs AS (
            SELECT doc_id, tok, island, COUNT(*) AS run_len
            FROM isl GROUP BY doc_id, tok, island
        ),
        best AS (
            SELECT doc_id, tok, run_len,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY run_len DESC, tok ASC) AS rn
            FROM runs
        )
        SELECT doc_id, tok AS longest_run_tok, run_len AS max_run
        FROM best WHERE rn = 1
    """,
    tags=("quality", "repetition", "text-analysis", "documents"),
)
def max_token_run_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive run of an identical token per document (with
    the token, ties to the lexicographically first): the stutter
    detector — a model emitting "data data data data" 50 times moves
    this metric to 50 while a global duplicate-ratio barely notices.
    Classic gaps-and-islands: position minus per-token rank is constant
    exactly within a consecutive run.

    Scale design: positions explode map-side; the island key is two
    window functions partitioned by (doc, token) — document-local work
    throughout, no global order, one (doc, tok, island) count with
    map-side combine.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.posexplode(tokens("text")).alias("i0", "tok")).select(
        "doc_id", (F.col("i0") + 1).alias("i"), "tok"
    )
    isl = t.select(
        "doc_id",
        "tok",
        (
            F.col("i")
            - F.row_number().over(
                Window.partitionBy("doc_id", "tok").orderBy(F.asc("i"))
            )
        ).alias("island"),
    )
    runs = isl.groupBy("doc_id", "tok", "island").agg(
        F.count("*").alias("run_len")
    )
    best = runs.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.desc("run_len"), F.asc("tok"))
        ),
    ).where(F.col("rn") == 1)
    return best.select(
        "doc_id",
        F.col("tok").alias("longest_run_tok"),
        F.col("run_len").alias("max_run"),
    )
