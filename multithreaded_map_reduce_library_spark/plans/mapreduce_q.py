"""Reference-parity queries (SURVEY.md §2 O1-O10) over the ``documents``
table, each with a DuckDB oracle.

The word-count dataflow is the reference's entire capability surface
(distwc.c + mapreduce.c); here it runs against ``documents.text`` so the
driver can oracle-check it. The reference's own golden corpus
(sample_inputs, 21 words x 5000) is covered in tests/test_wordcount.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.text import split_tokens
from multithreaded_map_reduce_library_spark.mapreduce.api import (
    mr_run_pairs,
    wordcount_reducer,
    wordcount_sum_reducer,
)
from multithreaded_map_reduce_library_spark.operators.wordcount import wordcount
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

# DuckDB-side tokenizer matching functions/text.py::tokens (strsep on
# " \t\n\r" with empty tokens filtered — quirks Q1/Q2, distwc.c:15-18).
_DUCK_TOKENS = r"string_split_regex(text, '[ \t\r\n]')"


@register(
    "wordcount",
    oracle=f"""
        SELECT tok AS key, COUNT(*) AS cnt
        FROM (SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents)
        WHERE tok <> ''
        GROUP BY tok
    """,
    tags=("reference", "O1", "O2", "O4", "O5", "O7", "O9"),
    bench=True,
)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship reference dataflow: tokenize -> shuffle -> COUNT(*) per key."""
    docs = load_table(spark, sf_dir, "documents").select(F.col("text").alias("value"))
    return wordcount(docs)


@register(
    "wordcount_per_source",
    oracle=f"""
        SELECT source, tok AS key, COUNT(*) AS cnt
        FROM (SELECT source, unnest({_DUCK_TOKENS}) AS tok FROM documents)
        WHERE tok <> ''
        GROUP BY source, tok
    """,
    tags=("reference", "composite-key"),
)
def q_wordcount_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count with a composite grouping key (per-source vocabularies)."""
    from multithreaded_map_reduce_library_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", F.explode(tokens("text")).alias("key"))
        .groupBy("source", "key")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "token_topk",
    oracle=f"""
        SELECT tok AS key, COUNT(*) AS cnt
        FROM (SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents)
        WHERE tok <> ''
        GROUP BY tok
        ORDER BY cnt DESC, key ASC
        LIMIT 20
    """,
    tags=("reference", "topk", "global-sort"),
)
def q_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k over the word-count result (deterministic tie-break on
    key). Spark executes this as TakeOrderedAndProject — no global sort of
    the full aggregate, O(k) per partition then a k-merge on the driver."""
    docs = load_table(spark, sf_dir, "documents").select(F.col("text").alias("value"))
    return wordcount(docs).orderBy(F.desc("cnt"), F.asc("key")).limit(20)


@register(
    "mr_api_wordcount",
    oracle=f"""
        SELECT tok AS key, CAST(COUNT(*) AS VARCHAR) AS cnt_str
        FROM (SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents)
        WHERE tok <> ''
        GROUP BY tok
    """,
    tags=("reference", "mapreduce-api", "rdd"),
)
def q_mr_api_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RDD MapReduce parity facade (mapreduce/api.py) producing the same
    counts: flatMap mapper (``split_tokens``; a null text has no tokens) ->
    one dict grouping per map task -> DJB2 ``partitionBy`` (one (key,
    values) record per map task and key crosses the shuffle) -> key sort
    of the partial groups within each shard -> grouped-iterator reducer
    (mapreduce.h:44-83 contract). Values are the reducer's string outputs,
    matching the reference's typeless strings (mapreduce.h:8-12)."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    pairs = docs.rdd.flatMap(lambda row: [(t, "1") for t in split_tokens(row[0])])
    reduced = mr_run_pairs(pairs, wordcount_reducer, num_partitions=10)
    return reduced.toDF(["key", "cnt_str"])


@register(
    "mr_api_wordcount_combined",
    oracle=f"""
        SELECT tok AS key, CAST(COUNT(*) AS VARCHAR) AS cnt_str
        FROM (SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents)
        WHERE tok <> ''
        GROUP BY tok
    """,
    tags=("reference", "mapreduce-api", "rdd", "combiner"),
)
def q_mr_api_wordcount_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The facade with a MAP-SIDE COMBINER: each map partition pre-sums its
    own tokens, so each (task, key) record crosses the shuffle carrying one
    partial sum instead of one value per occurrence — the
    partial-aggregation upgrade the reference lacks entirely (every
    ("w","1") pair crosses, mapreduce.c:111-144; SURVEY.md §4), surfaced
    through the same reducer contract. The final
    reducer SUMs the partials, which on "1"-valued input equals the
    reference's COUNT semantics (quirk Q2) — same oracle as
    ``mr_api_wordcount``."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    pairs = docs.rdd.flatMap(lambda row: [(t, "1") for t in split_tokens(row[0])])
    reduced = mr_run_pairs(
        pairs, wordcount_sum_reducer, num_partitions=10, combiner=wordcount_sum_reducer
    )
    return reduced.toDF(["key", "cnt_str"])
