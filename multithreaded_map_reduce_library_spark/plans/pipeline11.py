"""Pipeline batch 11: robust statistics and dataset bookkeeping — MAD
(median absolute deviation) outlier detection (the robust alternative to
the z-score query: immune to the outliers it hunts), text normalization
with effect accounting (the first stage of every cleaning pipeline), and
deterministic train/validation/test split assignment (the bookkeeping
step between corpus construction and training).

Reference parity note: none of this exists in the reference (public
surface = ``mapreduce.h:44-83``); driver-mandated LLM-pipeline superset.

Cross-engine float discipline: medians use PERCENTILE_CONT interpolation
(a + (b-a)*frac — IEEE-exact given identical inputs, the
``percentiles_lineitem`` precedent); displayed floats round to 4dp off
full-precision doubles; everything else is integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.functions.grid import grid
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_MAD_K = 6.0  # flag |x - median| > K * MAD


@register(
    "events_mad_outliers",
    oracle=f"""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS m
            FROM events GROUP BY event_type
        ),
        mad AS (
            SELECT e.event_type, med.m,
                   quantile_cont(abs(e.value - med.m), 0.5) AS d
            FROM events e JOIN med USING (event_type)
            GROUP BY e.event_type, med.m
        )
        SELECT e.event_type,
               COUNT(*) AS n,
               CAST(FLOOR(ANY_VALUE(mad.m) * 10000.0 + 0.5) AS BIGINT) AS median_value_e4,
               CAST(FLOOR(ANY_VALUE(mad.d) * 10000.0 + 0.5) AS BIGINT) AS mad_value_e4,
               CAST(SUM(CASE WHEN abs(e.value - mad.m) > {_MAD_K} * mad.d
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM events e JOIN mad USING (event_type)
        GROUP BY e.event_type
    """,
    tags=("robust-stats", "outliers", "quality", "events"),
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: flag values more than
    6 MADs from the median. Unlike the mean/stddev z-score
    (``events_zscore_anomalies``), median and MAD have a 50% breakdown
    point — a batch of corrupt ingest values cannot drag the threshold
    toward itself, which is why production data-quality gates prefer MAD.

    Scale design: two grouped exact medians (percentile_cont) — at
    100 TB these become the approx_percentile sketch (mergeable, bounded
    memory; the swap is one function name) — then one counting pass with
    the per-group (median, MAD) broadcast. The outlier comparison is a
    strict inequality on |x-m| vs K·MAD; a tie would need x-m to equal
    K·MAD exactly in IEEE, which the random double fixture cannot
    produce systematically."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.percentile("value", F.lit(0.5)).alias("m"))
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "m")
        .agg(F.percentile(F.abs(F.col("value") - F.col("m")), F.lit(0.5)).alias("d"))
    )
    return (
        e.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            grid(F.any_value("m"), 4).alias("median_value_e4"),
            grid(F.any_value("d"), 4).alias("mad_value_e4"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("m")) > _MAD_K * F.col("d"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


@register(
    "text_normalization_stats",
    oracle=r"""
        WITH n AS (
            SELECT doc_id, text,
                   trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9 \t\r\n]', ' ', 'g'),
                        '[ \t\r\n]+', ' ', 'g')) AS norm
            FROM documents
        )
        SELECT doc_id,
               length(text) AS raw_len,
               length(norm) AS norm_len,
               CAST(length(text) - length(norm) AS BIGINT) AS chars_removed,
               len(list_filter(string_split(norm, ' '), t -> t <> '')) AS n_tokens_norm
        FROM n
    """,
    tags=("text-cleaning", "normalization", "documents"),
)
def text_normalization_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization — lowercase, strip non-alphanumerics, collapse
    whitespace runs, trim — with effect accounting (chars removed, token
    count after). The first stage of every cleaning pipeline; the stats
    are the monitoring signal that a source's markup share is drifting.

    Scale design: pure map-side regex chain in whole-stage codegen, no
    shuffle, no Python; at 100 TB this is scan-bound and pairs with the
    PII pass in a single projection."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 \t\r\n]", " "),
            r"[ \t\r\n]+",
            " ",
        )
    )
    n = docs.select("doc_id", "text", norm.alias("norm"))
    return n.select(
        "doc_id",
        F.length("text").alias("raw_len"),
        F.length("norm").alias("norm_len"),
        (F.length("text") - F.length("norm")).cast("bigint").alias("chars_removed"),
        F.size(tokens("norm", " ")).alias("n_tokens_norm"),
    )


@register(
    "dataset_split_assignment",
    oracle="""
        WITH s AS (
            SELECT doc_id, lang,
                   CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4))
                        AS BIGINT) % 100 AS b,
                   len(list_filter(string_split_regex(text, '[ \t\r\n]'), t -> t <> ''))
                       AS n_toks
            FROM documents
        )
        SELECT lang,
               CASE WHEN b < 96 THEN 'train' WHEN b < 98 THEN 'val' ELSE 'test' END
                   AS split,
               COUNT(*) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS n_tokens
        FROM s
        GROUP BY 1, 2
    """,
    tags=("corpus", "split", "bookkeeping", "documents"),
)
def dataset_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (96/2/2) by md5 of doc_id —
    content-addressed, so re-runs, backfills, and incremental ingests
    place every document in the same split forever (the property a
    random() split lacks, and the difference between a leaky and a clean
    eval set). Output: per (lang, split) document and token counts — the
    table a training run's data card reports.

    Scale design: the split is a map-side hash expression; the rollup
    groups on ~3·|langs| keys with map-side combine. At 100 TB the same
    expression becomes the partition column of the output layout
    (``write.partitionBy("split")``), so downstream readers prune to
    their split for free."""
    docs = load_table(spark, sf_dir, "documents")
    b = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    split = (
        F.when(b < 96, "train").when(b < 98, "val").otherwise("test")
    )
    return (
        docs.select(
            "lang", split.alias("split"), F.size(tokens("text")).alias("n_toks")
        )
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_toks").alias("n_tokens"))
    )
