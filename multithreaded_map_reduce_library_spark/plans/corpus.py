"""Training-corpus construction operators: stratified deterministic
sampling, corpus mixing / token-budget allocation, sequence packing,
int8 embedding quantization, and percentile winsorization.

Reference parity note: none of these exist in the reference (its entire
aggregate surface is COUNT(*) per key, distwc.c:26-30; SURVEY.md §2.2
records the absences). They extend the engine along the driver's
training-data-pipeline axis: every one is a step a 100 TB pre-training
corpus build actually runs (subset per language, hit a mixture target,
pack documents into fixed token windows, compress embeddings, clip
outlier metrics).

Numeric discipline: token counts and bucket assignments are exact
integer arithmetic (identical on any engine); hash buckets come from
md5 hex (engine-independent, unlike Murmur3); doubles appear only in
final averaged metrics, rounded once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.grid import (
    gavg,
    gsum,
    int_ratio,
)
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table


def _md5_bucket(col, n: int):
    """Deterministic engine-independent bucket in [0, n): first 4 hex
    digits of md5 of the key's decimal string. DuckDB spelling:
    ``CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 4)) AS BIGINT) % n``."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10).cast("bigint") % n
    )


@register(
    "stratified_sample_docs_by_lang",
    oracle="""
        WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        tgt AS (SELECT MIN(n) AS t FROM cnt),
        rates AS (
            SELECT lang, LEAST(100, CAST(CEIL(100.0 * t / n) AS INT)) AS rate_pct
            FROM cnt, tgt
        )
        SELECT d.lang, r.rate_pct,
               COUNT(*) AS n_sampled,
               CAST(SUM(d.n_chars) AS BIGINT) AS chars_sampled
        FROM documents d JOIN rates r USING (lang)
        WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
              % 100 < r.rate_pct
        GROUP BY d.lang, r.rate_pct
    """,
    tags=("sampling", "stratified", "documents", "corpus"),
)
def stratified_sample_docs_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: down-sample every language to
    roughly the smallest language's share by keeping docs whose md5
    bucket falls under a per-stratum rate. The rate table is a tiny
    aggregate (one row per language) broadcast back onto the corpus, so
    at 100 TB the pass over `documents` is map-side only — the sample
    decision is a pure function of (doc_id, lang), reproducible across
    runs, engines, and cluster sizes."""
    d = load_table(spark, sf_dir, "documents")
    cnt = d.groupBy("lang").agg(F.count("*").alias("n"))
    tgt = cnt.agg(F.min("n").alias("t"))
    rates = cnt.crossJoin(F.broadcast(tgt)).select(
        "lang",
        F.least(
            F.lit(100), F.ceil(F.lit(100.0) * F.col("t") / F.col("n")).cast("int")
        ).alias("rate_pct"),
    )
    return (
        d.join(F.broadcast(rates), "lang")
        .where(_md5_bucket(F.col("doc_id"), 100) < F.col("rate_pct"))
        .groupBy("lang", "rate_pct")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").alias("chars_sampled"),
        )
    )


_MIX_BUDGET = 20_000  # total token budget of the target mixture

@register(
    "corpus_mix_allocation",
    oracle=f"""
        WITH w(lang, wgt) AS (
            VALUES ('en', 0.5), ('de', 0.125), ('es', 0.125),
                   ('fr', 0.125), ('zh', 0.125)
        ),
        avail AS (
            SELECT lang, CAST(SUM(n_chars // 4) AS BIGINT) AS avail_tokens
            FROM documents GROUP BY lang
        )
        SELECT a.lang, CAST(w.wgt AS DOUBLE) AS wgt,
               a.avail_tokens,
               LEAST(a.avail_tokens, CAST(w.wgt * {_MIX_BUDGET} AS BIGINT))
                   AS alloc_tokens,
               CAST((LEAST(a.avail_tokens,
                           CAST(w.wgt * {_MIX_BUDGET} AS BIGINT)) * 10000
                     + a.avail_tokens // 2) // a.avail_tokens AS BIGINT) AS epochs_e4
        FROM avail a JOIN w USING (lang)
    """,
    tags=("corpus", "mixing", "documents"),
)
def corpus_mix_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing: given target mixture weights per language (an
    inline dimension — in production a config table) and a total token
    budget, allocate tokens per language capped by availability and
    report the implied epoch count (fraction of the stratum consumed;
    >1 would mean repetition). Token counts use the standard ~4
    chars/token heuristic in exact integer arithmetic. The whole query
    aggregates 100 TB down to one row per language before any join —
    the mixing math never touches the corpus again."""
    d = load_table(spark, sf_dir, "documents")
    weights = spark.createDataFrame(
        [("en", 0.5), ("de", 0.125), ("es", 0.125), ("fr", 0.125), ("zh", 0.125)],
        "lang string, wgt double",
    )
    avail = d.groupBy("lang").agg(
        F.sum(F.expr("n_chars DIV 4")).alias("avail_tokens")
    )
    alloc = F.least(
        F.col("avail_tokens"), (F.col("wgt") * _MIX_BUDGET).cast("bigint")
    )
    return avail.join(F.broadcast(weights), "lang").select(
        "lang",
        "wgt",
        "avail_tokens",
        alloc.alias("alloc_tokens"),
        int_ratio(alloc, F.col("avail_tokens"), 4).alias("epochs_e4"),
    )


_PACK_BUDGET = 1024  # tokens per packed training sequence

@register(
    "sequence_pack_docs",
    oracle=f"""
        WITH t AS (
            SELECT lang, doc_id, n_chars // 4 AS toks FROM documents
        ),
        c AS (
            SELECT lang, doc_id, toks,
                   SUM(toks) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - toks AS start_off
            FROM t
        )
        SELECT lang,
               CAST(start_off // {_PACK_BUDGET} AS BIGINT) AS bin,
               COUNT(*) AS n_docs,
               CAST(SUM(toks) AS BIGINT) AS bin_tokens,
               MIN(doc_id) AS first_doc
        FROM c GROUP BY lang, bin
    """,
    tags=("corpus", "packing", "window", "documents"),
    bench=True,
)
def sequence_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate each language's documents in doc_id
    order into a contiguous token stream and split it every
    ``_PACK_BUDGET`` tokens — the standard pre-training packing rule (a
    document belongs to the bin where it starts). One running-sum window
    per language computes every start offset; bin assignment is then
    exact integer division. Packing per stratum (not globally) is what
    makes this scale: each language packs independently under one
    shuffle, instead of a single-partition global prefix sum. Reported
    per bin: document count, token mass (straddlers counted at their
    start bin, so interior bins can exceed the budget), first document."""
    d = load_table(spark, sf_dir, "documents").selectExpr(
        "lang", "doc_id", "n_chars DIV 4 AS toks"
    )
    c = d.selectExpr(
        "lang",
        "doc_id",
        "toks",
        "sum(toks) OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)"
        " - toks AS start_off",
    )
    return (
        c.groupBy(
            "lang",
            F.floor(F.col("start_off") / _PACK_BUDGET).cast("bigint").alias("bin"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@register(
    "embedding_int8_quantization",
    oracle="""
        WITH e AS (
            SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        q AS (
            SELECT label, v,
                   list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
            FROM e
        ),
        m AS (
            SELECT label, scale,
                   list_sum(list_transform(
                       v, x -> abs(x - round(x / scale) * scale))) / len(v)
                       AS err_mean
            FROM q
        )
        SELECT label, COUNT(*) AS n_vecs,
               CAST((SUM(CAST(FLOOR(scale * 100000000.0 + 0.5) AS BIGINT))
                     + (100 * COUNT(*)) // 2) // (100 * COUNT(*)) AS BIGINT) AS avg_scale_e6,
               CAST((SUM(CAST(FLOOR(err_mean * 100000000.0 + 0.5) AS BIGINT))
                     + (100 * COUNT(*)) // 2) // (100 * COUNT(*)) AS BIGINT) AS avg_abs_err_e6
        FROM m GROUP BY label
    """,
    tags=("similarity", "quantization", "embeddings"),
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of every embedding (the
    standard ANN index compression: 4x smaller than float32, scale =
    absmax/127 per vector) and its reconstruction error, summarized per
    label. Entirely JVM-side array expressions — no UDF, no shuffle
    except the final tiny per-label aggregate; at 100 TB this runs at
    parquet-scan speed and is exactly the map-side pass an IVF-PQ/SQ
    index build performs."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs)) / F.lit(127.0)
    err_sum = F.aggregate(
        F.transform(v, lambda x: F.abs(x - F.round(x / scale) * scale)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    per_vec = emb.select(
        "label",
        scale.alias("scale"),
        (err_sum / F.size("embedding")).alias("err_mean"),
    )
    # Per-vector doubles are deterministic (same fold order in both
    # engines); quantize each at 1e-8 BEFORE averaging so the group
    # aggregate is exact integer arithmetic (grid rule), displayed e6.
    s_e8 = F.floor(F.col("scale") * 100000000.0 + F.lit(0.5)).cast("bigint")
    e_e8 = F.floor(F.col("err_mean") * 100000000.0 + F.lit(0.5)).cast("bigint")
    return per_vec.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        int_ratio(F.sum(s_e8), F.lit(100) * F.count("*"), 0).alias("avg_scale_e6"),
        int_ratio(F.sum(e_e8), F.lit(100) * F.count("*"), 0).alias("avg_abs_err_e6"),
    )


@register(
    "winsorized_event_values",
    oracle="""
        WITH p AS (
            SELECT event_type,
                   quantile_cont(value, 0.05) AS p05,
                   quantile_cont(value, 0.95) AS p95
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CASE WHEN e.value < p.p05 OR e.value > p.p95
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
               CAST((SUM(CAST(FLOOR(e.value * 100.0 + 0.5) AS BIGINT)) * 100
                     + COUNT(*) // 2) // COUNT(*) AS BIGINT) AS mean_raw_e4,
               CAST((SUM(CAST(FLOOR(LEAST(GREATEST(e.value, p.p05), p.p95) * 10000.0 + 0.5) AS BIGINT))
                     + COUNT(*) // 2) // COUNT(*) AS BIGINT) AS mean_winsorized_e4
        FROM events e JOIN p USING (event_type)
        GROUP BY e.event_type
    """,
    tags=("events", "quality", "percentile", "winsorize"),
)
def winsorized_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile winsorization: clip each event's value to its event
    type's exact [p05, p95] band and compare raw vs clipped means — the
    outlier-robust metric cleanup a feature pipeline applies before
    training. The percentile table is one row per event type, broadcast
    back onto the fact table; at 100 TB the exact percentile pass is
    the expensive half and would switch to approx_percentile
    (tests/test_approx.py shows the sketch path) when exactness isn't
    contractual."""
    e = load_table(spark, sf_dir, "events")
    p = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        e.join(F.broadcast(p), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(
                    (F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95")),
                    1,
                ).otherwise(0)
            ).alias("n_clipped"),
            int_ratio(gsum(F.col("value"), 2) * 100, F.count("*"), 0).alias(
                "mean_raw_e4"
            ),
            int_ratio(gsum(clipped, 4), F.count("*"), 0).alias(
                "mean_winsorized_e4"
            ),
        )
    )
