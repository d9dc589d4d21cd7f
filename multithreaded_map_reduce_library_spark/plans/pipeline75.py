"""Pipeline batch 75 (round 4): Heaps'-law vocabulary growth — the
token→type curve and its fitted exponent.

V(n) ≈ K·n^β (Heaps/Herdan): how fast the vocabulary grows as the corpus
is scanned. A training-data pipeline reads β to decide whether more data
keeps buying new types (β near 1 = open vocabulary / noisy OCR; β ≈
0.4–0.6 = natural language) and to size tokenizer vocabularies. Fits the
repo's corpus-statistics tier next to Zipf (``token_zipf_tab``) and
letter entropy.

Exactness discipline: the only transcendental is ``ln``, quantized
per-checkpoint to the 1e-4 grid (``FLOOR(ln(x)*1e4+0.5)`` — the same
pattern letter_entropy/doc_unigram_logprob ship); the OLS fit then runs
on exact BIGINT power sums with the n·Sxy−Sx·Sy products formed in
DOUBLE (int64-overflow-safe, identical expression both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_TOK_RE = "[ \\t\\r\\n]"


@register(
    "heaps_law_vocab_growth",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   lower(unnest(list_filter(string_split_regex(text, '{_TOK_RE}'),
                                            x -> x <> ''))) AS tok
            FROM documents
        ),
        per_doc AS (SELECT doc_id, COUNT(*) AS n_toks FROM t GROUP BY doc_id),
        first_doc AS (SELECT tok, MIN(doc_id) AS d0 FROM t GROUP BY tok),
        new_types AS (SELECT d0 AS doc_id, COUNT(*) AS n_new FROM first_doc
                      GROUP BY d0),
        curve AS (
            SELECT p.doc_id,
                   SUM(p.n_toks) OVER (ORDER BY p.doc_id
                                       ROWS UNBOUNDED PRECEDING) AS cum_toks,
                   SUM(COALESCE(nt.n_new, 0)) OVER (ORDER BY p.doc_id
                                       ROWS UNBOUNDED PRECEDING) AS cum_types
            FROM per_doc p LEFT JOIN new_types nt USING (doc_id)
        ),
        q AS (
            -- CASE guards keep ln() away from nonpositive inputs in BOTH
            -- engines (Spark log(0) is NULL, DuckDB -inf — never compare)
            SELECT cum_toks, cum_types,
                   CASE WHEN cum_toks > 0 AND cum_types > 0
                        THEN CAST(FLOOR(ln(CAST(cum_toks AS DOUBLE))
                                        * 10000.0 + 0.5) AS BIGINT) END AS lx,
                   CASE WHEN cum_toks > 0 AND cum_types > 0
                        THEN CAST(FLOOR(ln(CAST(cum_types AS DOUBLE))
                                        * 10000.0 + 0.5) AS BIGINT) END AS ly
            FROM curve
        ),
        s AS (
            SELECT COUNT(*) AS n_docs,
                   CAST(MAX(cum_toks) AS BIGINT) AS n_tokens,
                   CAST(MAX(cum_types) AS BIGINT) AS n_types,
                   COUNT(lx) AS n,
                   CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
                   CAST(SUM(lx * ly) AS BIGINT) AS sxy,
                   CAST(SUM(lx * lx) AS BIGINT) AS sxx
            FROM q
        )
        SELECT n_docs, n_tokens, n_types,
               CAST(FLOOR((CAST(n AS DOUBLE) * sxy
                           - CAST(sx AS DOUBLE) * sy)
                          / (CAST(n AS DOUBLE) * sxx
                             - CAST(sx AS DOUBLE) * sx)
                          * 1000000.0 + 0.5) AS BIGINT) AS beta_e6,
               CAST(FLOOR((CAST(sy AS DOUBLE) / 10000.0 / n
                           - (CAST(n AS DOUBLE) * sxy
                              - CAST(sx AS DOUBLE) * sy)
                             / (CAST(n AS DOUBLE) * sxx
                                - CAST(sx AS DOUBLE) * sx)
                             * (CAST(sx AS DOUBLE) / 10000.0 / n))
                          * 1000000.0 + 0.5) AS BIGINT) AS ln_k_e6
        FROM s
    """,
    tags=("text-analysis", "corpus-stats", "heaps-law", "documents"),
)
def heaps_law_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit over the corpus scanned in doc_id order: the
    vocabulary-growth curve (cumulative types vs cumulative tokens at
    every document boundary) and the OLS fit of ``ln V = ln K + β ln n``
    over the per-document checkpoints — one row out: corpus totals plus
    ``beta_e6`` and ``ln_k_e6`` on the integer grid.

    Scale design: tokens shuffle once to find each type's FIRST document
    (min doc_id per token — map-side combine); everything after runs on
    per-document SKINNY relations (one row per doc). The cumulative
    window is a global prefix sum over that skinny relation — at 100 TB
    this becomes the standard two-pass distributed prefix sum
    (per-partition partials + broadcast offsets) over ~millions of rows,
    not the token table; the token-scale work stays one shuffle. The
    OLS reduction is a single map-side-combined aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.explode(tokens(F.lower(F.col("text")), _TOK_RE)).alias("tok"),
    )
    per_doc = t.groupBy("doc_id").agg(F.count("*").alias("n_toks"))
    first_doc = t.groupBy("tok").agg(F.min("doc_id").alias("d0"))
    new_types = first_doc.groupBy(F.col("d0").alias("doc_id")).agg(
        F.count("*").alias("n_new")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    curve = per_doc.join(new_types, "doc_id", "left").select(
        "doc_id",
        F.sum("n_toks").over(w).alias("cum_toks"),
        F.sum(F.coalesce(F.col("n_new"), F.lit(0))).over(w).alias("cum_types"),
    )
    # CASE guards keep ln() away from nonpositive inputs in BOTH engines
    ok = (F.col("cum_toks") > 0) & (F.col("cum_types") > 0)
    q = curve.select(
        "cum_toks",
        "cum_types",
        F.when(
            ok,
            F.floor(F.log(F.col("cum_toks").cast("double")) * 10000.0 + 0.5).cast(
                "bigint"
            ),
        ).alias("lx"),
        F.when(
            ok,
            F.floor(F.log(F.col("cum_types").cast("double")) * 10000.0 + 0.5).cast(
                "bigint"
            ),
        ).alias("ly"),
    )
    # ONE aggregate carries the corpus totals AND the OLS power sums — no
    # second scan branch, no cross join of grand aggregates
    s = q.agg(
        F.count("*").alias("n_docs"),
        F.max("cum_toks").alias("n_tokens"),
        F.max("cum_types").alias("n_types"),
        F.count("lx").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    slope = (nd * F.col("sxy") - sxd * F.col("sy")) / (
        nd * F.col("sxx") - sxd * F.col("sx")
    )
    intercept = F.col("sy").cast("double") / 10000.0 / F.col("n") - slope * (
        sxd / 10000.0 / F.col("n")
    )
    return s.select(
        "n_docs",
        "n_tokens",
        "n_types",
        F.floor(slope * 1000000.0 + 0.5).cast("bigint").alias("beta_e6"),
        F.floor(intercept * 1000000.0 + 0.5).cast("bigint").alias("ln_k_e6"),
    )


@register(
    "prefix_sum_distributed_revenue",
    oracle="""
        WITH e AS (
            SELECT event_id, ts,
                   CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        )
        SELECT event_id,
               CAST(SUM(cents) OVER (ORDER BY ts ASC, event_id ASC
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_cents
        FROM e
    """,
    tags=("window", "prefix-sum", "scale-pattern", "events"),
)
def prefix_sum_distributed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global running revenue total via the TWO-PASS DISTRIBUTED PREFIX
    SUM — the pattern that replaces `Window.orderBy(...)` (which Spark
    executes as a SINGLE-partition window: the whole relation through one
    task) when the relation is the fact table, not a skinny per-group
    rollup:

    1. range-repartition on the order key so partitions hold contiguous
       key ranges;
    2. per-partition running sums via a window PARTITIONED BY the
       physical partition id (parallel — no global exchange);
    3. per-partition TOTALS (a |partitions|-row relation) get their own
       exclusive prefix sum — the only serial step, over ~dozens of
       rows — and broadcast-join back as each partition's offset.

    The oracle is the plain global windowed sum, so the hash proves the
    decomposition exact row-for-row (ties broken by event_id inside the
    range partitioner's key). At 100 TB this is THE way cumulative
    metrics, CDF normalizations, and exclusive scans run; the serial
    stage stays O(#partitions) regardless of data size."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
        )
    )
    ranged = e.repartitionByRange(16, F.col("ts").asc(), F.col("event_id").asc())
    part = ranged.withColumn("pid", F.spark_partition_id())
    w_in = (
        Window.partitionBy("pid")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = part.withColumn("local_cum", F.sum("cents").over(w_in))
    totals = part.groupBy("pid").agg(F.sum("cents").alias("part_total"))
    w_off = (
        Window.orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "pid", F.coalesce(F.sum("part_total").over(w_off), F.lit(0)).alias("offset")
    )
    return (
        local.join(F.broadcast(offsets), "pid")
        .select(
            "event_id",
            (F.col("local_cum") + F.col("offset")).alias("cum_cents"),
        )
    )


@register(
    "multimodal_wav_float32_energy",
    oracle="""
        WITH s AS (
            SELECT vec_id AS asset_id,
                   CAST((i - 1) // 16 AS INTEGER) AS frame_idx,
                   CAST(FLOOR(CAST(list_extract(embedding, i) AS DOUBLE)
                              * 1000000.0 + 0.5) AS BIGINT) AS q
            FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
        )
        SELECT asset_id,
               CAST(16000 AS INTEGER) AS sample_rate,
               CAST(64 AS INTEGER) AS n_samples,
               frame_idx,
               CAST(SUM(q * q) AS BIGINT) AS energy_q
        FROM s
        GROUP BY asset_id, frame_idx
    """,
    tags=("multimodal", "audio", "wav", "float32", "mapInPandas"),
)
def multimodal_wav_float32_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL IEEE-float32 WAV (format code 3) round trip with ZERO
    quantization loss: the embedding column is float32 in parquet, so the
    fabricated fmt-3 payload carries the exact stored bits; the decoder
    recovers them, quantizes to the 1e-6 integer grid (float32→float64
    exact, one correctly-rounded multiply+floor), and emits per-frame
    exact BIGINT energies. The oracle replays the identical quantization
    straight from the column — a hash match proves the float bytes
    survived the container round trip bit-for-bit.

    Completes the WAV fmt envelope: fmt-1 PCM 16/24-bit mono/stereo
    (pipeline62/74) + fmt-3 IEEE float mono here; everything else raises.

    Scale design: same as every media kernel — Arrow-batched map-side
    encode/decode, 4 skinny integer rows per asset, zero shuffles."""
    from multithreaded_map_reduce_library_spark.operators.multimodal import (
        embeddings_as_wav_float32_assets,
        wav_float32_frame_energy,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return wav_float32_frame_energy(embeddings_as_wav_float32_assets(emb))
