"""Pipeline batch 51: sparse TF-IDF cosine document similarity (the
inverted-index sparse-vector complement of the dense embedding cosine
tier) and Fano-factor burstiness of daily event counts.

Sparse cosine discipline: TF-IDF weights are grid-quantized integers,
so dot products and squared norms are exact BIGINTs; only the final
per-pair cosine divides. Burstiness is the single exact division
(n*Sxx - Sx^2) / (n * Sx).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.pipeline import _TOKS
from multithreaded_map_reduce_library_spark.functions.grid import grid
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_TC_TOPK = 10


@register(
    "tfidf_cosine_top_pairs",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lower(unnest({_TOKS})) AS tok FROM documents
        ),
        tf AS (SELECT doc_id, tok, COUNT(*) AS f FROM t GROUP BY doc_id, tok),
        dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM t),
        wgt AS (
            SELECT tf.doc_id, tf.tok,
                   tf.f * CAST(FLOOR(ln(CAST(nd.n + 1 AS DOUBLE) / (dfq.df + 1))
                                     * 10000.0 + 0.5) AS BIGINT) AS w_q
            FROM tf JOIN dfq USING (tok) CROSS JOIN nd
        ),
        nrm AS (SELECT doc_id, SUM(w_q * w_q) AS n2 FROM wgt GROUP BY doc_id),
        dots AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w_q * b.w_q) AS dot
            FROM wgt a JOIN wgt b
              ON a.tok = b.tok AND a.doc_id < b.doc_id
            GROUP BY id_a, id_b
        ),
        cosr AS (
            SELECT d.id_a, d.id_b,
                   CAST(d.dot AS DOUBLE)
                       / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
                       AS c
            FROM dots d
            JOIN nrm na ON na.doc_id = d.id_a
            JOIN nrm nb ON nb.doc_id = d.id_b
        )
        SELECT id_a, id_b,
               CAST(FLOOR(c * 1000000.0 + 0.5) AS BIGINT) AS cos_e6,
               CAST(ROW_NUMBER() OVER (ORDER BY c DESC, id_a ASC, id_b ASC)
                    AS BIGINT) AS rnk
        FROM cosr
        QUALIFY rnk <= {_TC_TOPK}
    """,
    tags=("similarity", "tfidf", "sparse", "documents", "topk"),
)
def tfidf_cosine_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most similar document pairs by SPARSE TF-IDF cosine —
    the inverted-index sparse-vector sibling of the dense embedding
    cosine tier (and the classic IR 'more like this'): pairs meet only
    through shared tokens (the posting-list join), never all-pairs.
    TF-IDF weights are tf x grid-quantized-idf integers, so every dot
    product and squared norm is an exact BIGINT; ranks carry full id
    tiebreaks.

    Scale design: the pair space is bounded by co-occurring tokens
    (rare tokens have short postings; at 100 TB the hot stopword
    postings get pruned or prefix-filtered exactly like
    prefix_filter_jaccard_join); the top-k is TakeOrdered over the
    candidate relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.explode(tokens("text")).alias("t0")).select(
        "doc_id", F.lower("t0").alias("tok")
    )
    tf = t.groupBy("doc_id", "tok").agg(F.count("*").alias("f"))
    dfq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    nd = t.agg(F.countDistinct("doc_id").alias("n"))
    wgt = (
        tf.join(F.broadcast(dfq), "tok")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "tok",
            (
                F.col("f")
                * F.floor(
                    F.log((F.col("n") + 1).cast("double") / (F.col("df") + 1))
                    * 10000.0
                    + 0.5
                ).cast("bigint")
            ).alias("w_q"),
        )
    )
    nrm = wgt.groupBy("doc_id").agg(F.sum(F.col("w_q") * F.col("w_q")).alias("n2"))
    a = wgt.select(F.col("doc_id").alias("id_a"), "tok", F.col("w_q").alias("wa"))
    b = wgt.select(F.col("doc_id").alias("id_b"), "tok", F.col("w_q").alias("wb"))
    dots = (
        a.join(b, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("na2"))
    nb = nrm.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("nb2"))
    cosr = (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                )
            ).alias("c"),
        )
    )
    ranked = cosr.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), F.asc("id_a"), F.asc("id_b")))
        .cast("bigint"),
    )
    return ranked.where(F.col("rnk") <= _TC_TOPK).select(
        "id_a", "id_b", grid(F.col("c"), 6).alias("cos_e6"), "rnk"
    )


@register(
    "event_burstiness_fano",
    oracle="""
        WITH d AS (
            SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
            FROM events GROUP BY event_type, day
        ),
        s AS (
            SELECT event_type, COUNT(*) AS n, SUM(x) AS sx,
                   SUM(x * x) AS sxx
            FROM d GROUP BY event_type
        )
        SELECT event_type, n AS n_days, CAST(sx AS BIGINT) AS n_events,
               CAST(FLOOR(CAST(n * sxx - sx * sx AS DOUBLE)
                     / CAST(n AS DOUBLE) / sx * 1000000.0 + 0.5) AS BIGINT) AS fano_e6
        FROM s
    """,
    tags=("statistics", "burstiness", "events"),
)
def event_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio) of daily counts per event
    type — the burstiness index: 1 = Poisson-like arrivals, >1 =
    clumped/bursty, <1 = more regular than random. Computed as the
    single exact division (n*Sxx - Sx²) / (n*Sx) over integer daily
    counts (population variance over mean).

    Scale design: a (type, day) rollup then a 5-row sufficient-stats
    aggregate — nothing beyond the first map-side-combined count.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("x")
    )
    s = d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("sx").alias("n_events"),
        grid(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
            / F.col("n").cast("double")
            / F.col("sx"),
            6,
        ).alias("fano_e6"),
    )
