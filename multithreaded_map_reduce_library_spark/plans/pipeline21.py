"""Pipeline batch 21: sketch-based distinct counting (KMV), DSIR-style
importance weighting, and letter-entropy quality — staples of a
large-scale training-corpus pipeline, each with a full DuckDB oracle.
(Semantic dedup over embedding cells already lives in pipeline19's
``semdedup_within_cell``.)

Float discipline (pipeline8 rule): every per-item float contribution is
quantized round-to-nearest onto a 1e4 integer grid and summed as
BIGINT (partial-aggregation-order-invariant), or is the single IEEE
division of two exactly-representable integers; only displayed doubles
are rounded (6dp).

Reference parity note: the reference engine (mapreduce.c:44-83) has no
sketch/dedup tier — these are the driver-mandated LLM-pipeline
extensions, built Spark-first.
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

_KMV_K = 16
_POW48 = 1 << 48  # 2^48: the hash domain (12 hex digits), exact in double


def _hash48_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 12)) AS BIGINT)"


def _hash48(col) -> F.Column:
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 12), 16, 10).cast("bigint")


@register(
    "kmv_distinct_users_daily",
    oracle=f"""
        WITH h AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day,
                   {_hash48_sql("user_id")} AS h
            FROM events
        ),
        r AS (
            SELECT day, h,
                   ROW_NUMBER() OVER (PARTITION BY day ORDER BY h ASC) AS rk,
                   COUNT(*) OVER (PARTITION BY day) AS n_exact
            FROM h
        ),
        kth AS (
            SELECT day, n_exact, h AS h_k FROM r WHERE rk = {_KMV_K}
        ),
        est AS (
            SELECT r.day, r.n_exact,
                   CASE WHEN kth.h_k IS NULL
                        THEN CAST(r.n_exact AS DOUBLE)
                        ELSE CAST({(_KMV_K - 1)} AS DOUBLE) * {_POW48} / kth.h_k
                   END AS est
            FROM (SELECT DISTINCT day, n_exact FROM r) r
            LEFT JOIN kth USING (day)
        )
        SELECT day, n_exact,
               CAST(FLOOR(est * 1000000.0 + 0.5) AS BIGINT) AS est_e6,
               CAST(FLOOR(ABS(est - n_exact) / n_exact * 1000000.0 + 0.5) AS BIGINT) AS rel_err_e6
        FROM est
    """,
    tags=("sketch", "kmv", "distinct", "events"),
)
def kmv_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketch (Bar-Yossef et al. 2002): per
    day, keep the K=16 smallest 48-bit md5 hashes of user_id; the
    distinct-count estimate is (K-1) / normalized k-th minimum. Unlike
    HLL the whole estimator is deterministic integer/IEEE arithmetic, so
    the oracle reproduces it EXACTLY — a correctness-checked sketch,
    with the observed relative error as an output column.

    Scale design: the per-day state is K integers (mergeable: union the
    hash sets, re-take the K smallest — same as any KMV union), produced
    by one distinct-shuffle on (day, h) with map-side combine, then a
    K-deep per-day window. At 100 TB the sketch replaces the exact
    distinct at a fixed 16*8-byte state per group; the exact count here
    is the built-in error audit and would be dropped in production.
    """
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        F.to_date("ts").alias("day"), _hash48(F.col("user_id")).alias("h")
    ).distinct()
    w = Window.partitionBy("day").orderBy(F.asc("h"))
    r = h.select(
        "day",
        "h",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("day")).alias("n_exact"),
    )
    kth = r.where(F.col("rk") == _KMV_K).select("day", F.col("h").alias("h_k"))
    days = r.select("day", "n_exact").distinct()
    est = (
        days.join(kth, "day", "left")
        .select(
            "day",
            "n_exact",
            F.when(
                F.col("h_k").isNull(), F.col("n_exact").cast("double")
            )
            .otherwise(F.lit(float(_KMV_K - 1)) * _POW48 / F.col("h_k"))
            .alias("est"),
        )
    )
    return est.select(
        "day",
        "n_exact",
        grid(F.col("est"), 6).alias("est_e6"),
        grid(
            F.abs(F.col("est") - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("rel_err_e6"),
    )


_DSIR_B = 64  # hashed feature buckets


@register(
    "dsir_importance_weights",
    oracle=f"""
        WITH t AS (SELECT doc_id, lang, unnest({_TOKS}) AS tok FROM documents),
        b AS (SELECT doc_id, lang,
                     CAST(('0x' || substr(md5(tok), 1, 4)) AS BIGINT) % {_DSIR_B} AS bkt
              FROM t),
        raw AS (SELECT bkt, COUNT(*) AS r FROM b GROUP BY bkt),
        tgt AS (SELECT bkt, COUNT(*) AS t FROM b WHERE lang = 'en' GROUP BY bkt),
        tots AS (SELECT (SELECT COUNT(*) FROM b) AS rtot,
                        (SELECT COUNT(*) FROM b WHERE lang = 'en') AS ttot),
        lr AS (
            SELECT raw.bkt,
                   CAST(FLOOR((ln(CAST(COALESCE(tgt.t, 0) + 1 AS DOUBLE)
                                  / (tots.ttot + {_DSIR_B}))
                               - ln(CAST(raw.r + 1 AS DOUBLE)
                                    / (tots.rtot + {_DSIR_B})))
                              / ln(2.0) * 10000.0 + 0.5) AS BIGINT) AS lr_q
            FROM raw LEFT JOIN tgt USING (bkt) CROSS JOIN tots
        ),
        df AS (SELECT doc_id, bkt, COUNT(*) AS c FROM b GROUP BY doc_id, bkt),
        w AS (SELECT df.doc_id, SUM(df.c) AS n_toks,
                     SUM(df.c * lr.lr_q) AS w_q
              FROM df JOIN lr USING (bkt) GROUP BY df.doc_id)
        SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
               CAST(w_q AS DOUBLE) / CAST(n_toks AS DOUBLE) / 10000.0
                   AS avg_logratio
        FROM w
    """,
    tags=("corpus", "selection", "importance", "dsir", "documents"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): hash every token
    into B=64 buckets, fit add-1-smoothed bucket distributions for the
    TARGET corpus (here: lang='en' documents) and the RAW corpus, and
    score each document by its mean per-token log2 likelihood ratio
    log(p_target/p_raw). Positive = looks like the target; resampling
    keeps documents proportionally.

    Float discipline: the per-bucket log-ratio is quantized once onto
    the 1e4 grid (64 libm calls total), document scores are then pure
    BIGINT sums — aggregation-order-invariant — displayed as the raw
    quotient of two integers (pipeline8 rule).

    Scale design: two global bucket histograms (64 rows each, broadcast)
    + one (doc, bucket) count aggregate with map-side combine; the score
    join is against a 64-row broadcast. No shuffle grows with corpus
    size beyond the (doc,bucket) aggregate, which is bounded by 64 rows
    per document.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        "lang",
        F.explode(tokens("text")).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        (F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("bigint") % _DSIR_B).alias(
            "bkt"
        ),
    )
    raw = b.groupBy("bkt").agg(F.count("*").alias("r"))
    tgt = b.where(F.col("lang") == "en").groupBy("bkt").agg(F.count("*").alias("t"))
    tots = b.agg(
        F.count("*").alias("rtot"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("ttot"),
    )
    lr = (
        raw.join(tgt, "bkt", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "bkt",
            F.floor(
                (
                    F.log(
                        (F.coalesce("t", F.lit(0)) + 1).cast("double")
                        / (F.col("ttot") + _DSIR_B)
                    )
                    - F.log((F.col("r") + 1).cast("double") / (F.col("rtot") + _DSIR_B))
                )
                / F.log(F.lit(2.0))
                * 10000.0
                + 0.5
            )
            .cast("bigint")
            .alias("lr_q"),
        )
    )
    df = b.groupBy("doc_id", "bkt").agg(F.count("*").alias("c"))
    w = (
        df.join(F.broadcast(lr), "bkt")
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_toks"), F.sum(F.col("c") * F.col("lr_q")).alias("w_q"))
    )
    return w.select(
        "doc_id",
        "n_toks",
        (F.col("w_q").cast("double") / F.col("n_toks").cast("double") / 10000.0).alias(
            "avg_logratio"
        ),
    )


@register(
    "letter_entropy_quality",
    oracle="""
        WITH l AS (SELECT doc_id,
                          unnest(regexp_extract_all(lower(text), '[a-z]')) AS ch
                   FROM documents),
        cf AS (SELECT doc_id, ch, COUNT(*) AS c FROM l GROUP BY doc_id, ch),
        n AS (SELECT doc_id, SUM(c) AS n FROM cf GROUP BY doc_id),
        q AS (SELECT cf.doc_id,
                     CAST(FLOOR(cf.c * (ln(CAST(n.n AS DOUBLE) / cf.c) / ln(2.0))
                                * 10000.0 + 0.5) AS BIGINT) AS bits_q
              FROM cf JOIN n USING (doc_id))
        SELECT q.doc_id, CAST(n.n AS BIGINT) AS n_letters,
               CAST(SUM(q.bits_q) AS DOUBLE) / CAST(n.n AS DOUBLE) / 10000.0
                   AS entropy_bits
        FROM q JOIN n USING (doc_id)
        GROUP BY q.doc_id, n.n
    """,
    tags=("quality", "entropy", "text-analysis", "documents"),
)
def letter_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the letter distribution per document — the
    classic cheap gibberish detector: natural prose sits near ~4.1
    bits/letter; keyboard mashing and base64 blobs sit far higher,
    single-character spam far lower. Pipelines gate on the band.

    Float discipline: per-(doc,letter) contribution c*log2(n/c) is
    quantized to the 1e4 grid and summed as BIGINT (order-invariant);
    the displayed entropy is the raw quotient (pipeline8 rule).

    Scale design: at most 26 rows per document after the first
    aggregate (map-side combine does the heavy lifting); everything
    after is bounded-width. One shuffle on (doc_id, ch), one on doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    l = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.lower("text"), F.lit("[a-z]"), 0)).alias("ch"),
    )
    cf = l.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    n = cf.groupBy("doc_id").agg(F.sum("c").alias("n"))
    q = cf.join(n, "doc_id").select(
        "doc_id",
        "n",
        F.floor(
            F.col("c")
            * (F.log(F.col("n").cast("double") / F.col("c")) / F.log(F.lit(2.0)))
            * 10000.0
            + 0.5
        )
        .cast("bigint")
        .alias("bits_q"),
    )
    return (
        q.groupBy("doc_id", "n")
        .agg(F.sum("bits_q").alias("bq"))
        .select(
            "doc_id",
            F.col("n").alias("n_letters"),
            (F.col("bq").cast("double") / F.col("n").cast("double") / 10000.0).alias(
                "entropy_bits"
            ),
        )
    )
