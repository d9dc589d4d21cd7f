"""Pipeline batch 49: multinomial Naive Bayes language classification
(the generative counterpart of pipeline22's discriminative logreg) and
the within-estimator (fixed-effects) panel slope — both with every
score an exact BIGINT sum.

Naive Bayes discipline: per-(token, lang) log-likelihoods and the
per-lang log-priors are quantized ONCE onto the 1e4 grid (a vocab x
langs table); each document's class scores are then pure integer sums,
so the argmax (ties to the lexicographically first language) cannot
drift between runs or engines.
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


@register(
    "naive_bayes_langid",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, lower(unnest({_TOKS})) AS tok
            FROM documents
        ),
        v AS (SELECT COUNT(DISTINCT tok) AS vsize FROM t),
        cl AS (SELECT lang, tok, COUNT(*) AS c FROM t GROUP BY lang, tok),
        tl AS (SELECT lang, SUM(c) AS tot FROM cl GROUP BY lang),
        langs AS (SELECT DISTINCT lang FROM documents),
        pri AS (
            SELECT lang,
                   CAST(FLOOR(ln(CAST(n AS DOUBLE) / tot_docs) * 10000.0 + 0.5)
                        AS BIGINT) AS prior_q
            FROM (SELECT lang, COUNT(*) AS n,
                         (SELECT COUNT(*) FROM documents) AS tot_docs
                  FROM documents GROUP BY lang)
        ),
        lq AS (
            SELECT langs.lang, vt.tok,
                   CAST(FLOOR(ln((CAST(COALESCE(cl.c, 0) + 1 AS DOUBLE))
                                 / (tl.tot + v.vsize)) * 10000.0 + 0.5) AS BIGINT)
                       AS lq_q
            FROM (SELECT DISTINCT tok FROM t) vt
            CROSS JOIN langs
            CROSS JOIN v
            JOIN tl ON tl.lang = langs.lang
            LEFT JOIN cl ON cl.lang = langs.lang AND cl.tok = vt.tok
        ),
        df AS (SELECT doc_id, lang AS labeled_lang, tok, COUNT(*) AS f
               FROM t GROUP BY doc_id, labeled_lang, tok),
        sc AS (
            SELECT df.doc_id, df.labeled_lang, lq.lang AS cand,
                   SUM(df.f * lq.lq_q) + MAX(pri.prior_q) AS score_q
            FROM df
            JOIN lq ON lq.tok = df.tok
            JOIN pri ON pri.lang = lq.lang
            GROUP BY df.doc_id, df.labeled_lang, cand
        ),
        best AS (
            SELECT doc_id, labeled_lang, cand AS pred_lang,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score_q DESC, cand ASC) AS rn
            FROM sc
        )
        SELECT labeled_lang, pred_lang, COUNT(*) AS n_docs
        FROM best WHERE rn = 1
        GROUP BY labeled_lang, pred_lang
    """,
    tags=("classifier", "naive-bayes", "lang-id", "documents"),
)
def naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language identification, trained and
    evaluated on the corpus (add-1 smoothing, log-prior + token
    log-likelihood sums): the GENERATIVE classic beside the
    discriminative `logreg_quality_classifier` and the rule-based
    `lang_id_heuristic` — the output confusion matrix is directly
    comparable with `langid_confusion_matrix`. Every per-document class
    score is a BIGINT sum of grid-quantized log terms, so the argmax is
    exactly reproducible (ties to the first language).

    Scale design: training is two token-keyed aggregates (the
    (lang, token) table is vocab x langs, broadcastable); scoring joins
    each document's term counts against that table and sums — the
    classic "NB is one big join-aggregate" layout that scales linearly.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.col("lang"), F.explode(tokens("text")).alias("t0")
    ).select("doc_id", "lang", F.lower("t0").alias("tok"))
    v = t.agg(F.countDistinct("tok").alias("vsize"))
    cl = t.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    tl = cl.groupBy("lang").agg(F.sum("c").alias("tot"))
    nd = docs.agg(F.count("*").alias("tot_docs"))
    pri = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(nd))
        .select(
            "lang",
            F.floor(
                F.log(F.col("n").cast("double") / F.col("tot_docs")) * 10000.0 + 0.5
            )
            .cast("bigint")
            .alias("prior_q"),
        )
    )
    vt = t.select("tok").distinct()
    langs = docs.select("lang").distinct()
    lq = (
        # bcast-bounded: langs is DISTINCT over a spec-bounded code domain
        # (a handful of ISO language codes at any corpus size)
        vt.crossJoin(F.broadcast(langs))
        .join(F.broadcast(tl), "lang")
        .crossJoin(F.broadcast(v))
        .join(cl, ["lang", "tok"], "left")
        .select(
            "lang",
            "tok",
            F.floor(
                F.log(
                    (F.coalesce("c", F.lit(0)) + 1).cast("double")
                    / (F.col("tot") + F.col("vsize"))
                )
                * 10000.0
                + 0.5
            )
            .cast("bigint")
            .alias("lq_q"),
        )
    )
    df = t.groupBy("doc_id", F.col("lang").alias("labeled_lang"), "tok").agg(
        F.count("*").alias("f")
    )
    sc = (
        df.join(lq.withColumnRenamed("lang", "cand"), "tok")
        .join(F.broadcast(pri.withColumnRenamed("lang", "cand")), "cand")
        .groupBy("doc_id", "labeled_lang", "cand")
        .agg(
            (F.sum(F.col("f") * F.col("lq_q")) + F.max("prior_q")).alias("score_q")
        )
    )
    best = (
        sc.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.desc("score_q"), F.asc("cand")
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select("labeled_lang", F.col("cand").alias("pred_lang"))
    )
    return best.groupBy("labeled_lang", "pred_lang").agg(
        F.count("*").alias("n_docs")
    )


@register(
    "fixed_effects_hour_slope",
    oracle="""
        WITH e AS (
            SELECT user_id, CAST(hour(ts) AS BIGINT) AS x,
                   CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS y
            FROM events
        ),
        u AS (
            SELECT user_id, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * y) AS sxy, SUM(x * x) AS sxx
            FROM e GROUP BY user_id
        ),
        q AS (
            SELECT user_id,
                   CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE) / n
                              * 10000.0 + 0.5) AS BIGINT) AS num_q,
                   CAST(FLOOR(CAST(n * sxx - sx * sx AS DOUBLE) / n
                              * 10000.0 + 0.5) AS BIGINT) AS den_q
            FROM u WHERE n >= 2
        ),
        w AS (SELECT COUNT(*) AS n_users, SUM(num_q) AS sn, SUM(den_q) AS sd
              FROM q),
        pooled AS (
            SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * y) AS sxy, SUM(x * x) AS sxx
            FROM e
        )
        SELECT w.n_users,
               CAST(FLOOR(CAST(w.sn AS DOUBLE) / w.sd / 100.0
                          * 1000000.0 + 0.5) AS BIGINT) AS slope_within_e6,
               CAST(FLOOR(CAST(pooled.n * pooled.sxy - pooled.sx * pooled.sy AS DOUBLE)
                     / CAST(pooled.n * pooled.sxx - pooled.sx * pooled.sx AS DOUBLE)
                     / 100.0 * 1000000.0 + 0.5) AS BIGINT) AS slope_pooled_e6
        FROM w CROSS JOIN pooled
    """,
    tags=("statistics", "panel", "fixed-effects", "events"),
)
def fixed_effects_hour_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-estimator (user fixed effects) slope of value on
    hour-of-day, next to the pooled OLS slope — the panel-econometrics
    answer to `simpsons_paradox_scan`: demeaning within users removes
    user-level confounding, so a pooled/within disagreement localizes
    the confounder. Per-user covariance terms (n*Sxy - SxSy)/n ride the
    1e4 grid and BIGINT-sum across users; the pooled slope is the exact
    sufficient-statistics quotient. Displayed in value-units/hour.

    Scale design: one user-keyed aggregate of five integer sums, a
    grand sum over users, and the pooled grand aggregate — three
    map-side-combined passes over skinny state, any user count.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.hour("ts").cast("bigint").alias("x"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("y"),
    )
    u = e.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    q = u.where(F.col("n") >= 2).select(
        F.floor(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.col("n")
            * 10000.0
            + 0.5
        )
        .cast("bigint")
        .alias("num_q"),
        F.floor(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
            / F.col("n")
            * 10000.0
            + 0.5
        )
        .cast("bigint")
        .alias("den_q"),
    )
    w = q.agg(
        F.count("*").alias("n_users"),
        F.sum("num_q").alias("sn"),
        F.sum("den_q").alias("sd"),
    )
    pooled = e.agg(
        F.count("*").alias("pn"),
        F.sum("x").alias("psx"),
        F.sum("y").alias("psy"),
        F.sum(F.col("x") * F.col("y")).alias("psxy"),
        F.sum(F.col("x") * F.col("x")).alias("psxx"),
    )
    return w.crossJoin(F.broadcast(pooled)).select(
        "n_users",
        grid(F.col("sn").cast("double") / F.col("sd") / 100.0, 6).alias(
            "slope_within_e6"
        ),
        grid(
            (F.col("pn") * F.col("psxy") - F.col("psx") * F.col("psy")).cast(
                "double"
            )
            / (F.col("pn") * F.col("psxx") - F.col("psx") * F.col("psx")).cast(
                "double"
            )
            / 100.0,
            6,
        ).alias("slope_pooled_e6"),
    )
