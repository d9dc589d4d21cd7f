"""Pipeline batch 57: Dunning log-likelihood-ratio collocations (the
G² statistic that made 'surprise-based' collocation detection standard
— robust where PMI/lift blow up on sparse counts) and the segmented
before/after fit at the CUSUM changepoint (composing the detector with
sufficient-statistics regression).

G² discipline: the four O*ln(O/E) terms are computed from exact
integer contingency counts, quantized per term, and BIGINT-summed;
ranking uses the quantized statistic with bigram tiebreaks.
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

_DL_TOPK = 20


def _llr_term_sql(o: str, e: str) -> str:
    return f"(CASE WHEN {o} > 0 THEN {o} * ln(CAST({o} AS DOUBLE) / ({e})) ELSE 0.0 END)"


@register(
    "dunning_llr_bigrams",
    oracle=f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
        bg AS (
            SELECT lower(tk[i]) AS w1, lower(tk[i + 1]) AS w2
            FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS u(i)
        ),
        n AS (SELECT COUNT(*) AS nb FROM bg),
        c12 AS (SELECT w1, w2, COUNT(*) AS o11 FROM bg GROUP BY w1, w2),
        c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
        c2 AS (SELECT w2, COUNT(*) AS c2 FROM bg GROUP BY w2),
        tab AS (
            SELECT c12.w1, c12.w2, c12.o11,
                   c1.c1 - c12.o11 AS o12,
                   c2.c2 - c12.o11 AS o21,
                   n.nb - c1.c1 - c2.c2 + c12.o11 AS o22,
                   c1.c1, c2.c2, n.nb
            FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
        ),
        g AS (
            SELECT w1, w2, o11,
                   CAST(FLOOR(2.0 * (
                       {_llr_term_sql("o11", "CAST(c1 AS DOUBLE) * c2 / nb")}
                     + {_llr_term_sql("o12", "CAST(c1 AS DOUBLE) * (nb - c2) / nb")}
                     + {_llr_term_sql("o21", "CAST(nb - c1 AS DOUBLE) * c2 / nb")}
                     + {_llr_term_sql("o22", "CAST(nb - c1 AS DOUBLE) * (nb - c2) / nb")}
                   ) * 10000.0 + 0.5) AS BIGINT) AS g_q
            FROM tab
        )
        SELECT w1, w2, o11 AS n_cooccur,
               CAST(g_q AS DOUBLE) / 10000.0 AS llr,
               CAST(ROW_NUMBER() OVER (ORDER BY g_q DESC, w1 ASC, w2 ASC)
                    AS BIGINT) AS rnk
        FROM g
        QUALIFY rnk <= {_DL_TOPK}
    """,
    tags=("corpus-stats", "collocation", "llr", "documents", "topk"),
)
def dunning_llr_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by Dunning's log-likelihood ratio
    (G², 1993): 2·Σ O·ln(O/E) over each bigram's 2x2 contingency table
    against the independence expectation — the statistic that stays
    honest on sparse counts where PMI explodes (completing the
    collocation pair with `bigram_lift_assoc`). The full G² is
    quantized in one expression from exact integer counts; ranks carry
    bigram tiebreaks.

    Scale design: adjacent-pair counts and the two marginal tables are
    map-side-combined aggregates; the statistic is a map expression
    over the |bigram| relation joined to broadcastable margins; top-k
    is TakeOrdered.
    """
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(tokens("text").alias("tk"))
    narr = F.size("tk")
    bg = tk.select(
        F.explode(
            F.arrays_zip(
                F.slice("tk", 1, narr - 1).alias("a"),
                F.slice("tk", 2, narr - 1).alias("b"),
            )
        ).alias("p")
    ).select(F.lower("p.a").alias("w1"), F.lower("p.b").alias("w2"))
    n = bg.agg(F.count("*").alias("nb"))
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("o11"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    c2 = bg.groupBy("w2").agg(F.count("*").alias("c2"))
    tab = (
        c12.join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "o11",
            (F.col("c1") - F.col("o11")).alias("o12"),
            (F.col("c2") - F.col("o11")).alias("o21"),
            (F.col("nb") - F.col("c1") - F.col("c2") + F.col("o11")).alias("o22"),
            "c1",
            "c2",
            "nb",
        )
    )

    def term(o, e):
        return F.when(
            F.col(o) > 0, F.col(o) * F.log(F.col(o).cast("double") / e)
        ).otherwise(0.0)

    nb_d = F.col("nb").cast("double")
    g_q = F.floor(
        2.0
        * (
            term("o11", F.col("c1").cast("double") * F.col("c2") / F.col("nb"))
            + term(
                "o12",
                F.col("c1").cast("double") * (F.col("nb") - F.col("c2")) / F.col("nb"),
            )
            + term(
                "o21",
                (F.col("nb") - F.col("c1")).cast("double") * F.col("c2") / F.col("nb"),
            )
            + term(
                "o22",
                (F.col("nb") - F.col("c1")).cast("double")
                * (F.col("nb") - F.col("c2"))
                / F.col("nb"),
            )
        )
        * 10000.0
        + 0.5
    ).cast("bigint")
    g = tab.select("w1", "w2", "o11", g_q.alias("g_q"))
    ranked = g.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.desc("g_q"), F.asc("w1"), F.asc("w2")))
        .cast("bigint"),
    )
    return ranked.where(F.col("rnk") <= _DL_TOPK).select(
        "w1",
        "w2",
        F.col("o11").alias("n_cooccur"),
        (F.col("g_q").cast("double") / 10000.0).alias("llr"),
        "rnk",
    )


@register(
    "changepoint_segment_fit",
    oracle="""
        WITH d AS (
            SELECT CAST(ts AS DATE) AS day,
                   SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS v_q
            FROM events GROUP BY day
        ),
        g AS (SELECT COUNT(*) AS n, SUM(v_q) AS tot FROM d),
        c AS (
            SELECT day, v_q,
                   SUM(v_q) OVER (ORDER BY day ASC ROWS UNBOUNDED PRECEDING)
                       AS pre,
                   ROW_NUMBER() OVER (ORDER BY day ASC) AS i
            FROM d
        ),
        cp AS (
            SELECT i AS cp_i FROM (
                SELECT c.i, ABS(g.n * c.pre - c.i * g.tot) AS dev
                FROM c CROSS JOIN g
            ) ORDER BY dev DESC, i ASC LIMIT 1
        ),
        seg AS (
            SELECT c.i, c.v_q,
                   CASE WHEN c.i <= cp.cp_i THEN 0 ELSE 1 END AS side
            FROM c CROSS JOIN cp
        ),
        s AS (
            SELECT side, COUNT(*) AS n, SUM(i) AS sx, SUM(v_q) AS sy,
                   SUM(i * v_q) AS sxy, SUM(i * i) AS sxx
            FROM seg GROUP BY side
        ),
        fit AS (
            SELECT side,
                   CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE) / 1000000.0
                         * 1000000.0 + 0.5) AS BIGINT) AS slope_e6,
                   CAST(FLOOR(CAST(sy AS DOUBLE) / n / 1000000.0
                         * 1000000.0 + 0.5) AS BIGINT) AS mean_e6
            FROM s WHERE n * sxx - sx * sx > 0
        )
        SELECT (SELECT MAX(cp_i) FROM cp) AS cp_index,
               MAX(CASE WHEN side = 0 THEN slope_e6 END) AS slope_pre_r,
               MAX(CASE WHEN side = 0 THEN mean_e6 END) AS mean_pre_r,
               MAX(CASE WHEN side = 1 THEN slope_e6 END) AS slope_post_r,
               MAX(CASE WHEN side = 1 THEN mean_e6 END) AS mean_post_r
        FROM fit
    """,
    tags=("time-series", "changepoint", "regression", "events", "global-sort"),
)
def changepoint_segment_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented (broken-stick) fit around the CUSUM changepoint: the
    day `cusum_changepoint_daily` flags splits the daily series, and
    each side gets its own exact-sufficient-statistics OLS slope and
    mean — the report that says not just WHEN the level shifted but
    what the regime looked like before and after. One row out.

    Scale design: the day series is calendar-bounded; the changepoint
    is the same scaled-integer argmax; the two fits are one side-keyed
    aggregate of five BIGINT sums.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint")).alias("v_q")
    )
    g = d.agg(F.count("*").alias("n"), F.sum("v_q").alias("tot"))
    wcum = Window.orderBy(F.asc("day")).rowsBetween(Window.unboundedPreceding, 0)
    c = d.select(
        "day",
        "v_q",
        F.sum("v_q").over(wcum).alias("pre"),
        F.row_number().over(Window.orderBy(F.asc("day"))).alias("i"),
    )
    cp = (
        c.crossJoin(F.broadcast(g))
        .select(
            "i",
            F.abs(F.col("n") * F.col("pre") - F.col("i") * F.col("tot")).alias(
                "dev"
            ),
        )
        .orderBy(F.desc("dev"), F.asc("i"))
        .limit(1)
        .agg(F.max("i").alias("cp_i"))
    )
    seg = c.crossJoin(F.broadcast(cp)).select(
        "i",
        "v_q",
        F.when(F.col("i") <= F.col("cp_i"), 0).otherwise(1).alias("side"),
    )
    s = seg.groupBy("side").agg(
        F.count("*").alias("n"),
        F.sum("i").alias("sx"),
        F.sum("v_q").alias("sy"),
        F.sum(F.col("i") * F.col("v_q")).alias("sxy"),
        F.sum(F.col("i") * F.col("i")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    fit = s.where(den > 0).select(
        "side",
        grid(num.cast("double") / den.cast("double") / 1000000.0, 6).alias(
            "slope_e6"
        ),
        grid(
            F.col("sy").cast("double") / F.col("n") / 1000000.0, 6
        ).alias("mean_e6"),
    )
    return fit.crossJoin(F.broadcast(cp)).agg(
        F.max("cp_i").alias("cp_index"),
        F.max(F.when(F.col("side") == 0, F.col("slope_e6"))).alias("slope_pre_r"),
        F.max(F.when(F.col("side") == 0, F.col("mean_e6"))).alias("mean_pre_r"),
        F.max(F.when(F.col("side") == 1, F.col("slope_e6"))).alias("slope_post_r"),
        F.max(F.when(F.col("side") == 1, F.col("mean_e6"))).alias("mean_post_r"),
    )
