"""Pipeline batch 117 (round 4): RAKE KEYPHRASES + PPS SYSTEMATIC
SAMPLING — corpus keyphrase extraction (the classic unsupervised
RAKE of Rose et al. 2010) and the sampling-theory member the sampling
family was missing:

* ``rake_keyphrases`` — candidate phrases are maximal stopword-free
  token runs (gaps-and-islands on a broadcast stopword set, runs
  capped at 4 tokens), word score = deg(w)/freq(w) with deg summing
  phrase lengths over occurrences (exact integers, e6 half-up ratio),
  phrase score = Σ word scores; top 15 by (score DESC, phrase ASC).
* ``pps_systematic_docs`` — probability-proportional-to-size
  systematic sampling of documents by n_chars with the DETERMINISTIC
  midpoint anchor (thresholds t_k = (k+½)·T/n — no RNG, pure integer
  threshold-crossing arithmetic on the cumulative size walk), plus
  the Horvitz-Thompson estimate of total TOKEN count from the sample
  audited against the true total (π_i = n·size_i/T).

Reference parity anchor: the reference engine (mapreduce.h:44-83) has
no text or sampling tier; these extend the driver-mandated superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.grid import duck_int_ratio, int_ratio
from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_STOP = (
    "the of and a to in is it that for on with as at by an be this was are "
    "from or has had not have but which you his her its their"
).split()
_MAX_PHRASE = 4
_TOP_K = 15
_N_SAMPLES = 20

_DUCK_STOP = "[" + ", ".join(f"'{w}'" for w in _STOP) + "]"


@register(
    "rake_keyphrases",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   lower(ts[CAST(pos AS INTEGER)]) AS tok,
                   CAST(pos AS BIGINT) AS pos,
                   list_contains({_DUCK_STOP},
                                 lower(ts[CAST(pos AS INTEGER)])) AS is_stop
            FROM (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '[ \t\r\n]'),
                                   t -> t <> '') AS ts
                FROM documents
            ), UNNEST(range(1, len(ts) + 1)) AS u2(pos)
        ),
        runs AS (
            SELECT doc_id, tok, pos,
                   SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS run_id,
                   is_stop
            FROM toks
        ),
        phrase_words AS (
            SELECT doc_id, run_id, tok,
                   CAST(COUNT(*) OVER (PARTITION BY doc_id, run_id) AS BIGINT)
                       AS plen,
                   pos
            FROM runs WHERE NOT is_stop
        ),
        capped AS (
            SELECT * FROM phrase_words WHERE plen <= {_MAX_PHRASE}
        ),
        word_stats AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
                   CAST(SUM(plen) AS BIGINT) AS deg
            FROM capped GROUP BY tok
        ),
        scored_words AS (
            SELECT tok, {duck_int_ratio("deg", "freq", 6)} AS ws
            FROM word_stats
        ),
        phrases AS (
            SELECT c.doc_id, c.run_id,
                   string_agg(c.tok, ' ' ORDER BY c.pos) AS phrase,
                   CAST(SUM(sw.ws) AS BIGINT) AS score_e6
            FROM capped c JOIN scored_words sw ON sw.tok = c.tok
            GROUP BY c.doc_id, c.run_id
        ),
        dist AS (
            SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                   CAST(MAX(score_e6) AS BIGINT) AS score_e6
            FROM phrases GROUP BY phrase
        )
        SELECT phrase, n_occurrences, score_e6
        FROM dist
        ORDER BY score_e6 DESC, phrase ASC
        LIMIT {_TOP_K}
    """,
    tags=("text", "keyphrase", "rake", "documents", "global-sort"),
)
def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction over the corpus: stopword-free token
    runs (≤ 4 tokens) are the candidates; word score deg/freq uses
    exact integer degree (Σ phrase length over occurrences) and
    frequency with the e6 half-up ratio; a phrase's score sums its
    words' scores (multiplicity included). Identical phrases collapse
    (same words ⇒ same score — MAX is a no-op made explicit) and the
    top 15 are ordered (score DESC, phrase ASC), fully deterministic.

    Scale design: tokenize + gaps-and-islands run assignment are
    per-doc map-side work (one window keyed by doc); word stats and
    phrase scoring shuffle only (token)- and (doc, run)-keyed skinny
    rows. The stopword set is a literal (broadcast by constant-fold).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(tokens("text")).alias("pos0", "tok0"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.lower(F.col("tok0")).alias("tok"),
    )
    toks = toks.withColumn(
        "is_stop", F.col("tok").isin(*_STOP)
    )
    wrun = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    runs = toks.select(
        "doc_id",
        "tok",
        "pos",
        "is_stop",
        F.sum(F.when(F.col("is_stop"), 1).otherwise(0)).over(wrun).alias("run_id"),
    )
    wlen = Window.partitionBy("doc_id", "run_id")
    phrase_words = (
        runs.where(~F.col("is_stop"))
        .withColumn("plen", F.count("*").over(wlen).cast("bigint"))
        .where(F.col("plen") <= _MAX_PHRASE)
    )
    word_stats = phrase_words.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    scored_words = word_stats.select(
        "tok", int_ratio(F.col("deg"), F.col("freq"), 6).alias("ws")
    )
    phrases = (
        phrase_words.join(scored_words, "tok")
        .groupBy("doc_id", "run_id")
        .agg(
            F.concat_ws(" ", F.array_sort(
                F.collect_list(F.struct("pos", "tok"))
            ).getField("tok")).alias("phrase"),
            F.sum("ws").cast("bigint").alias("score_e6"),
        )
    )
    dist = phrases.groupBy("phrase").agg(
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.max("score_e6").cast("bigint").alias("score_e6"),
    )
    return (
        dist.orderBy(F.desc("score_e6"), F.asc("phrase"))
        .limit(_TOP_K)
        .select("phrase", "n_occurrences", "score_e6")
    )


@register(
    "pps_systematic_docs",
    oracle=f"""
        WITH sized AS (
            SELECT doc_id, n_chars AS sz,
                   CAST(len(list_filter(string_split_regex(text, '[ \t\r\n]'),
                                        t -> t <> '')) AS BIGINT) AS n_toks,
                   CAST(SUM(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS cum
            FROM documents
        ),
        tot AS (
            SELECT CAST(MAX(cum) AS BIGINT) AS t,
                   CAST((SELECT SUM(n_toks) FROM sized) AS BIGINT) AS true_toks
            FROM sized
        ),
        marked AS (
            -- #thresholds t_k=(k+1/2)T/n <= x  equals  min(n, (2xn-T)//(2T)+1)
            SELECT doc_id, sz, n_toks,
                   GREATEST(LEAST({_N_SAMPLES},
                       CASE WHEN 2 * cum * {_N_SAMPLES} >= t
                            THEN (2 * cum * {_N_SAMPLES} - t) // (2 * t) + 1
                            ELSE 0 END)
                     - LEAST({_N_SAMPLES},
                       CASE WHEN 2 * (cum - sz) * {_N_SAMPLES} >= t
                            THEN (2 * (cum - sz) * {_N_SAMPLES} - t) // (2 * t) + 1
                            ELSE 0 END), 0) AS m
            FROM sized CROSS JOIN tot
        ),
        ht AS (
            SELECT CAST(SUM(m) AS BIGINT) AS n_draws,
                   CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_distinct_docs,
                   CAST(SUM(m * {duck_int_ratio("n_toks * t", f"{_N_SAMPLES} * sz", 2)})
                        AS BIGINT) AS ht_toks_e2
            FROM marked CROSS JOIN tot
        )
        SELECT ht.n_draws, ht.n_distinct_docs, ht.ht_toks_e2,
               tot.true_toks,
               CAST(FLOOR(ABS(CAST(ht.ht_toks_e2 AS DOUBLE) / 100.0 - tot.true_toks)
                          / tot.true_toks * 1000000.0 + 0.5) AS BIGINT) AS rel_err_e6
        FROM ht CROSS JOIN tot
    """,
    tags=("sampling", "pps", "horvitz-thompson", "documents", "global-sort"),
)
def pps_systematic_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPS systematic sample of documents by n_chars with the
    deterministic midpoint anchor: thresholds t_k = (k+½)·T/n land in
    the cumulative-size walk by pure integer comparisons (2·cum·n vs
    (2k+1)·T — no floats, no RNG), multi-hit docs keep multiplicity m.
    The Horvitz-Thompson estimator of total token count
    Σ m·tok·T/(n·size) is then audited against the true total — PPS
    by size makes size-correlated totals nearly exact, which the
    rel_err column exhibits.

    Scale design: one cumulative window over the doc-id order and a
    single aggregate; at 100 TB the cumulative walk runs per shard
    with shard-offset composition (the prefix-sum pattern already in
    the registry as `prefix_sum_distributed_revenue`)."""
    docs = load_table(spark, sf_dir, "documents")
    wcum = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    sized = docs.select(
        "doc_id",
        F.col("n_chars").alias("sz"),
        F.size(tokens("text")).cast("bigint").alias("n_toks"),
        F.sum("n_chars").over(wcum).cast("bigint").alias("cum"),
    )
    tot = sized.agg(
        F.max("cum").cast("bigint").alias("t"),
        F.sum("n_toks").cast("bigint").alias("true_toks"),
    )
    n = F.lit(_N_SAMPLES).cast("bigint")

    def hits(x: F.Column) -> F.Column:
        raw = F.when(
            2 * x * n >= F.col("t"),
            F.call_function(
                "div", 2 * x * n - F.col("t"), 2 * F.col("t")
            )
            + 1,
        ).otherwise(F.lit(0).cast("bigint"))
        return F.least(n, raw)

    marked = sized.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "sz",
        "n_toks",
        "t",
        F.greatest(
            hits(F.col("cum")) - hits(F.col("cum") - F.col("sz")), F.lit(0).cast("bigint")
        ).alias("m"),
    )
    ht = marked.agg(
        F.sum("m").cast("bigint").alias("n_draws"),
        F.sum(F.when(F.col("m") > 0, 1).otherwise(0)).cast("bigint").alias(
            "n_distinct_docs"
        ),
        F.sum(
            F.col("m")
            * int_ratio(F.col("n_toks") * F.col("t"), n * F.col("sz"), 2)
        )
        .cast("bigint")
        .alias("ht_toks_e2"),
    )
    return ht.crossJoin(F.broadcast(tot)).select(
        "n_draws",
        "n_distinct_docs",
        "ht_toks_e2",
        "true_toks",
        F.floor(
            F.abs(F.col("ht_toks_e2").cast("double") / 100.0 - F.col("true_toks"))
            / F.col("true_toks")
            * 1000000.0
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("rel_err_e6"),
    )
