"""Pipeline batch 4: search & warehouse primitives — inverted index
construction, BM25-style ranking, SCD type-2 history building, and
count-min-sketch heavy hitters with exact verification.

Reference parity note: none of these exist in the reference (its whole
surface is the five functions in ``mapreduce.h:44-83``); an inverted
index is, however, the canonical "second MapReduce application" in the
original MapReduce paper, so it belongs in any engine claiming that
lineage. Float rules: every score is a composition of +,-,*,/ on
doubles (IEEE-deterministic across engines) with decimal literals CAST
to DOUBLE on the DuckDB side, rounded exactly once at the end; no
transcendentals (the BM25 idf is the rational odds form, not the log
form, precisely so the cross-engine hash cannot drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.grid import int_ratio
from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

#: fixed search query for the BM25 ranking demo
_QUERY_TERMS = ("spark", "join", "hash")

#: count-min sketch geometry: 4 hash rows x 1024 columns
_CMS_DEPTH = 4
_CMS_WIDTH = 1024


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.explode(tokens("text", " ")).alias("tok"))


@register(
    "inverted_index_tokens",
    oracle="""
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                     FROM documents),
        d AS (SELECT DISTINCT tok, doc_id FROM tok WHERE tok <> '')
        SELECT tok AS token,
               COUNT(*) AS df,
               -- CSV, not LIST: compound oracle outputs are driver-fragile
               -- (pandas renders DuckDB LIST as numpy arrays, whose str()
               -- differs from a Python list's) — same class as HUGEINT
               array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
        FROM d GROUP BY tok
    """,
    tags=("search", "inverted-index", "documents", "text-analysis"),
)
def inverted_index_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the corpus: token -> sorted posting list of
    doc_ids plus document frequency — the canonical second MapReduce
    application (after word count) in Dean & Ghemawat §2.3, and the
    retrieval structure BM25 below consumes.

    Scale design: explode -> distinct -> groupBy all hash-partition on
    the token, so one shuffle builds the index and partial aggregation
    combines map-side. At 100 TB a stop-word's posting list outgrows a
    single array cell — production splits postings into fixed-size
    blocks (token, block_no, postings) and delta-encodes doc_ids; the
    per-token grouping key and sort order here carry over unchanged.
    """
    d = _doc_tokens(spark, sf_dir).distinct()
    return d.groupBy(F.col("tok").alias("token")).agg(
        F.count("*").alias("df"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
            ),
            ",",
        ).alias("postings"),
    )


@register(
    "bm25_doc_scores",
    oracle=f"""
        WITH t AS (SELECT doc_id,
                          len(string_split(text, ' ')) AS dl,
                          string_split(text, ' ') AS toks
                   FROM documents),
        stats AS (SELECT COUNT(*) AS n,
                         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
                  FROM t),
        tok AS (SELECT doc_id, dl, unnest(toks) AS tok FROM t),
        tf AS (SELECT doc_id, dl, tok, COUNT(*) AS tf
               FROM tok WHERE tok IN {_QUERY_TERMS!r}
               GROUP BY doc_id, dl, tok),
        dft AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok
                WHERE tok IN {_QUERY_TERMS!r} GROUP BY tok),
        s AS (SELECT tf.doc_id,
                     ((CAST(n AS DOUBLE) - df + CAST(0.5 AS DOUBLE))
                      / (df + CAST(0.5 AS DOUBLE)))
                     * ((tf * CAST(2.2 AS DOUBLE))
                        / (tf + CAST(1.2 AS DOUBLE)
                               * (CAST(0.25 AS DOUBLE)
                                  + CAST(0.75 AS DOUBLE)
                                    * (CAST(dl AS DOUBLE) / avgdl))))
                     AS term_score
              FROM tf JOIN dft ON tf.tok = dft.tok CROSS JOIN stats)
        SELECT doc_id,
               CAST(SUM(CAST(FLOOR(term_score * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS score_e6,
               COUNT(*) AS n_terms
        FROM s GROUP BY doc_id
    """,
    tags=("search", "bm25", "ranking", "documents"),
)
def bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-style relevance score of every document against the fixed
    query ``spark join hash`` (k1=1.2, b=0.75). The idf uses the
    rational odds form ``(N - df + 0.5) / (df + 0.5)`` instead of its
    logarithm: per-term ranking is order-equivalent, and the whole
    score stays inside IEEE +,-,*,/ so the DuckDB twin is bit-exact
    before the single final round (module docstring).

    Scale design: the corpus-side work is one explode + one groupBy on
    (doc, term); ``df`` (per-term document frequency, |terms| rows) and
    the global (N, avgdl) scalar both broadcast, so scoring is map-side
    after the tf shuffle. Query terms are a WHERE-IN pushed below the
    aggregation — the scan never shuffles non-matching tokens.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id", F.size("toks").alias("dl"), "toks"
    )
    stats = t.agg(
        F.count("*").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tok = t.select("doc_id", "dl", F.explode("toks").alias("tok")).filter(
        F.col("tok").isin(*_QUERY_TERMS)
    )
    tf = tok.groupBy("doc_id", "dl", "tok").agg(F.count("*").alias("tf"))
    dft = tok.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    idf = (F.col("n").cast("double") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    denom = F.col("tf") + F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * (F.col("dl").cast("double") / F.col("avgdl"))
    )
    s = (
        tf.join(F.broadcast(dft), "tok")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (idf * ((F.col("tf") * F.lit(2.2)) / denom)).alias("term_score"),
        )
    )
    return s.groupBy("doc_id").agg(
        F.sum(
            F.floor(F.col("term_score") * 1000000.0 + F.lit(0.5)).cast("bigint")
        ).alias("score_e6"),
        F.count("*").alias("n_terms"),
    )


@register(
    "scd2_user_value_tiers",
    oracle="""
        WITH t AS (SELECT user_id, ts, event_id,
                          CASE WHEN value < 5 THEN 'low'
                               WHEN value < 15 THEN 'mid'
                               ELSE 'high' END AS tier
                   FROM events),
        c AS (SELECT user_id, ts, event_id, tier,
                     LAG(tier) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
              FROM t),
        chg AS (SELECT user_id, ts, event_id, tier
                FROM c WHERE prev IS NULL OR tier <> prev)
        SELECT user_id, tier,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS version,
               ts AS effective_from,
               LEAD(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS effective_to
        FROM chg
    """,
    tags=("warehouse", "scd2", "window", "events"),
)
def scd2_user_value_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: collapse each user's
    event stream into value-tier validity intervals — one row per tier
    *change*, versioned, with ``effective_from``/``effective_to``
    (NULL = current). The standard dimension-history pattern for a
    warehouse fed from an event log, built with lag-filter-lead instead
    of a self-join.

    Scale design: all three windows partition by ``user_id`` with the
    same (ts, event_id) total order, so Catalyst computes them off one
    exchange + one sort; change rows are a tiny fraction of events, so
    the second window pass touches almost nothing. Deterministic under
    timestamp ties via the event_id tiebreak.
    """
    e = load_table(spark, sf_dir, "events")
    tier = (
        F.when(F.col("value") < 5, "low")
        .when(F.col("value") < 15, "mid")
        .otherwise("high")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = e.select("user_id", "ts", "event_id", tier.alias("tier")).withColumn(
        "prev", F.lag("tier").over(w)
    )
    chg = c.filter(F.col("prev").isNull() | (F.col("tier") != F.col("prev")))
    return chg.select(
        "user_id",
        "tier",
        F.row_number().over(w).cast("long").alias("version"),
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w).alias("effective_to"),
    )


@register(
    "cms_heavy_hitter_tokens",
    oracle="""
        WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok
                     FROM documents),
        t AS (SELECT tok FROM tok WHERE tok <> ''),
        tot AS (SELECT COUNT(*) AS total FROM t)
        SELECT tok AS token,
               COUNT(*) AS n_occurrences,
               CAST((COUNT(*) * 1000000 + total // 2) // total AS BIGINT)
                   AS share_e6
        FROM t CROSS JOIN tot
        GROUP BY tok, total
        HAVING COUNT(*) * 100 >= total
    """,
    tags=("sketch", "count-min", "heavy-hitters", "text-analysis"),
)
def cms_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (tokens with >= 1% of all occurrences) found the
    sketch way: a distributed count-min sketch (4 x 1024, xxhash64
    rows) estimates every distinct token's frequency, the sketch's
    one-sided error guarantees the candidate set is a superset of the
    true heavy hitters, and a second exact pass over only the
    candidates removes false positives. The emitted counts are exact —
    which is why a plain GROUP BY/HAVING oracle can hash-check a
    sketch-based plan.

    Scale design: the sketch build is ``explode(depth rows) ->
    groupBy(row, col).count()`` — partial aggregation caps every map
    task's shuffle output at depth*width = 4096 cells no matter how
    many tokens it scans, exactly the merge property that makes CMS
    work on 100 TB where a naive distinct-key count would shuffle the
    corpus vocabulary. Estimation joins the (tiny) cell table back by
    broadcast; the exact verification pass filters the scan against the
    broadcast candidate list, so the second pass shuffles only
    candidate tokens.
    """
    toks = _doc_tokens(spark, sf_dir).select("tok")
    hashes = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.pmod(F.xxhash64(F.lit(d), F.col("tok")), F.lit(_CMS_WIDTH)).alias(
                    "col"
                ),
            )
            for d in range(_CMS_DEPTH)
        ]
    )
    cells = (
        toks.select(F.explode(hashes).alias("h"))
        .select("h.d", "h.col")
        .groupBy("d", "col")
        .agg(F.count("*").alias("cnt"))
    )
    est = (
        toks.distinct()
        .select("tok", F.explode(hashes).alias("h"))
        .select("tok", "h.d", "h.col")
        .join(F.broadcast(cells), ["d", "col"])
        .groupBy("tok")
        .agg(F.min("cnt").alias("est"))
    )
    tot = toks.agg(F.count("*").alias("total"))
    candidates = (
        est.crossJoin(F.broadcast(tot))
        .filter(F.col("est") * 100 >= F.col("total"))
        .select("tok")
    )
    exact = (
        toks.join(F.broadcast(candidates), "tok")
        .groupBy("tok")
        .agg(F.count("*").alias("n_occurrences"))
    )
    return (
        exact.crossJoin(F.broadcast(tot))
        .filter(F.col("n_occurrences") * 100 >= F.col("total"))
        .select(
            F.col("tok").alias("token"),
            "n_occurrences",
            int_ratio(F.col("n_occurrences"), F.col("total"), 6).alias("share_e6"),
        )
    )
