"""Pipeline batch 67: three data-platform governance/selection operators —

* ``bpe_oov_rate_by_lang`` — vocabulary coverage audit: share of corpus
  words the learned BPE vocab does NOT cover, per language (the
  complement of pipeline64's fertility: fertility says how expensive
  covered words are, OOV rate says how much text the tokenizer can't
  segment at all without byte fallback).
* ``winnowing_fingerprints`` — the MOSS winnowing scheme (Schleimer,
  Wilkerson & Aiken, SIGMOD 2003): per shingle-hash window keep the
  minimum hash; the distinct selected hashes are the document's
  fingerprint set, with the guarantee that any shared run of >= w+n-1
  words between two documents shares at least one fingerprint.
* ``k_anonymity_release`` — release-gating aggregate: (event_type, day)
  cells are published only when >= K distinct users contribute,
  suppressed otherwise — the k-anonymity rule every aggregate data
  release applies before leaving the trust boundary.

All-integer outputs (counts and int_ratio grids); every oracle replays
the exact same md5/window arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.grid import (
    duck_int_ratio,
    int_ratio,
)
from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.pipeline import (
    _duck_h32,
    _duck_shingles,
)
from multithreaded_map_reduce_library_spark.plans.pipeline22 import (
    _bpe_chain_sql,
    _bpe_learn,
)
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table, spread

_W = 4  # winnowing window (in shingle positions)
_N = 3  # shingle width (words)
_K_ANON = 5  # k-anonymity threshold


def _oov_oracle() -> str:
    chain, final, _ = _bpe_chain_sql()
    return f"""
        WITH {chain},
        dw AS (SELECT d.lang,
                      lower(unnest(list_filter(string_split_regex(d.text, '[ \t\r\n]'),
                                               x -> x <> ''))) AS word
               FROM documents d),
        j AS (SELECT dw.lang,
                     CASE WHEN {final}.word IS NULL THEN 1 ELSE 0 END AS oov
              FROM dw LEFT JOIN {final} USING (word)),
        g AS (SELECT lang, COUNT(*) AS n_words,
                     CAST(SUM(oov) AS BIGINT) AS n_oov
              FROM j GROUP BY lang)
        SELECT lang, n_words, n_oov,
               {duck_int_ratio('n_oov', 'n_words', 6)} AS oov_rate_e6
        FROM g
    """


@register(
    "bpe_oov_rate_by_lang",
    oracle=_oov_oracle(),
    tags=("tokenizer", "bpe", "oov", "coverage"),
)
def bpe_oov_rate_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary COVERAGE audit: per language, total whitespace words,
    words absent from the learned BPE vocabulary (would need byte
    fallback), and the OOV rate on the exact _e6 grid. Together with
    `bpe_fertility_by_lang` this is the standard two-number tokenizer
    scorecard per language.

    Scale design: same broadcast-vocab left join as the fertility query
    — corpus streams map-side, the anti-match is a null check on the
    broadcast side, one |langs|-row aggregate finishes."""
    vocab, _ = _bpe_learn(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select("lang", F.explode(tokens("text")).alias("w")).select(
        "lang", F.lower("w").alias("word")
    )
    vw = vocab.select("word", F.lit(1).alias("_in_vocab"))
    g = (
        dw.join(F.broadcast(vw), "word", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
    )
    return g.select(
        "lang",
        "n_words",
        "n_oov",
        int_ratio(F.col("n_oov"), F.col("n_words"), 6).alias("oov_rate_e6"),
    )


@register(
    "winnowing_fingerprints",
    oracle=f"""
        WITH sh AS (SELECT doc_id, {_duck_shingles(_N)} AS s FROM documents),
        hv AS (SELECT doc_id, list_transform(s, x -> {_duck_h32('x')}) AS h,
                      len(s) AS m
               FROM sh),
        fps AS (SELECT doc_id, m,
                       CASE WHEN m >= {_W}
                            THEN len(list_distinct(list_transform(
                                     range(1, m - {_W} + 2),
                                     i -> list_aggregate(
                                         list_slice(h, i, i + {_W} - 1), 'min'))))
                            ELSE 0 END AS n_fingerprints,
                       CASE WHEN m >= {_W} THEN m - {_W} + 1 ELSE 0 END
                           AS n_windows
                FROM hv)
        SELECT doc_id,
               CAST(m AS BIGINT) AS n_shingles,
               CAST(n_windows AS BIGINT) AS n_windows,
               CAST(n_fingerprints AS BIGINT) AS n_fingerprints,
               CASE WHEN n_windows = 0 THEN 0
                    ELSE {duck_int_ratio('n_fingerprints', 'n_windows', 4)}
               END AS density_e4
        FROM fps
    """,
    tags=("dedup", "fingerprinting", "winnowing"),
    bench=True,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing (SIGMOD 2003): hash every word 3-gram shingle,
    slide a window of w=4 consecutive positions, and keep each window's
    MINIMUM hash; the distinct kept hashes are the document fingerprint
    set. Guarantee: two documents sharing any run of >= w+n-1 = 6 words
    share a fingerprint — a detection floor MinHash cannot promise.
    Output per doc: shingle count, window count, fingerprint count, and
    density (selected/window, _e4 grid — expected ~2/(w+1)); docs
    shorter than one window report zero windows.

    Scale design: the ENTIRE computation is per-document — one
    Arrow-batched kernel (operators/dedup.py::winnowing_stats_pandas_udf:
    the shared functions/text.py::shingle_h32 hashes plus vectorized
    sliding minima) — so the operator is pure map-side with no keyed
    shuffle (a one-row-group table is dealt over the cores first,
    sources/catalog.py::spread). Measured at sf0.1: the first
    explode+window+countDistinct version took 15.9 s (three shuffles),
    a higher-order expression form 8-9 s (interpreted md5 transform),
    this kernel ~1 s. The fingerprint index it feeds joins documents by
    fp like the LSH band-key join, never all-pairs."""
    from multithreaded_map_reduce_library_spark.operators.dedup import (
        winnowing_stats_pandas_udf,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    stats = winnowing_stats_pandas_udf(_N, _W)
    f = docs.select("doc_id", stats("text").alias("s")).select(
        "doc_id",
        F.col("s.m").alias("m"),
        F.col("s.nf").alias("nf"),
        F.greatest(F.col("s.m") - F.lit(_W - 1), F.lit(0).cast("bigint")).alias("nw"),
    )
    return f.select(
        "doc_id",
        F.col("m").cast("bigint").alias("n_shingles"),
        F.col("nw").cast("bigint").alias("n_windows"),
        F.col("nf").cast("bigint").alias("n_fingerprints"),
        F.when(F.col("nw") == 0, F.lit(0).cast("bigint"))
        .otherwise(int_ratio(F.col("nf"), F.col("nw"), 4))
        .alias("density_e4"),
    )


@register(
    "k_anonymity_release",
    oracle=f"""
        WITH cells AS (
            SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                   COUNT(DISTINCT user_id) AS n_users,
                   COUNT(*) AS n_events
            FROM events GROUP BY 1, 2
        ),
        audit AS (
            SELECT CAST(SUM(CASE WHEN n_users < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_suppressed
            FROM cells
        )
        SELECT c.event_type, c.day,
               CAST(c.n_users AS BIGINT) AS n_users,
               CAST(c.n_events AS BIGINT) AS n_events,
               a.n_suppressed
        FROM cells c CROSS JOIN audit a
        WHERE c.n_users >= {_K_ANON}
    """,
    tags=("governance", "k-anonymity", "privacy", "events"),
)
def k_anonymity_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release gate over the (event_type, day) aggregate:
    publish a cell only when >= k=5 DISTINCT users contribute to it, so
    no released row can be pinned to fewer than 5 people; every row also
    carries the global count of suppressed cells (the release's
    disclosure-audit line). This is the standard minimum-cell-size rule
    aggregate exports apply at the trust boundary.

    Scale design: one distinct-user aggregate per cell (the shuffle is
    on the release key), the suppression audit is a 1-row grand
    aggregate broadcast back across released rows — no second scan of
    the fact table."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            F.col("ts").cast("timestamp").cast("date").alias("day"),
            "user_id",
        )
        .groupBy("event_type", "day")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count("*").cast("bigint").alias("n_events"),
        )
    )
    audit = cells.agg(
        F.sum(F.when(F.col("n_users") < _K_ANON, 1).otherwise(0))
        .cast("bigint")
        .alias("n_suppressed")
    )
    return (
        cells.filter(F.col("n_users") >= _K_ANON)
        .join(F.broadcast(audit))  # 1-row grand aggregate (BNLJ-exempt)
        .select("event_type", "day", "n_users", "n_events", "n_suppressed")
    )


_L_DIV = 2  # minimum distinct sensitive-value classes per released cell


@register(
    "l_diversity_audit",
    oracle=f"""
        WITH med AS (
            SELECT MEDIAN(value) AS mv FROM events
        ),
        cells AS (
            SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                   COUNT(DISTINCT user_id) AS n_users,
                   COUNT(DISTINCT CASE WHEN value >= mv THEN 1 ELSE 0 END)
                       AS n_classes
            FROM events CROSS JOIN med GROUP BY 1, 2
        )
        SELECT event_type, day,
               CAST(n_users AS BIGINT) AS n_users,
               CAST(n_classes AS BIGINT) AS n_classes,
               CAST(CASE WHEN n_users >= {_K_ANON}
                          AND n_classes >= {_L_DIV} THEN 1 ELSE 0 END AS BIGINT)
                   AS releasable
        FROM cells
    """,
    tags=("governance", "l-diversity", "privacy", "events"),
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the companion check to `k_anonymity_release`:
    a cell that clears the k=5 distinct-user bar can STILL leak if every
    contributor shares the same sensitive value (everyone in the cell
    bought above the median, say). Each (event_type, day) cell reports
    its distinct-user count, the number of distinct sensitive classes
    present (value above/below the global median — 2 classes max), and
    the release decision requiring BOTH k-anonymity (>= 5 users) and
    l-diversity (>= 2 classes). Machanavajjhala et al., ICDE 2006.

    Scale design: the sensitive-class cut is one broadcast scalar (the
    global median); the audit itself is the same single release-key
    aggregate as the k-anonymity gate — l-diversity costs one extra
    COUNT(DISTINCT) in the same shuffle."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.agg(F.expr("median(value)").alias("mv"))
    cells = (
        ev.join(F.broadcast(med))  # 1-row grand aggregate (BNLJ-exempt)
        .select(
            "event_type",
            F.col("ts").cast("timestamp").cast("date").alias("day"),
            "user_id",
            F.when(F.col("value") >= F.col("mv"), F.lit(1)).otherwise(F.lit(0))
            .alias("cls"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.countDistinct("cls").cast("bigint").alias("n_classes"),
        )
    )
    return cells.select(
        "event_type",
        "day",
        "n_users",
        "n_classes",
        F.when(
            (F.col("n_users") >= _K_ANON) & (F.col("n_classes") >= _L_DIV), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("releasable"),
    )
