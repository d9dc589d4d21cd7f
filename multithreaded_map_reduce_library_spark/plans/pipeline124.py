"""Pipeline batch 124 (round 4): AUTOCOMPLETE PREFIXES + BH-FDR — the
search-suggest aggregation and the multiple-testing correction the
A/B family (z-test, chi², ANOVA, Mann-Whitney) was missing:

* ``prefix_completion_counts`` — 3-character token prefixes with
  occurrence counts and the modal completion per prefix
  (deterministic (count DESC, token ASC) argmax): the search-
  autocomplete / query-suggest backing table, built by a substring
  projection and two skinny aggregations; top 10 prefixes by volume.
* ``bh_fdr_weekday_effect`` — per-event-type weekday-vs-weekend value
  z statistics from exact integer moments, then the Benjamini-
  Hochberg step-up at α=0.10 done IN z-SPACE: p_(k) ≤ kα/m is
  equivalent to |z|_(k) ≥ Φ⁻¹(1−kα/2m), and those five critical
  values are hardcoded double literals — identical in both engines,
  no CDF required. Emits each test's z, its BH rank, critical value,
  and the step-up rejection verdict.

Reference parity anchor: the reference engine (mapreduce.h:44-83) has
no search or statistics tier; these extend the driver-mandated
superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.grid import grid
from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

# Phi^{-1}(1 - 0.10*k/(2*5)) for k = 1..5 — BH step-up critical values
# in z-space at alpha = 0.10, m = 5 tests (fixed literals, both engines).
_BH_CRIT = (
    2.3263478740408408,
    2.0537489106318225,
    1.8807936081512509,
    1.750686071252169,
    1.6448536269514722,
)
_TOP_PFX = 10

_DUCK_WEEKEND = "(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7) IN (2, 3)"


@register(
    "prefix_completion_counts",
    oracle=f"""
        WITH toks AS (
            SELECT lower(u.tok) AS tok
            FROM (
                SELECT list_filter(string_split_regex(text, '[ \t\r\n]'),
                                   t -> t <> '') AS ts
                FROM documents
            ), UNNEST(ts) AS u(tok)
            WHERE length(u.tok) >= 3
        ),
        pfx AS (
            SELECT substr(tok, 1, 3) AS prefix, tok
            FROM toks
        ),
        per_tok AS (
            SELECT prefix, tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM pfx GROUP BY prefix, tok
        ),
        ranked AS (
            SELECT prefix, tok, c,
                   ROW_NUMBER() OVER (PARTITION BY prefix
                                      ORDER BY c DESC, tok ASC) AS rn,
                   CAST(SUM(c) OVER (PARTITION BY prefix) AS BIGINT) AS n_total
            FROM per_tok
        )
        SELECT prefix, n_total AS n_occurrences,
               tok AS top_completion, c AS top_count
        FROM ranked WHERE rn = 1
        ORDER BY n_occurrences DESC, prefix ASC
        LIMIT {_TOP_PFX}
    """,
    tags=("text", "autocomplete", "prefix", "documents", "global-sort"),
)
def prefix_completion_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-suggest backing table: lowercase tokens of length ≥ 3
    keyed by their 3-character prefix; per prefix the total occurrence
    count and the modal completion (count DESC, token ASC tie-break).
    Top 10 prefixes by volume — what an autocomplete service
    materializes and serves from memory.

    Scale design: map-side substring projection, one (prefix, token)
    rollup with partial aggregation, one prefix-keyed window on that
    skinny relation. At 100 TB the per-prefix fan-in is bounded by
    vocabulary, not corpus."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.explode(tokens("text")).alias("tok0")
        )
        .select(F.lower(F.col("tok0")).alias("tok"))
        .where(F.length("tok") >= 3)
    )
    per_tok = (
        toks.select(F.substring("tok", 1, 3).alias("prefix"), "tok")
        .groupBy("prefix", "tok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    w = Window.partitionBy("prefix")
    ranked = per_tok.select(
        "prefix",
        "tok",
        "c",
        F.row_number()
        .over(w.orderBy(F.desc("c"), F.asc("tok")))
        .alias("rn"),
        F.sum("c").over(w).cast("bigint").alias("n_total"),
    )
    return (
        ranked.where(F.col("rn") == 1)
        .select(
            "prefix",
            F.col("n_total").alias("n_occurrences"),
            F.col("tok").alias("top_completion"),
            F.col("c").alias("top_count"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("prefix"))
        .limit(_TOP_PFX)
    )


@register(
    "bh_fdr_weekday_effect",
    oracle=f"""
        WITH pts AS (
            SELECT event_type,
                   CASE WHEN {_DUCK_WEEKEND} THEN 1 ELSE 0 END AS we,
                   CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v
            FROM events WHERE value IS NOT NULL
        ),
        mom AS (
            SELECT event_type,
                   CAST(SUM(1 - we) AS BIGINT) AS n1,
                   CAST(SUM((1 - we) * v) AS BIGINT) AS s1,
                   CAST(SUM((1 - we) * v * v) AS BIGINT) AS ss1,
                   CAST(SUM(we) AS BIGINT) AS n2,
                   CAST(SUM(we * v) AS BIGINT) AS s2,
                   CAST(SUM(we * v * v) AS BIGINT) AS ss2
            FROM pts GROUP BY event_type
        ),
        z AS (
            SELECT event_type,
                   ABS((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                       / SQRT((CAST(ss1 AS DOUBLE) / n1
                               - (CAST(s1 AS DOUBLE) / n1) * (CAST(s1 AS DOUBLE) / n1)) / n1
                              + (CAST(ss2 AS DOUBLE) / n2
                                 - (CAST(s2 AS DOUBLE) / n2) * (CAST(s2 AS DOUBLE) / n2)) / n2))
                       AS az
            FROM mom
        ),
        ranked AS (
            SELECT event_type, az,
                   CAST(ROW_NUMBER() OVER (ORDER BY az DESC, event_type ASC)
                        AS BIGINT) AS k
            FROM z
        ),
        crit AS (
            SELECT k, CAST(zc AS DOUBLE) AS zc FROM (VALUES
                (1, {_BH_CRIT[0]!r}), (2, {_BH_CRIT[1]!r}), (3, {_BH_CRIT[2]!r}),
                (4, {_BH_CRIT[3]!r}), (5, {_BH_CRIT[4]!r})) AS t(k, zc)
        ),
        flagged AS (
            SELECT r.event_type, r.az, r.k, crit.zc,
                   CASE WHEN r.az >= crit.zc THEN r.k ELSE 0 END AS pass_k
            FROM ranked r JOIN crit ON crit.k = r.k
        ),
        cutoff AS (SELECT MAX(pass_k) AS kmax FROM flagged)
        SELECT f.event_type,
               CAST(FLOOR(f.az * 1000000.0 + 0.5) AS BIGINT) AS abs_z_e6,
               f.k AS bh_rank,
               CAST(FLOOR(f.zc * 1000000.0 + 0.5) AS BIGINT) AS z_crit_e6,
               (f.k <= cutoff.kmax) AS rejected
        FROM flagged f CROSS JOIN cutoff
        ORDER BY f.k
    """,
    tags=("statistics", "fdr", "benjamini-hochberg", "events", "global-sort"),
)
def bh_fdr_weekday_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up over the five per-event-type
    weekday-vs-weekend mean-value z tests (Welch z from exact integer
    moments): tests rank by |z| descending, the BH condition
    p_(k) ≤ kα/m is applied in z-space against hardcoded
    Φ⁻¹(1−kα/2m) literals (α=0.10, m=5), and everything at or above
    the largest passing rank is rejected — the correction that keeps a
    metrics dashboard's false-discovery rate at α when it screens many
    segments at once.

    Scale design: one grouped moment rollup (map-side partials), then
    constant-size (5-row) ranking and step-up logic."""
    ev = load_table(spark, sf_dir, "events")
    weekend = (
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")) % 7
    ).isin(2, 3)
    pts = ev.where(F.col("value").isNotNull()).select(
        "event_type",
        F.when(weekend, 1).otherwise(0).alias("we"),
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("bigint").alias("v"),
    )
    mom = pts.groupBy("event_type").agg(
        F.sum(1 - F.col("we")).cast("bigint").alias("n1"),
        F.sum((1 - F.col("we")) * F.col("v")).cast("bigint").alias("s1"),
        F.sum((1 - F.col("we")) * F.col("v") * F.col("v")).cast("bigint").alias("ss1"),
        F.sum("we").cast("bigint").alias("n2"),
        F.sum(F.col("we") * F.col("v")).cast("bigint").alias("s2"),
        F.sum(F.col("we") * F.col("v") * F.col("v")).cast("bigint").alias("ss2"),
    )
    m1, m2 = F.col("s1").cast("double") / F.col("n1"), F.col("s2").cast("double") / F.col("n2")
    v1 = F.col("ss1").cast("double") / F.col("n1") - m1 * m1
    v2 = F.col("ss2").cast("double") / F.col("n2") - m2 * m2
    z = mom.select(
        "event_type",
        F.abs((m1 - m2) / F.sqrt(v1 / F.col("n1") + v2 / F.col("n2"))).alias("az"),
    )
    ranked = z.select(
        "event_type",
        "az",
        F.row_number()
        .over(Window.orderBy(F.desc("az"), F.asc("event_type")))
        .cast("bigint")
        .alias("k"),
    )
    crit = ranked.sparkSession.createDataFrame(
        [(k + 1, c) for k, c in enumerate(_BH_CRIT)], "k bigint, zc double"
    )
    flagged = ranked.join(F.broadcast(crit), "k").select(
        "event_type",
        "az",
        "k",
        "zc",
        F.when(F.col("az") >= F.col("zc"), F.col("k")).otherwise(0).alias("pass_k"),
    )
    cutoff = flagged.agg(F.max("pass_k").alias("kmax"))
    return (
        flagged.crossJoin(F.broadcast(cutoff))
        .select(
            "event_type",
            grid(F.col("az"), 6).alias("abs_z_e6"),
            F.col("k").alias("bh_rank"),
            grid(F.col("zc"), 6).alias("z_crit_e6"),
            (F.col("k") <= F.col("kmax")).alias("rejected"),
        )
        .orderBy("bh_rank")
    )
