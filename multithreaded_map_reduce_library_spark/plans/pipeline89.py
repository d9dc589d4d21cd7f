"""Pipeline batch 89 (round 4): HUBER ROBUST LOCATION + VARINT POSTINGS
SIZING — a robust M-estimator for the statistics tier and a compression
estimator for the search/storage tier.

* ``huber_location_daily`` — the Huber M-estimator of daily purchase
  revenue location by 3 unrolled fixed-point rounds: each round clips
  every observation into [μ−k, μ+k] and re-averages (the
  clipping/Winsorized form of the Huber ψ iteration). All arithmetic is
  integer cents with half-up ratio displays, so the iteration is
  bit-reproducible and fully SQL-replayable — the robust alternative
  between the outlier-fragile mean and the 50%-efficient median.
* ``postings_varint_size_estimate`` — prices the inverted index's storage:
  per-token posting lists (sorted doc ids) under delta + LEB128-varint
  encoding vs raw fixed-width — gap varint width by an exact CASE ladder
  (<2^7 → 1 byte … <2^28 → 4), no logarithm anywhere. The standard IR
  index-sizing estimate, and the compression twin of
  ``rle_sort_order_audit``.

Reference parity anchor: the reference engine (mapreduce.h:44-83) has
neither tier; both queries extend the driver-mandated superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.grid import (
    duck_int_ratio,
    int_ratio,
)
from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_HUBER_ROUNDS = 3
_K_DIV = 2  # clip width k = mean/2


def _duck_huber() -> str:
    """Unrolled Huber iteration: mu0 = mean; mu_{t+1} = mean of values
    clipped to [mu_t - k, mu_t + k]; all integer cents (half-up ratios)."""
    ctes = [
        """
        daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
            FROM events
            WHERE event_type = 'purchase' AND value IS NOT NULL
            GROUP BY 1
        ),
        base AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(cents) AS BIGINT) AS s
            FROM daily
        ),
        m0 AS (
            SELECT n, (s + n // 2) // n AS mu, ((s + n // 2) // n) // %(kdiv)d AS k
            FROM base
        )""" % {"kdiv": _K_DIV}
    ]
    prev = "m0"
    for t in range(1, _HUBER_ROUNDS + 1):
        ctes.append(
            f"""
        m{t} AS (
            SELECT p.n, p.k,
                   (CAST(SUM(LEAST(GREATEST(d.cents, p.mu - p.k), p.mu + p.k)) AS BIGINT)
                    + p.n // 2) // p.n AS mu
            FROM daily d CROSS JOIN {prev} p
            GROUP BY p.n, p.k
        )"""
        )
        prev = f"m{t}"
    rounds = ",".join(ctes)
    return f"""
        WITH {rounds}
        SELECT m0.n AS n_days,
               CAST(m0.mu AS BIGINT) AS mean_cents,
               CAST(m0.k AS BIGINT) AS k_cents,
               CAST({prev}.mu AS BIGINT) AS huber_cents,
               CAST(m0.mu - {prev}.mu AS BIGINT) AS shift_cents
        FROM m0 CROSS JOIN {prev}
    """


@register(
    "huber_location_daily",
    oracle=_duck_huber(),
    tags=("statistics", "robust", "huber", "events"),
)
def huber_location_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimate of daily purchase revenue location: start at the
    mean, then 3 fixed-point rounds of clip-to-[μ±k]-and-re-average with
    k = mean/2 — the Winsorizing form of the Huber ψ iteration, which
    drags the estimate toward the bulk and away from heavy-tailed outlier
    days. Integer cents end to end (half-up ratios each round), so both
    engines replay the identical iterates; the output also reports the
    mean−Huber shift, the simplest outlier-influence diagnostic.

    Scale design: one fact-sized groupBy(day); each round is one
    aggregate over the day rollup with the 1-row state cross-joined
    broadcast — the same broadcast-state iteration as k-means/GD, with
    constant rounds."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        .localCheckpoint()
    )
    base = daily.agg(
        F.count("*").cast("bigint").alias("n"), F.sum("cents").cast("bigint").alias("s")
    )
    m = base.select(
        "n",
        int_ratio(F.col("s"), F.col("n"), 0).alias("mu"),
        F.call_function(
            "div", int_ratio(F.col("s"), F.col("n"), 0), F.lit(_K_DIV).cast("bigint")
        ).alias("k"),
    )
    mu0 = m
    for _ in range(_HUBER_ROUNDS):
        clipped = daily.crossJoin(F.broadcast(m)).select(
            "n",
            "k",
            F.least(
                F.greatest(F.col("cents"), F.col("mu") - F.col("k")),
                F.col("mu") + F.col("k"),
            ).alias("cv"),
        )
        # grand aggregate (no grouping) so the 1-row state is recognized
        # as a scalar broadcast by the plan audit; n and k are constant
        m = clipped.agg(
            F.max("n").alias("n"),
            int_ratio(F.sum("cv"), F.max("n"), 0).alias("mu"),
            F.max("k").alias("k"),
        )
    final = m.select(F.col("mu").alias("huber_mu"))
    return (
        mu0.crossJoin(F.broadcast(final))  # 1-row states (BNLJ-exempt)
        .select(
            F.col("n").alias("n_days"),
            F.col("mu").cast("bigint").alias("mean_cents"),
            F.col("k").cast("bigint").alias("k_cents"),
            F.col("huber_mu").cast("bigint").alias("huber_cents"),
            (F.col("mu") - F.col("huber_mu")).cast("bigint").alias("shift_cents"),
        )
    )


_MIN_DF = 50  # only size tokens with enough postings to matter


def _varint_bytes(gap: str) -> str:
    return f"""CASE WHEN {gap} < 128 THEN 1
                    WHEN {gap} < 16384 THEN 2
                    WHEN {gap} < 2097152 THEN 3
                    WHEN {gap} < 268435456 THEN 4
                    ELSE 5 END"""


@register(
    "postings_varint_size_estimate",
    oracle=f"""
        WITH toks AS (
            SELECT DISTINCT t.tok, d.doc_id
            FROM documents d,
                 UNNEST(string_split_regex(lower(d.text), '[ \\t\\r\\n]+')) AS t(tok)
            WHERE t.tok <> ''
        ),
        gaps AS (
            SELECT tok, doc_id,
                   doc_id - COALESCE(LAG(doc_id) OVER (PARTITION BY tok ORDER BY doc_id), 0) AS gap
            FROM toks
        ),
        sized AS (
            SELECT tok,
                   COUNT(*) AS df,
                   CAST(SUM({_varint_bytes('gap')}) AS BIGINT) AS varint_bytes,
                   CAST(COUNT(*) * 8 AS BIGINT) AS raw_bytes
            FROM gaps
            GROUP BY tok
            HAVING COUNT(*) >= {_MIN_DF}
        )
        SELECT tok,
               CAST(df AS BIGINT) AS df,
               varint_bytes, raw_bytes,
               {duck_int_ratio('varint_bytes', 'raw_bytes', 6)} AS ratio_e6
        FROM sized
    """,
    tags=("search", "storage", "varint", "documents", "compression"),
)
def postings_varint_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index storage pricing: each token's posting list (sorted
    distinct doc ids) is sized under delta + LEB128 varint encoding —
    gap widths by the exact power-of-128 CASE ladder, no logarithms —
    against raw 8-byte ids. Small gaps (dense terms) compress toward
    1 byte/posting; the ratio column is the per-term compression factor
    that decides codec choice in a search/RAG index build.

    Scale design: the tokenize-explode is map-side; the posting-list
    window partitions by token (parallel sorts inside one shuffle), and
    the size rollup rides the same partitioning — two exchanges total,
    both on the token key."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.lower("text"))).alias("tok")
    ).distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("tok").orderBy("doc_id")
    gaps = toks.select(
        "tok",
        (
            F.col("doc_id")
            - F.coalesce(F.lag("doc_id").over(w), F.lit(0))
        ).alias("gap"),
    )
    vb = (
        F.when(F.col("gap") < 128, 1)
        .when(F.col("gap") < 16384, 2)
        .when(F.col("gap") < 2097152, 3)
        .when(F.col("gap") < 268435456, 4)
        .otherwise(5)
    )
    sized = (
        gaps.groupBy("tok")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            F.sum(vb).cast("bigint").alias("varint_bytes"),
            (F.count("*") * 8).cast("bigint").alias("raw_bytes"),
        )
        .where(F.col("df") >= _MIN_DF)
    )
    return sized.select(
        "tok",
        "df",
        "varint_bytes",
        "raw_bytes",
        int_ratio(F.col("varint_bytes"), F.col("raw_bytes"), 6).alias("ratio_e6"),
    )
