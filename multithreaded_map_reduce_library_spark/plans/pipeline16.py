"""Pipeline batch 16: corpus mixing with temperature flattening and the
MinHash operating-point sweep — the last two knobs a corpus engineer
turns: "how hard do we upweight small languages" and "what candidate
threshold do we run dedup at".

Float discipline: the temperature weight n^0.7 is one libm pow per
LANGUAGE, quantized round-to-nearest onto a 1e6 grid (pipeline8 rule);
allocation is then pure integer largest-remainder (the
``proration_largest_remainder`` discipline — allocations sum to the
budget EXACTLY). The sweep compares est (an exact binary rational,
16ths) and the 6dp-rounded exact Jaccard against decimal threshold
literals — identical doubles both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.evaluation import (
    _mh_est_oracle,
    minhash_estimate_error,
)
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_MIX_BUDGET = 100_000  # token budget to allocate
_MIX_TEMP = 0.7        # temperature exponent (UnifiedQA/mT5-style)


@register(
    "corpus_temperature_mix",
    oracle=f"""
        WITH l AS (
            SELECT lang,
                   SUM(len(list_filter(string_split_regex(text, '[ \t\r\n]'),
                                       t -> t <> ''))) AS n_toks
            FROM documents GROUP BY lang
        ),
        w AS (
            SELECT lang, n_toks,
                   CAST(FLOOR(POWER(CAST(n_toks AS DOUBLE), {_MIX_TEMP})
                              * 1000000.0 + 0.5) AS BIGINT) AS w_q
            FROM l
        ),
        tot AS (SELECT SUM(w_q) AS wsum, COUNT(*) AS n_langs FROM w),
        base AS (
            SELECT lang, n_toks, w_q,
                   ({_MIX_BUDGET} * w_q) // wsum AS base_alloc,
                   ({_MIX_BUDGET} * w_q) % wsum AS frac
            FROM w CROSS JOIN tot
        ),
        leftover AS (SELECT {_MIX_BUDGET} - SUM(base_alloc) AS extra FROM base),
        ranked AS (
            SELECT lang, n_toks, w_q, base_alloc,
                   row_number() OVER (ORDER BY frac DESC, lang) AS rk
            FROM base
        )
        SELECT lang, CAST(n_toks AS BIGINT) AS n_toks, w_q,
               CAST(base_alloc + CASE WHEN rk <= leftover.extra
                                 THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
        FROM ranked CROSS JOIN leftover
    """,
    tags=("corpus", "mixing", "temperature", "selection", "documents"),
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened corpus mixing: each language's share of a
    100k-token budget is proportional to n_tokens^0.7 (temperature
    sampling — the mT5/UnifiedQA trick that upweights low-resource
    languages without letting any dominate), with largest-remainder
    integer allocation so the per-language allocations sum to the budget
    EXACTLY (the ``proration_largest_remainder`` invariant).

    Scale design: one token-count aggregate per language (map-side
    combine), then all arithmetic runs on a |langs|-row relation — the
    allocation itself is driver-free, window-over-5-rows work. The one
    libm pow per language is grid-quantized (module docstring)."""
    docs = load_table(spark, sf_dir, "documents")
    l = docs.groupBy("lang").agg(F.sum(F.size(tokens("text"))).alias("n_toks"))
    w = l.select(
        "lang",
        "n_toks",
        F.floor(F.pow(F.col("n_toks").cast("double"), F.lit(_MIX_TEMP)) * 1000000.0 + 0.5)
        .cast("bigint")
        .alias("w_q"),
    )
    tot = w.agg(F.sum("w_q").alias("wsum"), F.count("*").alias("n_langs"))
    base = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_toks",
        "w_q",
        F.expr(f"({_MIX_BUDGET} * w_q) div wsum").alias("base_alloc"),
        F.expr(f"({_MIX_BUDGET} * w_q) % wsum").alias("frac"),
    )
    leftover = base.agg((F.lit(_MIX_BUDGET) - F.sum("base_alloc")).alias("extra"))
    rk = Window.orderBy(F.col("frac").desc(), F.col("lang"))
    return (
        base.withColumn("rk", F.row_number().over(rk))
        .crossJoin(F.broadcast(leftover))
        .select(
            "lang",
            "n_toks",
            "w_q",
            (
                F.col("base_alloc")
                + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
            ).alias("alloc_tokens"),
        )
    )


_SWEEP_TS = (0.2, 0.4, 0.6, 0.8)


@register(
    "minhash_threshold_sweep",
    oracle=f"""
        WITH base AS ({_mh_est_oracle()}),
        th(t, t_e6) AS (VALUES {", ".join(f"({t}, {int(round(t * 1e6))})" for t in _SWEEP_TS)})
        SELECT CAST(th.t AS DOUBLE) AS t,
               COUNT(*) AS n_pairs,
               CAST(SUM(CASE WHEN base.est >= th.t THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_est_pos,
               CAST(SUM(CASE WHEN base.exact_j_e6 >= th.t_e6 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_exact_pos,
               CAST(SUM(CASE WHEN base.est >= th.t AND base.exact_j_e6 >= th.t_e6
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_true_pos
        FROM base CROSS JOIN th
        GROUP BY th.t
    """,
    tags=("evaluation", "dedup", "minhash", "sweep"),
)
def minhash_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash operating-point sweep: over the LSH candidate pairs, how
    many the k=16 sketch estimate vs the exact Jaccard would accept at
    each threshold in {{0.2, 0.4, 0.6, 0.8}}, plus the agreement count —
    the table you read before picking the production dedup threshold
    (precision = true_pos/est_pos, recall-vs-exact = true_pos/exact_pos,
    both derivable per row).

    Scale design: the pair audit is ``minhash_estimate_error``'s plan
    (candidate-restricted, never all-pairs); the sweep adds only a
    4-row broadcast threshold relation and one skinny aggregate. est is
    an exact binary rational (16ths) and exact_j is 6dp-rounded, so the
    >= comparisons against decimal literals are engine-invariant."""
    pairs = minhash_estimate_error(spark, sf_dir)
    # thresholds carried BOTH as the display double and as the exact _e6
    # integer (grid rule): exact_j is now an e6 BIGINT, and comparing it
    # against t*1e6 computed in floating point would flip at the exact
    # boundary (0.2*1e6 is not an integer double).
    th = spark.createDataFrame(
        [(t, int(round(t * 1e6))) for t in _SWEEP_TS], "t double, t_e6 long"
    )
    return (
        pairs.crossJoin(F.broadcast(th))
        .groupBy("t")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.when(F.col("est") >= F.col("t"), 1).otherwise(0)).alias("n_est_pos"),
            F.sum(F.when(F.col("exact_j_e6") >= F.col("t_e6"), 1).otherwise(0)).alias(
                "n_exact_pos"
            ),
            F.sum(
                F.when(
                    (F.col("est") >= F.col("t")) & (F.col("exact_j_e6") >= F.col("t_e6")),
                    1,
                ).otherwise(0)
            ).alias("n_true_pos"),
        )
    )
