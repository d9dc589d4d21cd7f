"""Pipeline batch 97 (round 4): GREEDY-TOKENIZER REGRET + PSI DRIFT +
PARTITION BALANCE — an evaluation of the tokenizer family, the
industry-standard drift score, and the shuffle-health audit:

* ``wordpiece_greedy_regret`` — WordPiece-style greedy longest-match
  tokenization over the SAME piece graph as ``unigram_lm_segmentation``
  (pipeline96), with the exact per-word regret (greedy cost − optimal
  cost ≥ 0). This quantifies, word by word, what the unigram-LM DP buys
  over greedy segmentation — the comparison tokenizer papers report.
* ``psi_value_drift`` — Population Stability Index between weekday and
  weekend purchase-value histograms: Σ (p1−p2)·ln(p1/p2) over $10 bins
  with add-one smoothing (the convention that keeps empty bins finite).
  The ML-ops drift score the registry's KS / total-variation / KL / EMD
  family was missing; per-bin terms are e9-grid-quantized then summed
  as integers.
* ``hash_partition_balance_audit`` — the reference's DJB2 partitioner
  (mapreduce.c:154-160) applied to the distinct user-key set across 32
  partitions: exact per-partition loads, max/avg and min/avg ratios.
  The audit that decides whether a key domain needs salting before a
  100 TB shuffle keyed on it.

Reference parity anchor: DJB2 is reference O5 (mapreduce.c:154-160);
the other two extend the driver-mandated superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.grid import duck_int_ratio, int_ratio
from multithreaded_map_reduce_library_spark.functions.hashing import djb2_expr
from multithreaded_map_reduce_library_spark.plans.pipeline96 import (
    _MAX_WLEN,
    _PACK,
    duck_dp_ctes,
    duck_vocab_ctes,
    optimal_dp_sql,
    piece_graph,
)
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table


def _duck_greedy_ctes() -> tuple[str, str]:
    """Greedy longest-match walk as unrolled CTEs: one state row per word,
    advancing by the longest piece at the current position each round;
    words that reached their end persist via the terminal branch."""
    rounds = [
        "gr0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS pos, "
        "CAST(0 AS BIGINT) AS v, CAST(len(word) AS BIGINT) AS wlen FROM words)"
    ]
    prev = "gr0"
    for t in range(1, _MAX_WLEN + 1):
        rounds.append(
            f"""
        gr{t} AS MATERIALIZED (
            SELECT word, pos, v, wlen FROM (
                SELECT g.word, g.pos_to AS pos, d.v + g.w32 AS v, d.wlen,
                       ROW_NUMBER() OVER (PARTITION BY g.word ORDER BY g.pos_to DESC) AS rn
                FROM {prev} d JOIN eg g ON g.word = d.word AND g.pos_from = d.pos
            ) WHERE rn = 1
            UNION ALL
            SELECT word, pos, v, wlen FROM {prev} WHERE pos = wlen
        )"""
        )
        prev = f"gr{t}"
    return ",".join(rounds), prev


def _regret_oracle() -> str:
    dp_ctes, dp_final = duck_dp_ctes()
    gr_ctes, gr_final = _duck_greedy_ctes()
    return f"""
        WITH {duck_vocab_ctes()},
        {dp_ctes},
        {gr_ctes}
        SELECT w.word, w.freq,
               CAST(g.v // {_PACK} AS BIGINT) AS greedy_cost_e6,
               CAST(g.v % {_PACK} AS BIGINT) AS greedy_pieces,
               CAST(d.v // {_PACK} AS BIGINT) AS opt_cost_e6,
               CAST(d.v % {_PACK} AS BIGINT) AS opt_pieces,
               CAST(g.v // {_PACK} - d.v // {_PACK} AS BIGINT) AS regret_e6
        FROM words w
        JOIN {gr_final} g ON g.word = w.word AND g.pos = g.wlen
        JOIN {dp_final} d ON d.word = w.word AND d.pos = len(w.word)
    """


@register(
    "wordpiece_greedy_regret",
    oracle=_regret_oracle(),
    tags=("tokenizer", "wordpiece", "greedy", "documents", "topk", "global-sort"),
)
def wordpiece_greedy_regret(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece-style greedy longest-match segmentation of the top-40
    corpus words over the unigram-LM piece graph (pipeline96), next to
    the optimal DP cost, with the exact regret per word. Greedy walks
    the word left to right taking the longest matching piece (ties
    impossible: one candidate per length); regret = greedy − optimal is
    ≥ 0 by construction and 0 exactly where greedy finds an optimum.

    Scale design: shares the piece-graph statement with pipeline96 (the
    word rollup and one gram-count shuffle; building it runs no Spark
    job); the greedy walk and the DP are two folds per word against the
    broadcast piece→cost map."""
    return piece_graph(
        spark,
        sf_dir,
        f"""word, freq, {greedy_walk_sql("word", "w32")} AS gv,
            {optimal_dp_sql("word", "w32")} AS v""",
        f"""word, freq, gv div {_PACK} AS greedy_cost_e6,
            CAST(gv % {_PACK} AS BIGINT) AS greedy_pieces,
            v div {_PACK} AS opt_cost_e6, CAST(v % {_PACK} AS BIGINT) AS opt_pieces,
            CAST(gv div {_PACK} - v div {_PACK} AS BIGINT) AS regret_e6""",
    )


def greedy_walk_sql(word: str, w32: str) -> str:
    """The greedy longest-match walk over one word as a SQL fold: the
    packed cost (cost_e6*32 + n_pieces) of cutting ``word``, left to
    right, at the longest piece of the ``w32`` map that starts at the
    current position. A word of length n needs at most n steps; a walk
    that reached the end keeps its state, the unrolled-CTE semantics the
    oracle replays. Every character is a piece, so each step advances."""
    step = (
        f"array_max(filter(sequence(1, least(3, length({word}) - s.pos)),"
        f" l -> map_contains_key({w32}, substring({word}, s.pos + 1, l))))"
    )
    return (
        f"aggregate(sequence(1, length({word})), named_struct('pos', 0, 'v', CAST(0 AS BIGINT)),"
        f" (s, i) -> IF(s.pos = length({word}), s, named_struct('pos', s.pos + {step},"
        f" 'v', s.v + {w32}[substring({word}, s.pos + 1, {step})]))).v"
    )


_BIN_CENTS = 1000  # $10 bins, matching histogram_emd_drift
_DUCK_WEEKEND = "(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7) IN (2, 3)"


@register(
    "psi_value_drift",
    oracle=f"""
        WITH pts AS (
            SELECT CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) // {_BIN_CENTS} AS bin,
                   CASE WHEN {_DUCK_WEEKEND} THEN 1 ELSE 0 END AS we
            FROM events
            WHERE event_type = 'purchase' AND value IS NOT NULL
        ),
        hist AS (
            SELECT bin,
                   CAST(SUM(1 - we) AS BIGINT) AS n_wd,
                   CAST(SUM(we) AS BIGINT) AS n_we
            FROM pts GROUP BY bin
        ),
        tot AS (
            SELECT CAST(SUM(n_wd) AS BIGINT) AS t_wd,
                   CAST(SUM(n_we) AS BIGINT) AS t_we,
                   CAST(COUNT(*) AS BIGINT) AS b
            FROM hist
        ),
        terms AS (
            SELECT CAST(FLOOR(
                       (CAST(n_wd + 1 AS DOUBLE) / CAST(t_wd + b AS DOUBLE)
                        - CAST(n_we + 1 AS DOUBLE) / CAST(t_we + b AS DOUBLE))
                     * ln((CAST(n_wd + 1 AS DOUBLE) / CAST(t_wd + b AS DOUBLE))
                        / (CAST(n_we + 1 AS DOUBLE) / CAST(t_we + b AS DOUBLE)))
                     * 1000000000.0 + 0.5) AS BIGINT) AS term_e9
            FROM hist CROSS JOIN tot
        )
        SELECT (SELECT t_wd FROM tot) AS n_weekday,
               (SELECT t_we FROM tot) AS n_weekend,
               (SELECT b FROM tot) AS n_bins,
               CAST(SUM(term_e9) AS BIGINT) AS psi_e9
        FROM terms
    """,
    tags=("statistics", "drift", "psi", "histogram", "events"),
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the weekday and weekend
    purchase-value histograms ($10 bins, add-one smoothing over the
    union bin domain): PSI = Σ (p_wd − p_we)·ln(p_wd/p_we). Smoothed
    probabilities are ratios of exact integers evaluated identically in
    double in both engines; each bin's term is e9-grid-quantized and the
    sum is integer. The <0.1 / 0.1–0.25 / >0.25 PSI bands are the
    standard go/no-go thresholds for model-input drift.

    Scale design: identical to histogram_emd_drift — one fact scan folds
    to the price-bounded bin histogram with paired counts; everything
    downstream is metadata-sized. PSI is always nonnegative; add-one
    smoothing is what keeps single-sided bins finite without dropping
    them (dropping understates drift exactly where it is largest)."""
    ev = load_table(spark, sf_dir, "events")
    weekend = (
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")) % 7
    ).isin(2, 3)
    pts = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.call_function(
            "div",
            F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("bigint"),
            F.lit(_BIN_CENTS).cast("bigint"),
        ).alias("bin"),
        F.when(weekend, 1).otherwise(0).alias("we"),
    )
    hist = pts.groupBy("bin").agg(
        F.sum(1 - F.col("we")).cast("bigint").alias("n_wd"),
        F.sum("we").cast("bigint").alias("n_we"),
    )
    tot = hist.agg(
        F.sum("n_wd").cast("bigint").alias("t_wd"),
        F.sum("n_we").cast("bigint").alias("t_we"),
        F.count("*").cast("bigint").alias("b"),
    )
    p_wd = (F.col("n_wd") + 1).cast("double") / (F.col("t_wd") + F.col("b")).cast("double")
    p_we = (F.col("n_we") + 1).cast("double") / (F.col("t_we") + F.col("b")).cast("double")
    term = F.floor((p_wd - p_we) * F.log(p_wd / p_we) * 1000000000.0 + F.lit(0.5)).cast(
        "bigint"
    )
    terms = hist.crossJoin(F.broadcast(tot)).select(
        term.alias("term_e9"), "t_wd", "t_we", "b"
    )
    return terms.agg(
        F.max("t_wd").alias("n_weekday"),
        F.max("t_we").alias("n_weekend"),
        F.max("b").alias("n_bins"),
        F.sum("term_e9").cast("bigint").alias("psi_e9"),
    )


_N_PARTS = 32
_U32 = 2**32


@register(
    "hash_partition_balance_audit",
    oracle=f"""
        WITH keys AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events),
        hashed AS (
            SELECT list_reduce(
                       list_prepend(CAST(5381 AS BIGINT),
                                    list_transform(string_split(k, ''), c -> CAST(ascii(c) AS BIGINT))),
                       (a, b) -> (a * 33 + b) % {_U32}
                   ) % {_N_PARTS} AS p
            FROM keys
        ),
        loads AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS load FROM hashed GROUP BY p)
        SELECT CAST(SUM(load) AS BIGINT) AS n_keys,
               CAST(COUNT(*) AS BIGINT) AS n_partitions_used,
               CAST(MAX(load) AS BIGINT) AS max_load,
               CAST(MIN(load) AS BIGINT) AS min_load,
               {duck_int_ratio(f"MAX(load) * {_N_PARTS}", "SUM(load)", 6)} AS max_over_avg_e6,
               {duck_int_ratio(f"MIN(load) * {_N_PARTS}", "SUM(load)", 6)} AS min_over_avg_e6
        FROM loads
    """,
    tags=("infra", "partitioning", "djb2", "audit", "events"),
)
def hash_partition_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-balance audit of the reference's DJB2 partitioner
    (mapreduce.c:154-160, reference O5) over the distinct user-key set
    into 32 partitions: exact per-partition loads and the max/avg,
    min/avg ratios. A max/avg well above 1 is the signal to salt a key
    domain before shuffling 100 TB on it — this audit costs one
    key-rollup pass and runs entirely JVM-side (the djb2 fold is an
    aggregate expression, not a UDF).

    The key set is the decimal string form of user_id (ASCII, where the
    engine's djb2 expression is byte-exact with the C reference)."""
    ev = load_table(spark, sf_dir, "events")
    keys = ev.select(F.col("user_id").cast("string").alias("k")).distinct()
    hashed = keys.select((djb2_expr("k") % _N_PARTS).alias("p"))
    loads = hashed.groupBy("p").agg(F.count("*").cast("bigint").alias("load"))
    return loads.agg(
        F.sum("load").cast("bigint").alias("n_keys"),
        F.count("*").cast("bigint").alias("n_partitions_used"),
        F.max("load").cast("bigint").alias("max_load"),
        F.min("load").cast("bigint").alias("min_load"),
        int_ratio(F.max("load") * _N_PARTS, F.sum("load"), 6).alias("max_over_avg_e6"),
        int_ratio(F.min("load") * _N_PARTS, F.sum("load"), 6).alias("min_over_avg_e6"),
    )
