"""Pipeline batch 23: tokenizer application (composing the learned BPE
merges over the corpus), Theil-Sen robust trend estimation, a
Hilbert-curve data-layout key (the locality-tighter sibling of
zorder_locality_events), and a strict-order 3-step funnel.

Float discipline (pipeline8 rule): daily means in the Theil-Sen query
are BIGINT sums of 1e6-grid-quantized values divided once; pair slopes
and the lower-median pick are then identical IEEE arithmetic in both
engines. Everything else in this module is pure integer/string work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.pipeline22 import (
    _bpe_chain_sql,
    _bpe_learn,
)
from multithreaded_map_reduce_library_spark.functions.grid import grid
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table


def _bpe_tokenize_oracle() -> str:
    chain, final, _ = _bpe_chain_sql()
    return f"""
        WITH {chain},
        dw AS (SELECT doc_id,
                      lower(unnest(list_filter(string_split_regex(text, '[ \t\r\n]'),
                                               x -> x <> ''))) AS word
               FROM documents),
        j AS (SELECT dw.doc_id, len({final}.word) AS n_char,
                     len(string_split(trim({final}.rep), ' ')) AS n_bpe
              FROM dw JOIN {final} USING (word))
        SELECT doc_id, CAST(SUM(n_char) AS BIGINT) AS n_sym_char,
               CAST(SUM(n_bpe) AS BIGINT) AS n_sym_bpe
        FROM j GROUP BY doc_id
    """


@register(
    "bpe_tokenize_corpus",
    oracle=_bpe_tokenize_oracle(),
    tags=("tokenizer", "bpe", "documents", "composition"),
)
def bpe_tokenize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the 8 learned BPE merges (bpe_learn_merges) to every
    document: per document, symbol count before (characters) and after
    (BPE tokens) — the compression the tokenizer buys. The oracle
    replays the identical training chain and application, so the whole
    learn-then-apply pipeline is correctness-checked end to end.

    Scale design: tokenizer application is a broadcast join from the
    corpus's words to the vocabulary's merged representations — the
    vocab (|V| rows) is the ONLY state shipped to executors; documents
    stream through map-side. One corpus-sized aggregate on doc_id
    finishes it. This is exactly how a 100 TB tokenization pass is
    shaped: learn on the vocab table, apply as a broadcast map.
    """
    vocab, _ = _bpe_learn(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select("doc_id", F.explode(tokens("text")).alias("w")).select(
        "doc_id", F.lower("w").alias("word")
    )
    rep = vocab.select(
        "word",
        F.length("word").alias("n_char"),
        F.size(F.split(F.trim(F.col("rep")), " ")).alias("n_bpe"),
    )
    return (
        dw.join(F.broadcast(rep), "word")
        .groupBy("doc_id")
        .agg(F.sum("n_char").alias("n_sym_char"), F.sum("n_bpe").alias("n_sym_bpe"))
    )


@register(
    "theil_sen_user_trend",
    oracle="""
        WITH d AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) AS v_q,
                   COUNT(*) AS c
            FROM events GROUP BY user_id, day
        ),
        m AS (
            SELECT user_id, day,
                   CAST(v_q AS DOUBLE) / CAST(c AS DOUBLE) / 1000000.0 AS vbar
            FROM d
        ),
        p AS (
            SELECT a.user_id,
                   (b.vbar - a.vbar) / (b.day - a.day) AS slope
            FROM m a JOIN m b
              ON a.user_id = b.user_id AND a.day < b.day
        ),
        r AS (
            SELECT user_id, slope,
                   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY slope ASC) AS rk,
                   COUNT(*) OVER (PARTITION BY user_id) AS np
            FROM p
        )
        SELECT user_id, np AS n_pairs,
               CAST(FLOOR(slope * 1000000.0 + 0.5) AS BIGINT) AS slope_e6
        FROM r WHERE rk = (np + 1) // 2
    """,
    tags=("robust-stats", "trend", "events", "window"),
)
def theil_sen_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per user: the (lower-)median of all
    pairwise slopes between the user's DAILY mean values — the estimator
    that shrugs off the outlier days a least-squares slope chases. The
    lower median (element (n+1)/2 of the sorted slopes) avoids averaging
    two doubles, keeping the pick deterministic.

    Determinism: daily means are BIGINT sums of 1e6-grid-quantized
    values (order-invariant) divided once; slopes are then one IEEE
    subtraction/division with identical association in both engines;
    equal-slope window ties cannot change the SELECTED VALUE (ties are
    equal). n_days_check inverts np = n(n-1)/2 — a self-audit column.

    Scale design: the pair join is per-user over DAILY aggregates — at
    most ~30 rows/user regardless of corpus size, so the O(d²) pair
    space is bounded (435 pairs/user) and embarrassingly user-parallel.
    The corpus-sized work is one (user, day) aggregate with map-side
    combine. This bounded-group O(d²) is the standard scale answer for
    Theil-Sen; unbounded groups would need the repeated-median variant.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint")).alias("v_q"),
        F.count("*").alias("c"),
    )
    m = d.select(
        "user_id",
        "day",
        (F.col("v_q").cast("double") / F.col("c").cast("double") / 1000000.0).alias(
            "vbar"
        ),
    )
    a = m.select(
        "user_id", F.col("day").alias("day_a"), F.col("vbar").alias("vbar_a")
    )
    b = m.select(
        "user_id", F.col("day").alias("day_b"), F.col("vbar").alias("vbar_b")
    )
    p = a.join(b, "user_id").where(F.col("day_a") < F.col("day_b")).select(
        "user_id",
        (
            (F.col("vbar_b") - F.col("vbar_a"))
            / F.datediff("day_b", "day_a").cast("double")
        ).alias("slope"),
    )
    w = Window.partitionBy("user_id")
    r = p.select(
        "user_id",
        "slope",
        F.row_number().over(w.orderBy(F.asc("slope"))).alias("rk"),
        F.count("*").over(w).alias("np"),
    )
    return r.where(
        F.col("rk") == ((F.col("np") + 1) / 2).cast("bigint")
    ).select(
        "user_id",
        F.col("np").alias("n_pairs"),
        grid(F.col("slope"), 6).alias("slope_e6"),
    )


def _hilbert_exprs_sql(xcol: str, ycol: str, bits: int = 16) -> str:
    """Hilbert xy→d (Wikipedia's iterative algorithm) unrolled into
    nested scalar subselects — state columns (x, y, d) re-bound once per
    level from MSB to LSB; pure integer arithmetic."""
    inner = f"SELECT {xcol} AS hx, {ycol} AS hy, CAST(0 AS BIGINT) AS hd, *"
    sql = f"({inner} FROM __SRC__)"
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        # rx = (x & s) > 0 ; ry = (y & s) > 0
        rx = f"CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END"
        ry = f"CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END"
        step = f"""SELECT * REPLACE (
            hd + CAST({s} AS BIGINT) * {s} * xor(3 * ({rx}), {ry}) AS hd,
            CASE WHEN ({ry}) = 0 AND ({rx}) = 1 THEN ({s} - 1) - hy ELSE
                 CASE WHEN ({ry}) = 0 THEN hy ELSE hx END END AS hx,
            CASE WHEN ({ry}) = 0 AND ({rx}) = 1 THEN ({s} - 1) - hx ELSE
                 CASE WHEN ({ry}) = 0 THEN hx ELSE hy END END AS hy
        ) FROM {{prev}}"""
        sql = "(" + step.format(prev=sql) + ")"
    return sql


@register(
    "hilbert_locality_events",
    oracle=f"""
        WITH src AS (
            SELECT (user_id % 65536) AS x,
                   CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) % 65536 AS h,
                   user_id
            FROM events
        ),
        hk AS (
            SELECT user_id, h, hd AS hkey FROM
            {_hilbert_exprs_sql("x", "h % 65536").replace("__SRC__", "src")}
        )
        SELECT hkey // 1048576 AS h_bucket, COUNT(*) AS n,
               MIN(user_id) AS u_min, MAX(user_id) AS u_max,
               MIN(h) AS h_min, MAX(h) AS h_max
        FROM hk GROUP BY h_bucket
    """,
    tags=("layout", "hilbert", "locality", "events"),
)
def hilbert_locality_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over (user_id, event-hour) — the
    locality-tighter sibling of ``zorder_locality_events``: unlike
    Morton order, the Hilbert curve never jumps across the key space,
    so per-file zone maps (min/max per bucket, the output here) stay
    strictly tighter on both dimensions. The xy→d transform is the
    standard iterative rotate-and-accumulate, unrolled over 16 bit
    levels as pure integer CASE/XOR arithmetic — identical in both
    engines, zero libm.

    Scale design: the key is a map-side whole-stage-codegen expression
    chain (no Python, no shuffle); the bucket rollup is one skinny
    aggregate. A 100 TB writer would ``repartitionByRange(N, "hkey")
    .sortWithinPartitions("hkey")`` — this query is the zone-map audit
    view of that layout, directly comparable with the z-order twin.
    """
    e = load_table(spark, sf_dir, "events")
    x = (F.col("user_id") % 65536).cast("bigint")
    h = (F.floor(F.unix_timestamp("ts") / 3600).cast("bigint") % 65536).cast("bigint")
    df = e.select("user_id", h.alias("h"), x.alias("hx"))
    df = df.select(
        "user_id", "h", "hx", F.col("h").alias("hy"), F.lit(0).cast("bigint").alias("hd")
    )
    for level in range(15, -1, -1):
        s = 1 << level
        rx = F.when((F.col("hx").bitwiseAND(F.lit(s))) > 0, 1).otherwise(0)
        ry = F.when((F.col("hy").bitwiseAND(F.lit(s))) > 0, 1).otherwise(0)
        hd = F.col("hd") + F.lit(s).cast("bigint") * F.lit(s) * (
            (F.lit(3) * rx).bitwiseXOR(ry)
        )
        hx2 = (
            F.when((ry == 0) & (rx == 1), F.lit(s - 1) - F.col("hy"))
            .when(ry == 0, F.col("hy"))
            .otherwise(F.col("hx"))
        )
        hy2 = (
            F.when((ry == 0) & (rx == 1), F.lit(s - 1) - F.col("hx"))
            .when(ry == 0, F.col("hx"))
            .otherwise(F.col("hy"))
        )
        df = df.select(
            "user_id", "h", hx2.alias("hx"), hy2.alias("hy"), hd.alias("hd")
        )
    return df.groupBy(F.shiftright("hd", 20).alias("h_bucket")).agg(
        F.count("*").alias("n"),
        F.min("user_id").alias("u_min"),
        F.max("user_id").alias("u_max"),
        F.min("h").alias("h_min"),
        F.max("h").alias("h_max"),
    )


@register(
    "funnel_3step_conversion",
    oracle="""
        WITH s AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
            FROM events GROUP BY user_id, day
        ),
        c AS (
            SELECT s.user_id, s.day, s.t_view,
                   MIN(e.ts) AS t_click
            FROM s JOIN events e
              ON e.user_id = s.user_id AND CAST(e.ts AS DATE) = s.day
             AND e.event_type = 'click' AND e.ts > s.t_view
            GROUP BY s.user_id, s.day, s.t_view
        ),
        p AS (
            SELECT c.user_id, c.day, c.t_click,
                   MIN(e.ts) AS t_purchase
            FROM c JOIN events e
              ON e.user_id = c.user_id AND CAST(e.ts AS DATE) = c.day
             AND e.event_type = 'purchase' AND e.ts > c.t_click
            GROUP BY c.user_id, c.day, c.t_click
        )
        SELECT (SELECT COUNT(*) FROM s WHERE t_view IS NOT NULL) AS n_step1,
               (SELECT COUNT(*) FROM c) AS n_step2,
               (SELECT COUNT(*) FROM p) AS n_step3
    """,
    tags=("funnel", "sequence", "events", "analytics"),
)
def funnel_3step_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel view -> click -> purchase within a (user,
    day): step 2 counts days where the first click AFTER the first view
    exists, step 3 where the first purchase after THAT click exists —
    the ordered-sequence semantics real funnel queries need (a purchase
    before the view must not count).

    Scale design: expressed as cascaded conditional MIN aggregates per
    (user, day) — each step is one map-side-combined aggregate plus an
    equi-join on the (user, day) key, so the funnel never materializes
    event-by-event sequences; at 100 TB the three joins are co-located
    if events are bucketed by user_id (the natural layout).
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    s = ev.groupBy("user_id", day).agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    e2 = ev.select("user_id", F.to_date("ts").alias("day"), "event_type", "ts")
    c = (
        s.join(e2, ["user_id", "day"])
        .where((F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")))
        .groupBy("user_id", "day", "t_view")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        c.join(e2, ["user_id", "day"])
        .where((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")))
        .groupBy("user_id", "day", "t_click")
        .agg(F.min("ts").alias("t_purchase"))
    )
    n1 = s.where(F.col("t_view").isNotNull()).agg(F.count("*").alias("n_step1"))
    n2 = c.agg(F.count("*").alias("n_step2"))
    n3 = p.agg(F.count("*").alias("n_step3"))
    return n1.crossJoin(n2).crossJoin(n3)
