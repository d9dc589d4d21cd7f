"""Pipeline batch 7: exact-money allocation and distribution analytics —
largest-remainder proration, multi-touch attribution, Simpson token
diversity, and an equi-depth histogram.

Reference parity note: none of these exist in the reference (its whole
surface is the five functions in ``mapreduce.h:44-83``). All money paths
are integer cents with integer div/mod only — bit-deterministic across
engines; ratio outputs are emitted as raw doubles (single IEEE division
of exact integers) so no half-way rounding can diverge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table


@register(
    "proration_largest_remainder",
    oracle="""
        WITH li AS (
            SELECT l_orderkey, l_linenumber,
                   CAST(FLOOR(l_quantity) AS BIGINT) AS qty
            FROM lineitem
        ),
        o AS (SELECT o_orderkey,
                     CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS total_cents
              FROM orders),
        j AS (
            SELECT l_orderkey, l_linenumber, qty, total_cents,
                   SUM(qty) OVER (PARTITION BY l_orderkey) AS sumq
            FROM li JOIN o ON l_orderkey = o_orderkey
        ),
        s AS (
            SELECT l_orderkey, l_linenumber, total_cents,
                   (total_cents * qty) // sumq AS base_cents,
                   (total_cents * qty) % sumq AS frac,
                   SUM((total_cents * qty) // sumq)
                       OVER (PARTITION BY l_orderkey) AS alloc_base
            FROM j
        ),
        r AS (
            SELECT l_orderkey, l_linenumber, base_cents,
                   total_cents - alloc_base AS rem,
                   ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                      ORDER BY frac DESC, l_linenumber) AS rk
            FROM s
        )
        SELECT l_orderkey, l_linenumber,
               CAST(base_cents + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS BIGINT)
                   AS alloc_cents
        FROM r
    """,
    tags=("allocation", "proration", "money", "window"),
    bench=True,
)
def proration_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact invoice proration: each order's total (in cents) is allocated
    across its line items proportionally to quantity, with the
    largest-remainder method distributing the leftover cents — so every
    order's allocations sum to its total EXACTLY, the invariant any
    billing/revenue-recognition pipeline must hold. Pure integer
    arithmetic (div/mod/rank); no float ever touches money.

    Scale design: one shuffle co-partitions lineitem with the order
    totals on orderkey; both window passes (group sum, remainder rank)
    reuse that partitioning — ``.explain`` shows a single hash exchange.
    Per-order state is the order's line count (TPC-H max 7)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.floor("l_quantity").cast("long").alias("qty"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).drop("o_orderkey")
    per_order = Window.partitionBy("l_orderkey")
    s = j.withColumn("sumq", F.sum("qty").over(per_order)).select(
        "l_orderkey",
        "l_linenumber",
        "total_cents",
        F.expr("(total_cents * qty) div sumq").alias("base_cents"),
        F.expr("(total_cents * qty) % sumq").alias("frac"),
    )
    s = s.withColumn("alloc_base", F.sum("base_cents").over(per_order))
    rk = Window.partitionBy("l_orderkey").orderBy(
        F.col("frac").desc(), F.col("l_linenumber")
    )
    r = s.select(
        "l_orderkey",
        "l_linenumber",
        "base_cents",
        (F.col("total_cents") - F.col("alloc_base")).alias("rem"),
        F.row_number().over(rk).alias("rk"),
    )
    return r.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("base_cents")
            + F.when(F.col("rk") <= F.col("rem"), 1).otherwise(0)
        ).alias("alloc_cents"),
    )


@register(
    "linear_attribution_purchases",
    oracle="""
        WITH p AS (
            SELECT event_id AS p_id, user_id, ts AS p_ts,
                   CAST(FLOOR(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        ),
        c AS (SELECT event_id AS c_id, user_id, ts AS c_ts
              FROM events WHERE event_type = 'click'),
        j AS (
            SELECT p_id, c_id, cents, c_ts,
                   COUNT(*) OVER (PARTITION BY p_id) AS n_clicks,
                   ROW_NUMBER() OVER (PARTITION BY p_id
                                      ORDER BY c_ts, c_id) AS rk
            FROM p JOIN c ON p.user_id = c.user_id
                AND c.c_ts >= p.p_ts - INTERVAL 24 HOURS AND c.c_ts < p.p_ts
        )
        SELECT p_id, c_id,
               cents // n_clicks
                   + CASE WHEN rk <= cents % n_clicks THEN 1 ELSE 0 END
                   AS attributed_cents
        FROM j
    """,
    tags=("attribution", "range-join", "marketing", "events"),
)
def linear_attribution_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase's value (cents)
    splits equally across the same user's clicks in the preceding 24
    hours, the leftover cents going to the earliest clicks — so each
    purchase's attributions sum to its value exactly. The companion of
    the last-touch ``asof_purchase_last_click``; integer-only like the
    proration operator.

    Scale design: the purchase-click pairing is an equi-join on user_id
    with a time-range residual — one shuffle on user (AQE splits skewed
    power users); the per-purchase count and rank windows reuse one
    (p_id) partitioning. State per purchase is its 24 h click count, not
    the user's history."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    j = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
        & (F.col("c_ts") < F.col("p_ts")),
    )
    per_p = Window.partitionBy("p_id")
    rk_w = Window.partitionBy("p_id").orderBy("c_ts", "c_id")
    j = j.select(
        "p_id",
        "c_id",
        "cents",
        F.count("*").over(per_p).alias("n_clicks"),
        F.row_number().over(rk_w).alias("rk"),
    )
    return j.select(
        "p_id",
        "c_id",
        (
            F.expr("cents div n_clicks")
            + F.when(F.col("rk") <= F.col("cents") % F.col("n_clicks"), 1).otherwise(0)
        ).alias("attributed_cents"),
    )


@register(
    "doc_simpson_diversity",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        c AS (SELECT doc_id, w, COUNT(*) AS n FROM tok
              WHERE w <> '' GROUP BY doc_id, w),
        d AS (SELECT doc_id, SUM(n) AS n_tokens, SUM(n * n) AS sum_sq
              FROM c GROUP BY doc_id)
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(FLOOR((1.0 - CAST(sum_sq AS DOUBLE)
                     / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)))
                   * 1000000.0 + 0.5) AS BIGINT) AS simpson_e6
        FROM d
    """,
    tags=("text-analysis", "diversity", "quality", "documents"),
)
def doc_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Simpson diversity index (1 - sum p_i^2 over token
    frequencies): a repetition/quality score like the entropy filters
    training pipelines run, but built from integer counts and one IEEE
    division — no transcendentals, so the score is bit-identical across
    engines (entropy's log() is libm-dependent; Simpson ranks documents
    the same way).

    Scale design: the (doc, token) partial aggregate is the only wide
    shuffle (map-side combine bounds it at distinct-tokens-per-doc x
    tasks); the per-doc reduction then groups on doc_id alone. A pure
    two-level aggregation tree, no joins."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text", " ")).alias("w"))
    c = tok.groupBy("doc_id", "w").agg(F.count("*").alias("n"))
    d = c.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
    )
    from multithreaded_map_reduce_library_spark.functions.grid import grid

    simpson = grid(
        F.lit(1.0)
        - F.col("sum_sq").cast("double")
        / (F.col("n_tokens").cast("double") * F.col("n_tokens").cast("double")),
        6,
    )
    return d.select("doc_id", "n_tokens", simpson.alias("simpson_e6"))


@register(
    "equi_depth_histogram_prices",
    oracle="""
        WITH r AS (
            SELECT o_totalprice,
                   NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
            FROM orders
        )
        SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n,
               MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        FROM r GROUP BY bucket
    """,
    tags=("histogram", "distribution", "window"),
)
def equi_depth_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-count) decile histogram of order prices: NTILE
    over a deterministic total order, then per-bucket count and price
    bounds — the distribution summary optimizers and drift monitors keep
    (equi-WIDTH histograms bin poorly on skewed money data; equi-depth
    adapts bin edges to the mass).

    Scale design: global NTILE needs a total order, so this exact form
    single-partitions the sort — correct for oracle parity and fine at
    dimension scale. The 100 TB path swaps the same query onto
    percentile_approx-derived bin edges (one partial-agg pass, no global
    sort) at the cost of approximate edges; the (price, orderkey)
    tiebreak keeps this exact form engine-stable."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    r = o.select("o_totalprice", F.ntile(10).over(w).alias("bucket"))
    return r.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count("*").alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )
