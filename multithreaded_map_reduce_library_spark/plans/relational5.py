"""Operator-family batch 5: map-type functions, multiset set ops
(EXCEPT ALL / INTERSECT ALL), cross-join dimension grids, text bigrams,
median, deterministic systematic sampling, date-sequence explode, and
percent-of-total windows.

Reference parity note: none of these exist in the reference (SURVEY.md
§2.2 — its only scalar function is whitespace tokenization,
``distwc.c:16``); they are the built-in-for-free relational breadth the
driver's tables invite, plus text-pipeline staples.

Float discipline (see tpch_rest.py): any money sum that feeds output is
quantized per-row to integer ten-thousandths (``FLOOR(x * 10000)`` —
bit-identical IEEE ops in both engines) and summed exactly, so results
are reproducible across engines, runs, and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.grid import gavg, int_ratio_big
from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table, spread


def _e4(c):
    """Quantize a double to exact integer ten-thousandths."""
    return F.floor(c * 10000).cast("long")


@register(
    "map_funcs_user_event_profile",
    oracle="""
        SELECT user_id,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN cnt END), 0) AS BIGINT)
                   AS clicks,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN cnt END), 0) AS BIGINT)
                   AS errors,
               COUNT(*) AS n_types,
               CAST(SUM(CASE WHEN cnt >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hot_types
        FROM (SELECT user_id, event_type, COUNT(*) AS cnt
              FROM events GROUP BY 1, 2)
        GROUP BY user_id
    """,
    tags=("map-type", "functions", "agg"),
)
def map_funcs_user_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type profile built through a MapType column:
    map_from_entries over collected (type, count) structs, then
    element_at lookups, size, and a map_filter higher-order predicate.
    The map stays inside one row per user — no extra shuffle beyond the
    two-level aggregation, and lookups are O(|event types|), a small
    constant."""
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    m = F.map_from_entries(F.collect_list(F.struct("event_type", "cnt")))
    return (
        per.groupBy("user_id")
        .agg(m.alias("m"))
        .select(
            "user_id",
            F.coalesce(F.element_at("m", F.lit("click")), F.lit(0)).alias("clicks"),
            F.coalesce(F.element_at("m", F.lit("error")), F.lit(0)).alias("errors"),
            F.size("m").cast("long").alias("n_types"),
            F.size(F.map_filter("m", lambda k, v: v >= 10)).cast("long").alias("hot_types"),
        )
    )


@register(
    "except_all_lineitem_keys",
    oracle="""
        SELECT l_orderkey, COUNT(*) AS n
        FROM (
            SELECT l_orderkey FROM lineitem WHERE l_quantity > 25
            EXCEPT ALL
            SELECT l_orderkey FROM lineitem WHERE l_discount > 0.05
        )
        GROUP BY l_orderkey
    """,
    tags=("setop", "multiset"),
)
def except_all_lineitem_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference with multiplicity): order keys of
    high-quantity lines minus, occurrence-for-occurrence, keys of
    discounted lines. Spark plans this as a single hash aggregation on
    the key with a count difference — one shuffle, no join."""
    l = load_table(spark, sf_dir, "lineitem")
    hi = l.filter(F.col("l_quantity") > 25).select("l_orderkey")
    disc = l.filter(F.col("l_discount") > 0.05).select("l_orderkey")
    return hi.exceptAll(disc).groupBy("l_orderkey").agg(F.count("*").alias("n"))


@register(
    "intersect_all_lineitem_keys",
    oracle="""
        SELECT l_orderkey, COUNT(*) AS n
        FROM (
            SELECT l_orderkey FROM lineitem WHERE l_quantity > 25
            INTERSECT ALL
            SELECT l_orderkey FROM lineitem WHERE l_discount > 0.05
        )
        GROUP BY l_orderkey
    """,
    tags=("setop", "multiset"),
)
def intersect_all_lineitem_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset intersection, min multiplicity) of the
    same two key streams as except_all_lineitem_keys."""
    l = load_table(spark, sf_dir, "lineitem")
    hi = l.filter(F.col("l_quantity") > 25).select("l_orderkey")
    disc = l.filter(F.col("l_discount") > 0.05).select("l_orderkey")
    return hi.intersectAll(disc).groupBy("l_orderkey").agg(F.count("*").alias("n"))


@register(
    "cross_join_status_priority_grid",
    oracle="""
        SELECT s.o_orderstatus, p.o_orderpriority, COALESCE(c.n, 0) AS n_orders
        FROM (SELECT DISTINCT o_orderstatus FROM orders) s
        CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
        LEFT JOIN (SELECT o_orderstatus AS st, o_orderpriority AS pr, COUNT(*) AS n
                   FROM orders GROUP BY 1, 2) c
          ON s.o_orderstatus = c.st AND p.o_orderpriority = c.pr
    """,
    tags=("cross-join", "outer", "zero-fill"),
)
def cross_join_status_priority_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense (status x priority) matrix with zero-filled empty cells:
    explicit cross join of two tiny distinct-value dimensions, left
    join of actual counts. Both dimension sides and the grid are
    broadcast-sized; the only shuffle is the counts aggregation."""
    o = load_table(spark, sf_dir, "orders")
    s = o.select("o_orderstatus").distinct()
    p = o.select("o_orderpriority").distinct()
    counts = o.groupBy(
        F.col("o_orderstatus").alias("st"), F.col("o_orderpriority").alias("pr")
    ).agg(F.count("*").alias("n"))
    return (
        s.crossJoin(p)
        .join(
            F.broadcast(counts),
            (F.col("o_orderstatus") == F.col("st")) & (F.col("o_orderpriority") == F.col("pr")),
            "left",
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"),
        )
    )


@register(
    "bigram_top_pairs",
    bench=True,
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS ts
            FROM documents
        ),
        bigr AS (
            SELECT ts[i] || ' ' || ts[i+1] AS bigram
            FROM toks, UNNEST(range(1, len(ts))) AS r(i)
            WHERE len(ts) >= 2
        )
        SELECT bigram, COUNT(*) AS cnt
        FROM bigr GROUP BY bigram
        ORDER BY cnt DESC, bigram
        LIMIT 50
    """,
    tags=("text", "array", "hof", "topk"),
)
def bigram_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 word bigrams across the document corpus. Tokenize once per
    document, form bigrams with zip_with over two array slices (all
    JVM-side, no Python UDF), explode, count, TakeOrderedAndProject.
    At 100 TB the explode output is bounded by total token count; the
    count aggregation partial-combines map-side so only distinct
    bigrams cross the shuffle."""
    d = spread(load_table(spark, sf_dir, "documents"))
    ts = tokens(F.lower(F.col("text")), "[^a-z0-9]+")
    bigrams = F.when(
        F.size(ts) >= 2,
        F.zip_with(
            F.slice(ts, 1, F.size(ts) - 1),
            F.slice(ts, 2, F.size(ts) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "bigram")
        .limit(50)
    )


@register(
    "median_quantity_by_flag",
    oracle="""
        SELECT l_returnflag, MEDIAN(l_quantity) AS med_qty,
               CAST((SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT)) * 100
                     + COUNT(l_quantity) // 2) // COUNT(l_quantity) AS BIGINT) AS avg_qty_e4,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def median_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median (interpolated 50th percentile) of quantity per
    return flag. Exact medians need the full value set per group —
    fine for 3 groups of bounded-cardinality integral quantities; at
    scale prefer approx_percentile (tests/test_approx.py) unless
    exactness is contractual. Quantities are integral doubles, so avg
    and median are reproducible exactly."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("med_qty"),
        gavg(F.col("l_quantity"), 2).alias("avg_qty_e4"),
        F.count("*").alias("n"),
    )


@register(
    "systematic_sample_orders",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS n_sampled,
               SUM(CAST(FLOOR(o_totalprice * 10000) AS BIGINT)) / 10000.0 AS sampled_value
        FROM orders
        WHERE o_orderkey % 17 = 0
        GROUP BY o_orderpriority
    """,
    tags=("sampling", "filter", "agg"),
)
def systematic_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1-in-17 systematic sample keyed on the primary key
    (reproducible across engines and runs, unlike TABLESAMPLE's
    seed-dependent splits), aggregated per priority. The modulo
    predicate pushes to the scan; at scale this is the cheap way to
    bound a pipeline's input while keeping results replayable."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") % 17 == 0)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_sampled"),
            (F.sum(_e4(F.col("o_totalprice"))) / F.lit(10000.0)).alias("sampled_value"),
        )
    )


@register(
    "order_active_months",
    oracle="""
        SELECT m AS active_month, COUNT(*) AS n_active_orders
        FROM (
            SELECT o_orderkey,
                   UNNEST(generate_series(date_trunc('month', o_orderdate),
                                          greatest(date_trunc('month', last_ship),
                                                   date_trunc('month', o_orderdate)),
                                          INTERVAL 1 MONTH)) AS m
            FROM orders
                 JOIN (SELECT l_orderkey, MAX(l_shipdate) AS last_ship
                       FROM lineitem GROUP BY l_orderkey) ls
                   ON o_orderkey = l_orderkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1996-07-01'
        )
        GROUP BY m
    """,
    tags=("datetime", "sequence", "explode"),
)
def order_active_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders active per calendar month: for each H1-1996 order, explode
    the month sequence from order month through its last shipment
    month (sequence + explode — the date-spine pattern), then count.
    The per-order last-ship aggregate is one shuffle on l_orderkey;
    the explode multiplies rows by a small bounded factor (order
    lifetime in months), safe at any scale."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    ls = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
    )
    start = F.date_trunc("month", F.col("o_orderdate"))
    # some synthetic orders ship before their order date; clamp so the
    # sequence is never descending (DuckDB returns empty, Spark errors)
    end = F.greatest(F.date_trunc("month", F.col("last_ship")), start)
    months = F.sequence(start, end, F.expr("INTERVAL 1 MONTH"))
    return (
        o.join(ls, o.o_orderkey == ls.l_orderkey)
        .select(F.explode(months).alias("active_month"))
        .groupBy("active_month")
        .agg(F.count("*").alias("n_active_orders"))
    )


@register(
    "nation_revenue_share_sorted",
    oracle="""
        WITH rev AS (
            SELECT n_name,
                   SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
                     AS rev_e4
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                          JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name
        )
        SELECT n_name, rev_e4 / 10000.0 AS revenue,
               CAST((rev_e4 // SUM(rev_e4) OVER ()) * 1000000
                    + ((rev_e4 % SUM(rev_e4) OVER ()) * 1000000
                       + SUM(rev_e4) OVER () // 2) // SUM(rev_e4) OVER ()
                    AS BIGINT) AS share_e6
        FROM rev
        ORDER BY revenue DESC, n_name
    """,
    tags=("window", "global-sort", "percent-of-total"),
)
def nation_revenue_share_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total: each supplier nation's share of gross revenue,
    globally sorted descending (a full ORDER BY — RangePartitioning
    exchange — not a top-k cut). The unpartitioned window runs over 25
    post-aggregation rows, so the single-partition window stage is
    trivial; the heavy lifting is the partial-combined sum under the
    broadcast dimension joins."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "n_name"
    )
    rev = (
        l.join(F.broadcast(sn), l.l_suppkey == sn.s_suppkey)
        .groupBy("n_name")
        .agg(F.sum(_e4(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("rev_e4"))
    )
    w = Window.partitionBy()
    return (
        rev.select(
            "n_name",
            (F.col("rev_e4") / F.lit(10000.0)).alias("revenue"),
            int_ratio_big(F.col("rev_e4"), F.sum("rev_e4").over(w), 6).alias("share_e6"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )
