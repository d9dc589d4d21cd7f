"""Relational batch 7: advanced SQL-surface operators — LATERAL correlated
subqueries, CDC snapshot diffing, table profiling, skyline (Pareto
frontier), deterministic mode, and an exact-capacity approx_top_k sketch.

Reference parity note: none of these exist in the reference (its whole
surface is the five functions in ``mapreduce.h:44-83``); they extend the
engine's relational breadth per SURVEY.md §2.2 ("built-in if added").
Float rules follow SCALING.md: money sums are integer ten-thousandths,
doubles only see +,-,*,/ and one final ROUND.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.grid import grid, int_ratio
from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table, scaled_broadcast

_LATERAL_SQL = """
    SELECT c_custkey, o_orderkey, o_totalprice
    FROM customer,
         LATERAL (SELECT o_orderkey, o_totalprice
                  FROM orders
                  WHERE o_custkey = c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey
                  LIMIT 2) t
    WHERE c_mktsegment = 'BUILDING'
"""


@register(
    "lateral_top2_orders_per_customer",
    oracle=_LATERAL_SQL,
    tags=("sql-api", "lateral", "topk", "join"),
    bench=True,
)
def lateral_top2_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-2 orders via a LATERAL correlated subquery — the
    SQL-standard form of 'top-N per group'. One ANSI string drives both
    engines (``spark.sql`` over temp views and the DuckDB oracle), proving
    the engine's SQL surface covers lateral joins.

    Scale design: Catalyst decorrelates the lateral subquery into a
    ROW_NUMBER window over the orders side (DomainJoin rewrite), so the
    physical plan is one shuffle on o_custkey with WindowGroupLimit
    pushing the LIMIT 2 below the sort — per-group state is O(2), never
    the customer's full order list. The deterministic (price, orderkey)
    tiebreak keeps the cut engine-stable."""
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_SQL)


@register(
    "cdc_snapshot_diff_orders",
    oracle="""
        WITH base AS (SELECT o_orderkey,
                             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
                      FROM orders),
        old AS (SELECT o_orderkey, cents FROM base WHERE o_orderkey % 97 <> 0),
        new AS (SELECT o_orderkey,
                       CASE WHEN o_orderkey % 13 = 0 THEN (cents * 21) // 20
                            ELSE cents END AS cents
                FROM base WHERE o_orderkey % 89 <> 0)
        SELECT CASE WHEN old.o_orderkey IS NULL THEN 'insert'
                    WHEN new.o_orderkey IS NULL THEN 'delete'
                    WHEN old.cents <> new.cents THEN 'update'
                    ELSE 'unchanged' END AS change_type,
               COUNT(*) AS n_rows,
               CAST(SUM(COALESCE(new.cents, old.cents)) AS BIGINT) AS price_cents
        FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
        GROUP BY 1
    """,
    tags=("cdc", "warehouse", "full-outer-join", "diff"),
)
def cdc_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture by snapshot diff: two deterministic snapshots
    of ``orders`` (keys dropped / prices adjusted by modular rules) are
    full-outer-joined on the key and every row classified
    insert/delete/update/unchanged — the reconciliation pass that turns
    periodic full dumps into an incremental feed when a source lacks a
    changelog.

    Scale design: both snapshots are filtered scans of the same table, so
    the join is a single shuffle on the primary key (co-partitioned by
    AQE); the classification is a map-side CASE and the output aggregates
    to 4 rows. At 100 TB the two snapshots would be bucketed by key at
    rest, deleting the shuffle entirely."""
    o = load_table(spark, sf_dir, "orders")
    # All money math in integer cents (floor once, then integer ops only) so
    # the update rule and the diff are bit-deterministic across engines.
    base = o.select(
        "o_orderkey", F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    old = base.filter(F.col("o_orderkey") % 97 != 0)
    new = base.filter(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.expr("(cents * 21) div 20")
        )
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    j = old.withColumnsRenamed({"o_orderkey": "k_old", "cents": "p_old"}).join(
        new.withColumnsRenamed({"o_orderkey": "k_new", "cents": "p_new"}),
        F.col("k_old") == F.col("k_new"),
        "full_outer",
    )
    change = (
        F.when(F.col("k_old").isNull(), "insert")
        .when(F.col("k_new").isNull(), "delete")
        .when(F.col("p_old") != F.col("p_new"), "update")
        .otherwise("unchanged")
    )
    return (
        j.select(
            change.alias("change_type"),
            F.coalesce("p_new", "p_old").alias("p"),
        )
        .groupBy("change_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("p").alias("price_cents"),
        )
    )


@register(
    "profile_orders_columns",
    oracle="""
        SELECT 'o_orderkey' AS column_name, COUNT(*) AS n_rows,
               COUNT(*) - COUNT(o_orderkey) AS n_nulls,
               COUNT(DISTINCT o_orderkey) AS n_distinct,
               CAST(MIN(o_orderkey) AS DOUBLE) AS min_v,
               CAST(MAX(o_orderkey) AS DOUBLE) AS max_v
        FROM orders
        UNION ALL
        SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
               COUNT(DISTINCT o_custkey),
               CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
               COUNT(DISTINCT o_totalprice),
               -- exact: MIN/MAX select one stored parquet double bit-for-bit
               -- (no arithmetic), so the raw value is cross-engine-identical
               MIN(o_totalprice), MAX(o_totalprice)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
               COUNT(DISTINCT o_orderstatus), NULL, NULL
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
               COUNT(DISTINCT o_orderpriority), NULL, NULL
        FROM orders
    """,
    tags=("profiling", "data-quality", "union"),
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profiling of ``orders``: one row per column with
    row count, null count, distinct count, and a numeric min/max envelope
    (NULL for string columns) — the schema-inference / quality-report
    operator every ingest pipeline runs before accepting a drop.

    Scale design: each per-column profile is a partial-aggregated scan
    (COUNT DISTINCT shuffles its own narrow key), and Spark's
    ReuseExchange dedupes the five scans of the same file; output is 5
    rows. A 100 TB profile job runs all columns in one pass with
    approx_count_distinct — here the exact form is kept so the oracle
    hash-matches."""
    o = load_table(spark, sf_dir, "orders")

    def prof(col: str, numeric: bool, money: bool = False) -> DataFrame:
        if money:
            # exact: MIN/MAX select one stored parquet double bit-for-bit
            # (no arithmetic), so the raw value is cross-engine-identical
            mn: F.Column = F.min(col)
            mx: F.Column = F.max(col)
        elif numeric:
            mn = F.min(col).cast("double")
            mx = F.max(col).cast("double")
        else:
            mn = F.lit(None).cast("double")
            mx = F.lit(None).cast("double")
        return o.agg(
            F.lit(col).alias("column_name"),
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count(col)).alias("n_nulls"),
            F.count_distinct(F.col(col)).alias("n_distinct"),
            mn.alias("min_v"),
            mx.alias("max_v"),
        )

    parts = [
        prof("o_orderkey", True),
        prof("o_custkey", True),
        prof("o_totalprice", True, money=True),
        prof("o_orderstatus", False),
        prof("o_orderpriority", False),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@register(
    "skyline_pareto_customers",
    oracle="""
        WITH s AS (
            SELECT o_custkey AS c, COUNT(*) AS n_orders,
                   SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS spend_cents
            FROM orders GROUP BY o_custkey
        )
        SELECT c AS o_custkey, n_orders,
               CAST(spend_cents AS BIGINT) AS spend_cents
        FROM s a
        WHERE NOT EXISTS (
            SELECT 1 FROM s b
            WHERE b.n_orders >= a.n_orders AND b.spend_cents >= a.spend_cents
              AND (b.n_orders > a.n_orders OR b.spend_cents > a.spend_cents)
        )
    """,
    tags=("skyline", "pareto", "global-sort"),
    bench=True,
)
def skyline_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier: customers not dominated on
    (order count, total spend) — no other customer is >= on both axes and
    strictly better on one. The multi-criteria shortlist operator
    (vendor selection, doc-quality frontier) that no single ORDER BY can
    express.

    Scale design (round-5 rewrite, VERDICT r4 item 2): in 2D the
    frontier is a rank sweep, not a pair join. Customers collapse to the
    per-customer rollup in one shuffle; a second rollup to the distinct
    order-count axis (|distinct n_orders| rows — bounded by the max
    orders any one customer places, a constant-ish dimension at any
    corpus size) records max spend per count. One cumulative-max window
    over that skinny axis, ordered by count descending and excluding the
    current row, yields ``best_higher(n)`` — the best spend among
    strictly-larger counts. A customer is on the frontier iff its spend
    equals its count's max AND strictly exceeds ``best_higher``; equal
    (count, spend) duplicates all survive, matching the NOT-EXISTS
    strict-dominance oracle. The dominance check is then a broadcast
    hash equi-join on n_orders — no theta/BNLJ join at any scale, and
    the only single-partition window runs on the distinct-count axis,
    never on customers."""
    o = load_table(spark, sf_dir, "orders")
    s = o.groupBy(F.col("o_custkey").alias("c")).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("spend_cents"),
    )
    per_n = s.groupBy("n_orders").agg(F.max("spend_cents").alias("mx_spend"))
    w_higher = (
        Window.orderBy(F.desc("n_orders"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ann = per_n.select(
        "n_orders", "mx_spend", F.max("mx_spend").over(w_higher).alias("best_higher")
    )
    return (
        s.join(F.broadcast(ann), "n_orders")
        .where(
            (F.col("spend_cents") == F.col("mx_spend"))
            & (
                F.col("best_higher").isNull()
                | (F.col("spend_cents") > F.col("best_higher"))
            )
        )
        .select(F.col("c").alias("o_custkey"), "n_orders", "spend_cents")
    )


@register(
    "mode_priority_per_status",
    oracle="""
        WITH c AS (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
                   FROM orders GROUP BY 1, 2),
        r AS (SELECT o_orderstatus, o_orderpriority, n,
                     ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                        ORDER BY n DESC, o_orderpriority) AS rk
              FROM c)
        SELECT o_orderstatus, o_orderpriority AS mode_priority, n
        FROM r WHERE rk = 1
    """,
    tags=("aggregation", "mode", "window"),
)
def mode_priority_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per group: the most frequent order priority for
    each order status, ties broken lexically — unlike the built-in
    ``mode()`` whose tie-break is engine-defined, this ranked-count form
    hashes identically everywhere.

    Scale design: the heavy input collapses in the first partial-agg
    shuffle to |status x priority| rows; the window runs on that tiny
    grid. WindowGroupLimit keeps per-group state at one row."""
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority")
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "n"
        )
    )


@register(
    "approx_topk_tokens_exact_capacity",
    oracle="""
        WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
                     FROM documents),
        c AS (SELECT token, COUNT(*) AS n FROM tok
              WHERE token <> '' GROUP BY token),
        r AS (SELECT token, n,
                     CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS rk
              FROM c)
        SELECT token, n, rk FROM r WHERE rk <= 10
    """,
    tags=("approx", "sketch", "topk", "text-analysis"),
)
def approx_topk_tokens_exact_capacity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 tokens via the ``approx_top_k`` frequent-items sketch, run
    at a capacity (1024) that exceeds the corpus vocabulary — in that
    regime the space-saving sketch is provably exact, so the sketch
    result hash-matches the exact GROUP BY oracle while keeping the
    mergeable one-pass shape.

    Scale design: this is the honest 100 TB top-k: one partial sketch per
    task, sketches merge associatively in a single final reduce (no
    full-vocabulary shuffle like groupBy+orderBy+limit). When the true
    vocabulary exceeds capacity the same plan degrades gracefully to
    approximate counts; re-rank below stays deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    docs.select(F.explode(tokens("text", " ")).alias("token")).createOrReplaceTempView(
        "tok_v"
    )
    # k=100 >= vocabulary, so the sketch returns every token with its exact
    # count; the deterministic re-rank below (not the sketch's internal,
    # engine-arbitrary tie order) picks the final 10.
    sk = spark.sql(
        "SELECT item AS token, count AS n"
        " FROM (SELECT inline(approx_top_k(token, 100, 1024)) FROM tok_v)"
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return (
        sk.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
        .select("token", "n", "rk")
    )


@register(
    "contribution_wow_by_segment",
    oracle="""
        WITH wk AS (
            SELECT c_mktsegment AS seg,
                   CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
                   SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS rev
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2
        ),
        mx AS (SELECT MAX(week) AS wlast FROM wk),
        cur AS (SELECT seg, rev FROM wk, mx WHERE week = wlast),
        prev AS (SELECT seg, rev FROM wk, mx WHERE week = wlast - INTERVAL 7 DAY),
        d AS (SELECT COALESCE(cur.seg, prev.seg) AS seg,
                     COALESCE(cur.rev, 0) AS cur_cents,
                     COALESCE(prev.rev, 0) AS prev_cents
              FROM cur FULL OUTER JOIN prev ON cur.seg = prev.seg),
        t AS (SELECT SUM(cur_cents - prev_cents) AS total_delta FROM d)
        SELECT seg, CAST(cur_cents AS BIGINT) AS cur_cents,
               CAST(prev_cents AS BIGINT) AS prev_cents,
               CAST(cur_cents - prev_cents AS BIGINT) AS delta_cents,
               CAST(FLOOR(CAST(cur_cents - prev_cents AS DOUBLE)
                   / CAST(total_delta AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS share_of_change_e6
        FROM d CROSS JOIN t
    """,
    tags=("analytics", "contribution", "root-cause", "window"),
)
def contribution_wow_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution analysis (root-cause decomposition): which market
    segment drove the latest week-over-week revenue change. Each
    segment's delta between the last two weeks is attributed as a share
    of the total delta — the first question any metrics regression
    triggers. Integer cents throughout; the share is one IEEE division
    of exact integers.

    Scale design: revenue collapses to |segment x week| rows in one
    partial-agg shuffle (the customer dim broadcasts); the last-week
    scalar and the total-delta scalar are one-row broadcasts. The
    full-outer segment merge handles segments present in only one
    week."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    wk = (
        o.join(scaled_broadcast(c, sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.date_trunc("week", "o_orderdate").cast("date").alias("week"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("seg", "week")
        .agg(F.sum("cents").alias("rev"))
    )
    mx = wk.agg(F.max("week").alias("wlast"))
    wkx = wk.crossJoin(F.broadcast(mx))
    cur = wkx.filter(F.col("week") == F.col("wlast")).select("seg", F.col("rev").alias("cur_cents"))
    prev = wkx.filter(F.col("week") == F.date_sub(F.col("wlast"), 7)).select(
        F.col("seg").alias("pseg"), F.col("rev").alias("prev_cents")
    )
    d = (
        cur.join(prev, cur.seg == prev.pseg, "full_outer")
        .select(
            F.coalesce("seg", "pseg").alias("seg"),
            F.coalesce("cur_cents", F.lit(0)).alias("cur_cents"),
            F.coalesce("prev_cents", F.lit(0)).alias("prev_cents"),
        )
    )
    t = d.agg(F.sum(F.col("cur_cents") - F.col("prev_cents")).alias("total_delta"))
    return d.crossJoin(F.broadcast(t)).select(
        "seg",
        "cur_cents",
        "prev_cents",
        (F.col("cur_cents") - F.col("prev_cents")).alias("delta_cents"),
        grid(
            (F.col("cur_cents") - F.col("prev_cents")).cast("double")
            / F.col("total_delta").cast("double"),
            6,
        ).alias("share_of_change_e6"),
    )


@register(
    "orderkey_skew_profile",
    oracle="""
        WITH g AS (SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey),
        s AS (SELECT COUNT(*) AS n_groups,
                     SUM(n) AS n_rows,
                     MIN(n) AS min_n, MAX(n) AS max_n
              FROM g)
        SELECT n_groups, CAST(n_rows AS BIGINT) AS n_rows, min_n, max_n,
               CAST((n_rows * 1000000 + n_groups // 2) // n_groups AS BIGINT) AS avg_n_e6,
               (SELECT COUNT(*) FROM g, s WHERE n * n_groups > 2 * n_rows)
                   AS n_hot_groups
        FROM s
    """,
    tags=("profiling", "skew", "diagnostics"),
)
def orderkey_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for lineitem.l_orderkey: group-count
    envelope (min/avg/max rows per key) plus the number of 'hot' keys
    carrying more than 2x the mean — the measurement that decides
    whether a join needs salting or AQE skew splitting BEFORE it runs at
    100 TB (the companion diagnostic to `salted_skew_join_revenue`).
    All integer counts; the average is one exact division.

    Scale design: one partial-agg shuffle builds the per-key counts; the
    profile is a grand aggregate over key-count rows (never raw data),
    and the hot-key count reuses the same aggregate against two
    broadcast scalars."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_orderkey").agg(F.count("*").alias("n"))
    s = g.agg(
        F.count("*").alias("n_groups"),
        F.sum("n").alias("n_rows"),
        F.min("n").alias("min_n"),
        F.max("n").alias("max_n"),
    )
    hot = (
        g.crossJoin(F.broadcast(s))
        .filter(F.col("n") * F.col("n_groups") > 2 * F.col("n_rows"))
        .agg(F.count("*").alias("n_hot_groups"))
    )
    return s.crossJoin(F.broadcast(hot)).select(
        "n_groups",
        "n_rows",
        "min_n",
        "max_n",
        int_ratio(F.col("n_rows"), F.col("n_groups"), 6).alias("avg_n_e6"),
        "n_hot_groups",
    )


@register(
    "null_semantics_priority_report",
    oracle="""
        WITH x AS (SELECT NULLIF(o_orderpriority, '4-NOT SPECIFIED') AS pri,
                          o_orderstatus,
                          CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
                   FROM orders)
        SELECT pri, COUNT(*) AS n_rows, COUNT(pri) AS n_non_null,
               CAST(SUM(cents) AS BIGINT) AS cents,
               CAST(SUM(CASE WHEN pri IS NOT DISTINCT FROM NULL
                        THEN cents ELSE 0 END) AS BIGINT) AS null_bucket_cents
        FROM x
        GROUP BY pri
        ORDER BY pri NULLS FIRST
    """,
    tags=("nulls", "semantics", "aggregation", "global-sort"),
)
def null_semantics_priority_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics corner cases in one report: NULLIF derives a
    nullable priority ('not specified' becomes NULL), COUNT(*) vs
    COUNT(col) split the null bucket, IS NOT DISTINCT FROM (null-safe
    equality, `<=>`) routes null-bucket money, and the output orders
    NULLS FIRST explicitly — the semantics every engine must pin down
    and the reference's typeless strings never face (mapreduce.h:8-12
    has no null at all).

    Scale design: one partial-agg shuffle over a 6-value key; the sort
    is dimension-sized. Null grouping keys hash to one group like any
    other value."""
    o = load_table(spark, sf_dir, "orders")
    x = o.select(
        F.nullif(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED")).alias("pri"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return (
        x.groupBy("pri")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("pri").alias("n_non_null"),
            F.sum("cents").alias("cents"),
            F.sum(
                F.when(F.col("pri").eqNullSafe(F.lit(None)), F.col("cents")).otherwise(0)
            ).alias("null_bucket_cents"),
        )
        .orderBy(F.col("pri").asc_nulls_first())
    )


@register(
    "orders_pareto_concentration",
    oracle="""
        WITH s AS (SELECT o_custkey,
                          SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS cents
                   FROM orders GROUP BY o_custkey),
        t AS (SELECT SUM(cents) AS total, COUNT(*) AS n_customers FROM s),
        r AS (SELECT cents,
                     SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum
              FROM s)
        SELECT t.n_customers,
               (SELECT COUNT(*) FROM r, t
                WHERE r.cum - r.cents < (4 * t.total + 4) // 5) AS n_for_80pct,
               CAST(t.total AS BIGINT) AS total_cents
        FROM t
    """,
    tags=("analytics", "pareto", "concentration", "window", "global-sort"),
)
def orders_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (the 80/20 check): how many customers,
    taken from the top, cover 80% of total order revenue — the
    concentration diagnostic behind whale-account risk and long-tail
    pruning decisions. All integer cents: the 80% threshold is the
    integer ceiling (4*total+4) div 5 and the prefix test compares exact
    running sums, so the cut is engine-stable.

    Scale design: the fact table collapses to per-customer cents in one
    partial-agg shuffle; the running sum orders the |customers|-sized
    aggregate (dimension-scale sort), and the two scalars broadcast. At
    100 TB the same query runs on the pre-aggregated revenue table."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    s = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    t = s.agg(
        F.sum("cents").alias("total"), F.count("*").alias("n_customers")
    )
    cum = F.sum("cents").over(
        Window.orderBy(F.col("cents").desc(), "o_custkey").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    r = s.select("cents", cum.alias("cum"))
    n80 = (
        r.crossJoin(F.broadcast(t))
        .filter(F.col("cum") - F.col("cents") < F.expr("(4 * total + 4) div 5"))
        .agg(F.count("*").alias("n_for_80pct"))
    )
    return (
        t.crossJoin(F.broadcast(n80))
        .select("n_customers", "n_for_80pct", F.col("total").alias("total_cents"))
    )
