"""Pipeline batch 44: WITH-TIES top-k semantics (RANK-based, the SQL
FETCH ... WITH TIES contract), new-vs-returning daily user split, and
Weisfeiler-Lehman label refinement on the co-purchase graph (the
graph-fingerprinting primitive behind WL kernels and GNN
expressiveness arguments).

WL labels are 48-bit md5 integers of "old_label:sorted neighbor
labels" — deterministic, engine-replayable, two unrolled rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.grid import grid
from multithreaded_map_reduce_library_spark.operators.graph import (
    both_directions,
    copurchase_pairs,
)
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table


@register(
    "topk_with_ties_orders",
    oracle="""
        WITH r AS (
            SELECT o_orderstatus, o_orderkey, o_totalprice,
                   CAST(RANK() OVER (PARTITION BY o_orderstatus
                                     ORDER BY o_totalprice DESC) AS BIGINT) AS rnk
            FROM orders
        )
        SELECT o_orderstatus, o_orderkey,
               CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_e2, rnk
        FROM r WHERE rnk <= 3
    """,
    tags=("topk", "window", "ties", "orders"),
)
def topk_with_ties_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per status WITH TIES — RANK instead of
    ROW_NUMBER, the `FETCH FIRST 3 ROWS WITH TIES` semantics: equal
    prices at the cut all come back, so the result is a deterministic
    FUNCTION OF THE DATA with no tiebreak column needed (the semantics
    audit queries should use when ties are meaningful). Complements
    `window_top_orders_per_customer`'s row_number form.

    Scale design: per-status rank windows (5 partitions); identical
    shape to every windowed top-k here.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"))
    return (
        orders.select(
            "o_orderstatus",
            "o_orderkey",
            F.rank().over(w).cast("bigint").alias("rnk"),
            grid(F.col("o_totalprice"), 2).alias("price_e2"),
        )
        .where(F.col("rnk") <= 3)
        .select("o_orderstatus", "o_orderkey", "price_e2", "rnk")
    )


@register(
    "new_vs_returning_daily",
    oracle="""
        WITH f AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
            FROM events GROUP BY user_id
        ),
        d AS (
            SELECT DISTINCT e.user_id, CAST(e.ts AS DATE) AS day, f.first_day
            FROM events e JOIN f ON e.user_id = f.user_id
        )
        SELECT day,
               COUNT(*) FILTER (WHERE day = first_day) AS n_new,
               COUNT(*) FILTER (WHERE day > first_day) AS n_returning
        FROM d GROUP BY day
    """,
    tags=("analytics", "cohort", "events"),
)
def new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into new (first-ever-seen that day) vs
    returning — the first line of every growth dashboard, and the
    flow-rate companion of `cohort_retention_matrix`'s stock view.
    Pure integers.

    Scale design: first-seen MIN aggregate + user-keyed join
    (co-located under user bucketing), distinct (user, day) collapse
    map-side, then a |days|-row rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    d = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .join(f, "user_id")
    )
    return d.groupBy("day").agg(
        F.count(F.when(F.col("day") == F.col("first_day"), 1)).alias("n_new"),
        F.count(F.when(F.col("day") > F.col("first_day"), 1)).alias("n_returning"),
    )


_WL_MIN_SHARED = 2
_WL_ROUNDS = 2


def _wl_oracle() -> str:
    # shared edge construction with pipeline34's BFS graph
    base = f"""
        s AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, hour(ts) AS h
            FROM events WHERE event_type = 'purchase'
        ),
        p AS (
            SELECT a.user_id AS ua, b.user_id AS ub
            FROM s a JOIN s b
              ON a.d = b.d AND a.h = b.h AND a.user_id < b.user_id
            GROUP BY ua, ub
            HAVING COUNT(*) >= {_WL_MIN_SHARED}
        ),
        e AS (
            SELECT ua AS src, ub AS dst FROM p
            UNION ALL
            SELECT ub AS src, ua AS dst FROM p
        ),
        l0 AS (
            SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS label
            FROM e GROUP BY src
        )"""
    steps = []
    prev = "l0"
    for k in range(1, _WL_ROUNDS + 1):
        steps.append(f"""
        m{k} AS (
            SELECT e.src AS node,
                   CAST(('0x' || substr(md5(
                       CAST(MAX(lp.label) AS VARCHAR) || ':' ||
                       array_to_string(list(ln.label ORDER BY ln.label), ',')
                   ), 1, 12)) AS BIGINT) AS label
            FROM e
            JOIN {prev} lp ON lp.node = e.src
            JOIN {prev} ln ON ln.node = e.dst
            GROUP BY e.src
        )""")
        prev = f"m{k}"
    return f"""
        WITH {base},
        {",".join(steps)}
        SELECT label, COUNT(*) AS n_nodes
        FROM {prev} GROUP BY label
    """


@register(
    "wl_graph_refinement",
    oracle=_wl_oracle(),
    tags=("graph", "weisfeiler-lehman", "iterative", "events"),
)
def wl_graph_refinement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weisfeiler-Lehman label refinement (2 rounds) on the co-purchase
    graph: start from degree labels, then repeatedly hash each node's
    (own label, sorted multiset of neighbor labels) — the structural
    fingerprinting behind WL graph kernels and the standard
    expressiveness yardstick for GNNs. Output: the label histogram
    after round 2 (nodes sharing a label are structurally
    indistinguishable at radius 2).

    Determinism: labels are 48-bit md5 integers of a canonically
    sorted neighbor string — reproducible cross-engine; the oracle
    replays both rounds.

    Scale design: each round is one edge-keyed join + a per-node
    sorted-collect (neighbor lists are degree-bounded); rounds are
    node/edge-sized with no global order. The canonical distributed WL
    layout (edges bucketed by src re-used every round).
    """
    e = both_directions(copurchase_pairs(spark, sf_dir, _WL_MIN_SHARED)).localCheckpoint()
    l = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("label")
    )
    for _ in range(_WL_ROUNDS):
        lp = l.select(F.col("node").alias("src"), F.col("label").alias("own"))
        ln = l.select(F.col("node").alias("dst"), F.col("label").alias("nb"))
        sig = (
            e.join(lp, "src")
            .join(ln, "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(
                F.concat(
                    F.max("own").cast("string"),
                    F.lit(":"),
                    F.array_join(F.sort_array(F.collect_list("nb")), ","),
                ).alias("sig")
            )
        )
        l = sig.select(
            "node",
            F.conv(F.substring(F.md5("sig"), 1, 12), 16, 10)
            .cast("bigint")
            .alias("label"),
        ).localCheckpoint()
    return l.groupBy("label").agg(F.count("*").alias("n_nodes"))
