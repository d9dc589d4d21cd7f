"""Pipeline batch 116 (round 4): WEIGHTED SHORTEST PATHS + MODERN SQL
SURFACE — the weighted companion of the BFS tier, and the newer ANSI
sugar both engines now parse:

* ``weighted_shortest_paths`` — single-source shortest distances on
  the co-purchase graph with integer edge weights w = 11 − min(c,10)
  (more shared purchase slots ⇒ closer), by 8 unrolled Bellman-Ford
  relaxation rounds — each round a frontier×edges join + per-node MIN,
  the same distributed loop as BFS/k-core but cost-weighted. The
  DuckDB oracle runs the IDENTICAL unrolled chain (d0..d8 CTEs), so
  the hop-8-bounded distances are hash-checked exactly.
* ``sql_modern_star_revenue`` — the post-2023 ANSI sugar: Spark-side
  ``GROUP BY ALL`` + ``SELECT * EXCEPT (...)`` via ``spark.sql``,
  DuckDB-side ``GROUP BY ALL`` + ``* EXCLUDE (...)`` — same
  semantics, dialect-correct spellings, proving the SQL front door
  (not just the DataFrame DSL) is part of the engine's surface.

Reference parity anchor: the reference engine (mapreduce.h:44-83) has
no graph or SQL tier; these extend the driver-mandated superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.operators.graph import (
    both_directions,
    copurchase_pairs,
)
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_MIN_SHARED = 2
_ROUNDS = 8

_DUCK_WEDGES = f"""
        s AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, hour(ts) AS h
            FROM events WHERE event_type = 'purchase'
        ),
        p AS (
            SELECT a.user_id AS ua, b.user_id AS ub,
                   CAST(11 - LEAST(COUNT(*), 10) AS BIGINT) AS w
            FROM s a JOIN s b
              ON a.d = b.d AND a.h = b.h AND a.user_id < b.user_id
            GROUP BY ua, ub
            HAVING COUNT(*) >= {_MIN_SHARED}
        ),
        e AS (
            SELECT ua AS src, ub AS dst, w FROM p
            UNION ALL
            SELECT ub AS src, ua AS dst, w FROM p
        ),
        seed AS (SELECT MIN(src) AS u FROM e)
"""


def _duck_bf_round(k: int) -> str:
    prev = f"d{k - 1}"
    return f"""
        d{k} AS (
            SELECT node, CAST(MIN(d) AS BIGINT) AS d FROM (
                SELECT node, d FROM {prev}
                UNION ALL
                SELECT e.dst AS node, {prev}.d + e.w AS d
                FROM {prev} JOIN e ON e.src = {prev}.node
            ) GROUP BY node
        )"""


@register(
    "weighted_shortest_paths",
    oracle=f"""
        WITH {_DUCK_WEDGES},
        d0 AS (SELECT (SELECT u FROM seed) AS node, CAST(0 AS BIGINT) AS d),
        {",".join(_duck_bf_round(k) for k in range(1, _ROUNDS + 1))}
        SELECT CAST(node AS BIGINT) AS user_id, d AS dist
        FROM d{_ROUNDS}
    """,
    tags=("graph", "shortest-path", "bellman-ford", "events", "iterative"),
)
def weighted_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest distances under integer co-purchase
    weights (w = 11 − min(shared_slots,10)) from the min-id node, by 8
    unrolled Bellman-Ford rounds: every round unions the current
    distance map with one-edge relaxations and takes the per-node MIN —
    monotone, so the fixed unroll is exact for all paths of ≤ 8 edges
    in BOTH engines identically (the oracle is the same unrolled
    chain). The weighted sibling of `bfs_copurchase_layers` and
    `graph_diameter_double_sweep`.

    Scale design: per round one node-keyed join against the (src-
    bucketable) edge list and a map-side-combined MIN — distance maps
    are node-sized; survivor lineage is checkpointed every 3rd round
    (the k-core cadence, measured cheaper than per-round)."""
    p = copurchase_pairs(spark, sf_dir, _MIN_SHARED).select(
        "ua", "ub", (11 - F.least(F.col("c"), F.lit(10))).cast("bigint").alias("w")
    )
    edges = both_directions(p, "w").localCheckpoint()
    dist = (
        edges.agg(F.min("src").alias("node"))
        .select("node", F.lit(0).cast("bigint").alias("d"))
        .localCheckpoint()
    )
    for k in range(1, _ROUNDS + 1):
        relaxed = (
            dist.withColumnRenamed("node", "src")
            .join(edges, "src")
            .select(F.col("dst").alias("node"), (F.col("d") + F.col("w")).alias("d"))
        )
        dist = dist.unionAll(relaxed).groupBy("node").agg(
            F.min("d").cast("bigint").alias("d")
        )
        if k % 3 == 0 or k == _ROUNDS:
            dist = dist.localCheckpoint()
    return dist.select(F.col("node").cast("bigint").alias("user_id"), F.col("d").alias("dist"))


@register(
    "sql_modern_star_revenue",
    oracle="""
        WITH base AS (
            SELECT o_orderstatus AS status,
                   CAST(year(o_orderdate) AS BIGINT) AS yr,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                        AS BIGINT) AS revenue_cents
            FROM orders
            GROUP BY ALL
        )
        SELECT * EXCLUDE (n_orders)
        FROM base
        WHERE revenue_cents > 0
        ORDER BY status, yr
    """,
    tags=("sql", "modern-syntax", "group-by-all", "orders"),
)
def sql_modern_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern ANSI sugar through the SQL front door: Spark parses
    ``GROUP BY ALL`` (group by every non-aggregate select item) and
    ``SELECT * EXCEPT (col)``; DuckDB spells the latter ``EXCLUDE``.
    Same relational semantics, dialect-correct spellings on each side —
    the SQL-string surface is registry-tested, not just the DataFrame
    DSL (`spark.sql` is how the reference's users would migrate ad-hoc
    queries).

    Scale design: plain scan → grouped aggregate with map-side
    partials; the syntax is the point, the plan is the q1 shape."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_modern")
    return spark.sql(
        """
        WITH base AS (
            SELECT o_orderstatus AS status,
                   CAST(year(o_orderdate) AS BIGINT) AS yr,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                        AS BIGINT) AS revenue_cents
            FROM orders_modern
            GROUP BY ALL
        )
        SELECT * EXCEPT (n_orders)
        FROM base
        WHERE revenue_cents > 0
        ORDER BY status, yr
        """
    )
