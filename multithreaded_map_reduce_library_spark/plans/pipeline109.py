"""Pipeline batch 109 (round 4): GRAPH DIAMETER DOUBLE SWEEP + MAX
DRAWDOWN — the eccentricity estimator the graph tier lacked, and the
classic peak-to-trough series statistic:

* ``graph_diameter_double_sweep`` — the standard double-BFS diameter
  lower bound (run BFS from an arbitrary node, then BFS again from the
  farthest node found; the second eccentricity is a lower bound on the
  true diameter and exact on trees): both sweeps run
  operators/graph.py::bfs_layers for a fixed 8 rounds over the
  co-purchase graph, and tie-break the far node deterministically (min
  user_id among max-layer nodes). The DuckDB oracle replays BOTH
  sweeps as chained recursive CTEs.
* ``max_drawdown_daily`` — maximum peak-to-trough drawdown of the
  daily order-revenue series in exact cents: running max via window,
  drawdown per day, then deterministic argmax (earliest trough,
  earliest achieving peak). The risk statistic every monitoring
  dashboard keeps next to the EWMA/Holt forecasts already in the
  registry.

Reference parity anchor: the reference engine (mapreduce.h:44-83) has no
graph or time-series tier; these extend the driver-mandated superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.operators.graph import (
    bfs_layers,
    both_directions,
    copurchase_pairs,
)
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_MIN_SHARED = 2
_DEPTH = 8

_DUCK_EDGES = f"""
        s AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, hour(ts) AS h
            FROM events WHERE event_type = 'purchase'
        ),
        p AS (
            SELECT a.user_id AS ua, b.user_id AS ub
            FROM s a JOIN s b
              ON a.d = b.d AND a.h = b.h AND a.user_id < b.user_id
            GROUP BY ua, ub
            HAVING COUNT(*) >= {_MIN_SHARED}
        ),
        e AS (
            SELECT ua AS src, ub AS dst FROM p
            UNION ALL
            SELECT ub AS src, ua AS dst FROM p
        )
"""


@register(
    "graph_diameter_double_sweep",
    oracle=f"""
        WITH RECURSIVE {_DUCK_EDGES},
        seed AS (SELECT MIN(src) AS u FROM e),
        bfs1 AS (
            SELECT (SELECT u FROM seed) AS user_id, 0 AS layer
            UNION
            SELECT e.dst, bfs1.layer + 1
            FROM bfs1 JOIN e ON e.src = bfs1.user_id
            WHERE bfs1.layer < {_DEPTH}
        ),
        d1 AS (SELECT user_id, MIN(layer) AS layer FROM bfs1 GROUP BY user_id),
        ecc1 AS (SELECT MAX(layer) AS ecc FROM d1),
        far AS (
            SELECT MIN(user_id) AS u FROM d1 CROSS JOIN ecc1
            WHERE layer = ecc1.ecc
        ),
        bfs2 AS (
            SELECT (SELECT u FROM far) AS user_id, 0 AS layer
            UNION
            SELECT e.dst, bfs2.layer + 1
            FROM bfs2 JOIN e ON e.src = bfs2.user_id
            WHERE bfs2.layer < {_DEPTH}
        ),
        d2 AS (SELECT user_id, MIN(layer) AS layer FROM bfs2 GROUP BY user_id)
        SELECT CAST(seed.u AS BIGINT) AS seed_node,
               CAST(ecc1.ecc AS BIGINT) AS ecc_seed,
               CAST(far.u AS BIGINT) AS far_node,
               CAST((SELECT MAX(layer) FROM d2) AS BIGINT) AS diameter_lb,
               CAST((SELECT COUNT(*) FROM d2) AS BIGINT) AS n_reached
        FROM seed CROSS JOIN ecc1 CROSS JOIN far
    """,
    tags=("graph", "bfs", "diameter", "events", "iterative"),
)
def graph_diameter_double_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diameter lower bound by double BFS sweep over the co-purchase
    graph (same slot-sharing edge rule as `bfs_copurchase_layers`):
    sweep 1 from the min-id node finds its eccentricity
    and the farthest node (min-id tie-break); sweep 2 from that node
    reports its eccentricity — the double-sweep bound, exact on trees
    and near-tight on real sparse graphs (the standard trick from the
    iFUB/BFS-diameter literature). Both sweeps are the registry's
    distributed frontier loop, operators/graph.py::bfs_layers.

    Scale design: rounds are fixed (8); per round the shuffle carries
    node-sized frontiers, never edge-sized relations; edges bucketable
    by src at rest. All 8 rounds run; once the frontier is empty a round
    computes nothing but still launches its two checkpoint jobs
    (see bfs_layers)."""
    edges = both_directions(copurchase_pairs(spark, sf_dir, _MIN_SHARED)).localCheckpoint()
    seed = edges.agg(F.min("src").alias("user_id"))
    d1 = bfs_layers(edges, seed, _DEPTH)
    ecc1 = d1.agg(F.max("layer").alias("ecc"))
    far = (
        d1.crossJoin(F.broadcast(ecc1))
        .where(F.col("layer") == F.col("ecc"))
        .agg(F.min("user_id").alias("user_id"))
    )
    d2 = bfs_layers(edges, far, _DEPTH)
    summary2 = d2.agg(
        F.max("layer").cast("bigint").alias("diameter_lb"),
        F.count("*").cast("bigint").alias("n_reached"),
    )
    return (
        seed.select(F.col("user_id").cast("bigint").alias("seed_node"))
        .crossJoin(F.broadcast(ecc1.select(F.col("ecc").cast("bigint").alias("ecc_seed"))))
        .crossJoin(F.broadcast(far.select(F.col("user_id").cast("bigint").alias("far_node"))))
        .crossJoin(F.broadcast(summary2))
    )


@register(
    "max_drawdown_daily",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                        AS BIGINT) AS v
            FROM orders GROUP BY 1
        ),
        dd AS (
            SELECT day, v,
                   CAST(MAX(v) OVER (ORDER BY day) AS BIGINT) AS peak,
                   CAST(MAX(v) OVER (ORDER BY day) - v AS BIGINT) AS drawdown
            FROM daily
        ),
        mdd AS (SELECT MAX(drawdown) AS m FROM dd),
        trough AS (
            SELECT MIN(day) AS trough_day FROM dd CROSS JOIN mdd
            WHERE drawdown = mdd.m
        ),
        at_trough AS (
            SELECT d2.peak, d2.v AS trough_cents
            FROM dd d2 JOIN trough ON d2.day = trough.trough_day
        )
        SELECT (SELECT MIN(day) FROM dd, at_trough
                WHERE dd.day <= (SELECT trough_day FROM trough)
                  AND dd.v = at_trough.peak) AS peak_day,
               trough.trough_day,
               at_trough.peak AS peak_cents,
               at_trough.trough_cents,
               CAST(mdd.m AS BIGINT) AS max_drawdown_cents
        FROM trough CROSS JOIN at_trough CROSS JOIN mdd
    """,
    tags=("timeseries", "drawdown", "orders", "global-sort"),
)
def max_drawdown_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum peak-to-trough drawdown of the daily order-revenue series
    in exact cents: running max over the day order, drawdown = peak − v,
    then the deterministic argmax (earliest trough day with the maximal
    drawdown; peak day = earliest day ≤ trough achieving that peak).
    Integer throughout — no grid needed.

    Scale design: the series lives on the |distinct days| rollup (one
    map-side-combined groupBy from the fact table); the windows and
    argmax run on that skinny relation only."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("v")
        )
    )
    wrun = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.select(
        "day",
        "v",
        F.max("v").over(wrun).cast("bigint").alias("peak"),
        (F.max("v").over(wrun) - F.col("v")).cast("bigint").alias("drawdown"),
    )
    mdd = dd.agg(F.max("drawdown").alias("m"))
    trough = (
        dd.crossJoin(F.broadcast(mdd))
        .where(F.col("drawdown") == F.col("m"))
        .agg(F.min("day").alias("trough_day"))
    )
    at_trough = (
        dd.join(F.broadcast(trough), dd["day"] == F.col("trough_day"))
        .select("trough_day", "peak", F.col("v").alias("trough_cents"))
    )
    peak_day = (
        dd.crossJoin(F.broadcast(at_trough.select("trough_day", F.col("peak").alias("pk"))))
        .where((F.col("day") <= F.col("trough_day")) & (F.col("v") == F.col("pk")))
        .agg(F.min("day").alias("peak_day"))
    )
    return (
        peak_day.crossJoin(F.broadcast(at_trough))
        .crossJoin(F.broadcast(mdd))
        .select(
            "peak_day",
            "trough_day",
            F.col("peak").alias("peak_cents"),
            "trough_cents",
            F.col("m").cast("bigint").alias("max_drawdown_cents"),
        )
    )
