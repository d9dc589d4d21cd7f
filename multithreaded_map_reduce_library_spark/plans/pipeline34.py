"""Pipeline batch 34: breadth-first traversal over a behavioral graph —
the frontier-expansion primitive missing from the graph tier
(connected components, PageRank, and triangle counting live in
operators/graph.py and operators/dedup.py). The DuckDB oracle runs the
IDENTICAL traversal as a recursive CTE, so the layer assignment is
hash-checked end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.operators.graph import (
    bfs_layers,
    both_directions,
    copurchase_pairs,
)
from multithreaded_map_reduce_library_spark.plans.registry import register

_BFS_MIN_SHARED = 2
_BFS_DEPTH = 3


@register(
    "bfs_copurchase_layers",
    oracle=f"""
        WITH RECURSIVE s AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, hour(ts) AS h
            FROM events WHERE event_type = 'purchase'
        ),
        p AS (
            SELECT a.user_id AS ua, b.user_id AS ub, COUNT(*) AS c
            FROM s a JOIN s b
              ON a.d = b.d AND a.h = b.h AND a.user_id < b.user_id
            GROUP BY ua, ub
            HAVING COUNT(*) >= {_BFS_MIN_SHARED}
        ),
        e AS (
            SELECT ua AS src, ub AS dst FROM p
            UNION ALL
            SELECT ub AS src, ua AS dst FROM p
        ),
        seed AS (SELECT MIN(src) AS u FROM e),
        bfs AS (
            SELECT (SELECT u FROM seed) AS user_id, 0 AS layer
            UNION
            SELECT e.dst, bfs.layer + 1
            FROM bfs JOIN e ON e.src = bfs.user_id
            WHERE bfs.layer < {_BFS_DEPTH}
        )
        SELECT user_id, MIN(layer) AS layer
        FROM bfs GROUP BY user_id
    """,
    tags=("graph", "bfs", "traversal", "events", "iterative"),
)
def bfs_copurchase_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS layers over the co-purchase graph: users are connected when
    they purchased in >= 2 of the same (day, hour) slots; starting from
    the lowest-id connected user, expand the frontier 3 hops and report
    each reached user's hop distance — the traversal behind "audience
    expansion" / friend-of-friend features, with the slot-sharing rule
    keeping the graph sparse (the same trick as LSH banding: key by a
    bounded slot, never all-pairs).

    Scale design: the frontier loop is operators/graph.py::bfs_layers,
    the standard distributed BFS (edges bucketable by src; visited and
    frontier node-sized). The oracle replays the identical traversal as
    a recursive CTE with min-layer dedup.
    """
    edges = both_directions(copurchase_pairs(spark, sf_dir, _BFS_MIN_SHARED)).localCheckpoint()
    return bfs_layers(edges, edges.agg(F.min("src").alias("user_id")), _BFS_DEPTH)
