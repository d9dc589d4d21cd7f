"""Pipeline batch 120 (round 4): GRAPH RESILIENCE + ASSORTATIVITY —
the robustness audit and the mixing statistic completing the graph
tier (CC, PageRank, triangles, BFS, diameter, k-core, weighted SP,
communities, centrality are registered):

* ``graph_resilience_topk_removal`` — targeted-attack resilience of
  the co-purchase graph: remove the top-5 degree nodes (deterministic
  (degree DESC, id ASC) cut), re-run connected components on the
  surviving subgraph, and report component count and largest size
  before vs after — the scale-free-network fragility measurement
  (Albert-Jeong-Barabási). Components run distributed (min-label
  propagation); the oracle's recursive CTE computes the identical
  transitive closure.
* ``degree_assortativity`` — Newman's degree-assortativity
  coefficient: the Pearson correlation of endpoint degrees over all
  directed edges, from EXACT integer moment sums (Σd_s, Σd_t, Σd_s²,
  Σd_t², Σd_s·d_t over edges), one double expression, e6 grid.
  Negative r = hubs attach to leaves (disassortative, typical for
  behavioral graphs).

Reference parity anchor: the reference engine (mapreduce.h:44-83) has
no graph tier; these extend the driver-mandated superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.grid import grid
from multithreaded_map_reduce_library_spark.operators.graph import (
    both_directions,
    copurchase_pairs,
)
from multithreaded_map_reduce_library_spark.plans.registry import register

_MIN_SHARED = 2
_TOP_REMOVE = 5
# The oracle computes the exact transitive closure; Spark's unrolled
# min-label loop must run past the min-label node's eccentricity in
# EVERY component (removal can stretch the surviving radius), so the
# round count carries margin over the measured diameter bound (8).
_CC_ROUNDS = 14

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


def _duck_cc(edges_cte: str, out: str) -> str:
    """Transitive-closure CC over the named edge CTE: every node adopts
    the min label it can reach; recursion explores (node, label) pairs."""
    return f"""
        reach_{out} AS (
            SELECT src AS node, src AS lbl FROM {edges_cte}
            UNION
            SELECT {edges_cte}.dst, reach_{out}.lbl
            FROM reach_{out} JOIN {edges_cte} ON {edges_cte}.src = reach_{out}.node
        ),
        {out} AS (
            SELECT node, MIN(lbl) AS comp FROM reach_{out} GROUP BY node
        )"""


@register(
    "graph_resilience_topk_removal",
    oracle=f"""
        WITH RECURSIVE {_DUCK_EDGES},
        deg AS (
            SELECT src AS node, COUNT(*) AS d FROM e GROUP BY src
        ),
        removed AS (
            SELECT node FROM deg ORDER BY d DESC, node ASC LIMIT {_TOP_REMOVE}
        ),
        e2 AS (
            SELECT src, dst FROM e
            WHERE src NOT IN (SELECT node FROM removed)
              AND dst NOT IN (SELECT node FROM removed)
        ),
        {_duck_cc("e", "cc_before")},
        {_duck_cc("e2", "cc_after")},
        iso AS (
            -- nodes isolated by the removal still count as singletons
            SELECT COUNT(*) AS n_iso FROM deg
            WHERE node NOT IN (SELECT node FROM removed)
              AND node NOT IN (SELECT node FROM cc_after)
        ),
        bstats AS (
            SELECT COUNT(DISTINCT comp) AS nc,
                   MAX(cs) AS largest
            FROM (SELECT comp, COUNT(*) AS cs FROM cc_before GROUP BY comp)
        ),
        astats AS (
            SELECT COUNT(DISTINCT comp) AS nc,
                   COALESCE(MAX(cs), 0) AS largest
            FROM (SELECT comp, COUNT(*) AS cs FROM cc_after GROUP BY comp)
        )
        SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
               CAST(bstats.nc AS BIGINT) AS n_components_before,
               CAST(bstats.largest AS BIGINT) AS largest_before,
               CAST(astats.nc + iso.n_iso AS BIGINT) AS n_components_after,
               CAST(GREATEST(astats.largest, LEAST(iso.n_iso, 1)) AS BIGINT)
                   AS largest_after
        FROM bstats CROSS JOIN astats CROSS JOIN iso
    """,
    tags=("graph", "resilience", "connected-components", "events", "iterative"),
)
def graph_resilience_topk_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted-attack resilience: drop the 5 highest-degree nodes
    (ties broken by id) from the co-purchase graph and compare the
    component structure before and after — distributed min-label
    propagation both times (8 rounds, past fixpoint on this graph;
    converged rounds are no-ops so the fixed unroll is exact), nodes
    isolated by the removal counted as singleton components. The
    hub-fragility number a marketplace-abuse or infra-topology review
    reads.

    Scale design: label maps are node-sized; each round is one
    edges×labels equi-join + min-combine (edges bucketable by src),
    localCheckpoint every 3rd round — the registry's CC discipline."""
    edges = both_directions(copurchase_pairs(spark, sf_dir, _MIN_SHARED)).localCheckpoint()
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    removed = deg.orderBy(F.desc("d"), F.asc("node")).limit(_TOP_REMOVE).select("node")
    e2 = (
        edges.join(removed.withColumnRenamed("node", "src"), "src", "left_anti")
        .join(removed.withColumnRenamed("node", "dst"), "dst", "left_anti")
        .localCheckpoint()
    )

    def components(es: DataFrame) -> DataFrame:
        lbl = es.select(F.col("src").alias("node")).distinct().withColumn(
            "comp", F.col("node")
        )
        for k in range(1, _CC_ROUNDS + 1):
            prop = (
                lbl.withColumnRenamed("node", "src")
                .join(es, "src")
                .select(F.col("dst").alias("node"), "comp")
            )
            lbl = (
                lbl.unionAll(prop)
                .groupBy("node")
                .agg(F.min("comp").alias("comp"))
            )
            if k % 3 == 0 or k == _CC_ROUNDS:
                lbl = lbl.localCheckpoint()
        return lbl

    cc_b = components(edges)
    cc_a = components(e2)
    bstats = cc_b.groupBy("comp").count().agg(
        F.count("*").cast("bigint").alias("n_components_before"),
        F.max("count").cast("bigint").alias("largest_before"),
    )
    astats = cc_a.groupBy("comp").count().agg(
        F.count("*").cast("bigint").alias("nc"),
        F.coalesce(F.max("count"), F.lit(0)).cast("bigint").alias("largest_after"),
    )
    iso = (
        deg.join(removed, "node", "left_anti")
        .join(cc_a.select("node"), "node", "left_anti")
        .agg(F.count("*").cast("bigint").alias("n_iso"))
    )
    n_nodes = deg.agg(F.count("*").cast("bigint").alias("n_nodes"))
    return (
        n_nodes.crossJoin(F.broadcast(bstats))
        .crossJoin(F.broadcast(astats))
        .crossJoin(F.broadcast(iso))
        .select(
            "n_nodes",
            "n_components_before",
            "largest_before",
            (F.col("nc") + F.col("n_iso")).cast("bigint").alias("n_components_after"),
            F.greatest(F.col("largest_after"), F.least(F.col("n_iso"), F.lit(1)))
            .cast("bigint")
            .alias("largest_after"),
        )
    )


@register(
    "degree_assortativity",
    oracle=f"""
        WITH {_DUCK_EDGES},
        deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src),
        ed AS (
            SELECT ds.d AS a, dt.d AS b
            FROM e JOIN deg ds ON ds.node = e.src JOIN deg dt ON dt.node = e.dst
        ),
        mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS m,
                   CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
                   CAST(SUM(a * a) AS BIGINT) AS saa,
                   CAST(SUM(b * b) AS BIGINT) AS sbb,
                   CAST(SUM(a * b) AS BIGINT) AS sab
            FROM ed
        )
        SELECT m AS n_directed_edges,
               CAST(FLOOR(
                   (CAST(sab AS DOUBLE) * m - CAST(sa AS DOUBLE) * sb)
                   / SQRT((CAST(saa AS DOUBLE) * m - CAST(sa AS DOUBLE) * sa)
                          * (CAST(sbb AS DOUBLE) * m - CAST(sb AS DOUBLE) * sb))
                   * 1000000.0 + 0.5) AS BIGINT) AS assortativity_e6
        FROM mom
    """,
    tags=("graph", "assortativity", "events"),
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman's degree assortativity of the co-purchase graph: Pearson
    correlation of endpoint degrees over the directed edge list, from
    exact integer moments in one double expression (CUPED discipline)
    on the e6 grid. r < 0 (hubs attach to low-degree nodes) flags the
    disassortative hub-and-spoke shape whose fragility
    `graph_resilience_topk_removal` then quantifies.

    Scale design: degrees are one map-side-combined rollup; the edge-
    degree join shuffles edge-keyed skinny rows; moments partial-
    aggregate."""
    edges = both_directions(copurchase_pairs(spark, sf_dir, _MIN_SHARED))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    ed = (
        edges.join(deg.select(F.col("node").alias("src"), F.col("d").alias("a")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("d").alias("b")), "dst")
        .select("a", "b")
    )
    mom = ed.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("a").cast("bigint").alias("sa"),
        F.sum("b").cast("bigint").alias("sb"),
        F.sum(F.col("a") * F.col("a")).cast("bigint").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("bigint").alias("sbb"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("sab"),
    )
    num = F.col("sab").cast("double") * F.col("m") - F.col("sa").cast("double") * F.col(
        "sb"
    )
    va = F.col("saa").cast("double") * F.col("m") - F.col("sa").cast("double") * F.col(
        "sa"
    )
    vb = F.col("sbb").cast("double") * F.col("m") - F.col("sb").cast("double") * F.col(
        "sb"
    )
    return mom.select(
        F.col("m").alias("n_directed_edges"),
        grid(num / F.sqrt(va * vb), 6).alias("assortativity_e6"),
    )
