"""Pipeline batch 93 (round 4): LABEL-PROPAGATION COMMUNITY DETECTION —
the community-structure primitive the graph tier was missing (it had
connectivity: ``dedup_clusters``; cores: ``kcore_decomposition``;
centrality: ``pagerank_dedup_graph``; cohesion: ``triangle_count...`` —
but nothing that *partitions* a graph into communities).

Synchronous label propagation (Raghavan et al. 2007), made fully
deterministic: every node starts labeled with its own id; each round
every node adopts the most frequent label among its neighbors, ties
broken by the smallest label; a fixed number of rounds is unrolled in
both engines (synchronous update + fixed rounds + min-label tie-break
removes every source of the algorithm's usual nondeterminism).

Graph: the same co-purchase graph as ``kcore_decomposition``
(pipeline78) — users sharing a (day, hour) purchase slot.

Reference parity anchor: the reference engine (mapreduce.h:44-83) has no
graph tier; this extends the driver-mandated superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.operators.graph import (
    both_directions,
    copurchase_pairs,
)
from multithreaded_map_reduce_library_spark.plans.registry import register

_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    edge_cte = """
        s AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, hour(ts) AS h
            FROM events WHERE event_type = 'purchase'
        ),
        p AS (
            SELECT a.user_id AS ua, b.user_id AS ub
            FROM s a JOIN s b
              ON a.d = b.d AND a.h = b.h AND a.user_id < b.user_id
            GROUP BY ua, ub
        ),
        e AS (
            SELECT ua AS src, ub AS dst FROM p
            UNION ALL
            SELECT ub AS src, ua AS dst FROM p
        ),
        l0 AS (SELECT DISTINCT src AS u, src AS lbl FROM e)"""
    rounds = []
    prev = "l0"
    for t in range(1, _LPA_ROUNDS + 1):
        rounds.append(
            f"""
        l{t} AS (
            SELECT u, lbl FROM (
                SELECT e.src AS u, p.lbl AS lbl,
                       ROW_NUMBER() OVER (PARTITION BY e.src
                            ORDER BY COUNT(*) DESC, p.lbl ASC) AS rn
                FROM e JOIN {prev} p ON e.dst = p.u
                GROUP BY e.src, p.lbl
            ) WHERE rn = 1
        )"""
        )
        prev = f"l{t}"
    return f"""
        WITH {edge_cte},{",".join(rounds)}
        SELECT u AS user_id, lbl AS community,
               CAST(COUNT(*) OVER (PARTITION BY lbl) AS BIGINT) AS community_size
        FROM {prev}
    """


@register(
    "label_propagation_communities",
    oracle=_lpa_oracle(),
    tags=("graph", "community", "label-propagation", "iterative", "events"),
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation on the co-purchase
    graph, 3 unrolled rounds: node labels start as the node id; each
    round a node adopts the (most frequent, then smallest) label among
    its neighbors. Output is every node's community label plus that
    community's size — the partition-into-communities complement of the
    repo's connectivity/core/centrality graph queries.

    Scale design: per round one edges-to-labels equi-join (shuffles the
    edge list on dst — bucketable), a (node, label) count aggregate, and
    a node-partitioned top-1 window; label state is node-sized and
    localCheckpoint flattens lineage exactly like the CC / BFS / k-core
    precedents. No collect, no global window (the final size count is
    partitioned by community)."""
    edges = both_directions(copurchase_pairs(spark, sf_dir, 1)).localCheckpoint()
    labels = edges.select(F.col("src").alias("u"), F.col("src").alias("lbl")).distinct()
    top1 = Window.partitionBy("u").orderBy(F.desc("c"), F.asc("lbl"))
    for _ in range(_LPA_ROUNDS):
        labels = (
            edges.join(labels.withColumnRenamed("u", "dst"), "dst")
            .groupBy(F.col("src").alias("u"), "lbl")
            .agg(F.count("*").alias("c"))
            .withColumn("rn", F.row_number().over(top1))
            .where(F.col("rn") == 1)
            .select("u", "lbl")
            .localCheckpoint()
        )
    wsize = Window.partitionBy("lbl")
    return labels.select(
        F.col("u").alias("user_id"),
        F.col("lbl").alias("community"),
        F.count("*").over(wsize).cast("bigint").alias("community_size"),
    )
