"""Iterative graph algorithms over edge-list DataFrames.

Reference parity note: the reference has no joins and no iteration
(SURVEY.md §2.2 — its one dataflow is scan→shuffle→count, distwc.c:8-35);
these extend the engine for graph-shaped corpus work: PageRank ranks
documents inside a near-duplicate cluster (keep the most central copy),
and complements operators/dedup.py::connected_components.

The co-purchase graph (users who bought in the same (day, hour) slots)
is built here once: ``copurchase_pairs`` is its one self-join +
aggregate and ``both_directions`` its directed edge list. ``bfs_layers`` is the one
frontier loop and ``kcore_peel`` the one k-core peel over such a list.

Scale design: every iteration is a join + groupBy on the edge key —
fully distributed, no driver-side data. ``localCheckpoint`` truncates
lineage each round so the plan does not grow with the iteration count
(the classic iterative-Spark failure mode: analysis time explodes after
~20 unchecked iterations). Edge and degree tables are computed once and
reused; at cluster scale they would be cached/persisted explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.sources.catalog import load_table

#: PageRank constants — spelled as the exact doubles the oracle SQL uses
#: (CAST(0.85 AS DOUBLE)); (1 - 0.85) in Python is 0.15000000000000002,
#: which would drift the cross-engine hash, so never write `1 - DAMPING`.
DAMPING = 0.85
RESET = 0.15


def copurchase_pairs(spark: SparkSession, sf_dir: str, min_shared: int) -> DataFrame:
    """Undirected co-purchase pairs ``(ua, ub, c)`` with ``ua < ub``: users
    who purchased in ``c >= min_shared`` of the same (day, hour) slots.

    One self-join of the distinct ``(user_id, d, h)`` purchase slots on
    the slot key and one aggregate on the pair — the scan → shuffle →
    group dataflow of the reference, keyed by a bounded slot so the graph
    stays sparse (never all-pairs). ``min_shared=1`` keeps every pair that
    shares a slot, the same rows as a DISTINCT over the join. Nothing is
    checkpointed: each caller decides what it materializes.
    """
    s = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("d"), F.hour("ts").alias("h"))
        .distinct()
    )
    a = s.select(F.col("user_id").alias("ua"), "d", "h")
    b = s.select(F.col("user_id").alias("ub"), "d", "h")
    return (
        a.join(b, ["d", "h"])
        .where(F.col("ua") < F.col("ub"))
        .groupBy("ua", "ub")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= min_shared)
    )


def both_directions(pairs: DataFrame, *extra: str) -> DataFrame:
    """Directed edges ``(src, dst, *extra)``: each undirected ``(ua, ub)``
    pair once per direction, carrying the ``extra`` columns unchanged."""
    return pairs.select(F.col("ua").alias("src"), F.col("ub").alias("dst"), *extra).unionAll(
        pairs.select(F.col("ub").alias("src"), F.col("ua").alias("dst"), *extra)
    )


def bfs_layers(edges: DataFrame, seed: DataFrame, depth: int) -> DataFrame:
    """Breadth-first layers ``(user_id, layer)`` from the one-row
    ``seed`` (column ``user_id``) over directed ``edges``, ``depth`` hops.

    Each round is one frontier × edges equi-join, a distinct, an anti-join
    against the visited set and a ``localCheckpoint`` to keep lineage
    flat. Visited and frontier are node-sized, never edge-sized. All
    ``depth`` rounds run: once the frontier is empty a round computes
    nothing but still launches its two checkpoint jobs.
    """
    visited = seed.select("user_id", F.lit(0).cast("int").alias("layer")).localCheckpoint()
    frontier = visited
    for k in range(1, depth + 1):
        nxt = (
            frontier.select(F.col("user_id").alias("src"))
            .join(edges, "src")
            .select(F.col("dst").alias("user_id"))
            .distinct()
            .join(visited, "user_id", "left_anti")
            .select("user_id", F.lit(k).cast("int").alias("layer"))
            .localCheckpoint()
        )
        visited = visited.unionAll(nxt).localCheckpoint()
        frontier = nxt
    return visited


def kcore_peel(edges: DataFrame, k: int, max_rounds: int) -> DataFrame:
    """The ``k``-core of the directed (both-ways) ``edges`` after at most
    ``max_rounds`` peels, as ``(user_id, core_degree)``: every surviving
    node with its degree among survivors.

    A peel keeps the nodes with >= ``k`` neighbors among the current
    survivors. The loop stops at a fixpoint, which gives exactly the set
    ``max_rounds`` peels give (the oracles replay all of them):
      (1) each round's survivors come from edges semijoined on
          src IN surv, so surv_{t+1} SUBSETOF surv_t (monotone);
      (2) the peel is a deterministic function f of the survivor SET:
          surv_{t+1} = f(surv_t);
      (3) by (1), |surv_{t+1}| == |surv_t| forces surv_{t+1} == surv_t,
          and then by (2) every later round is the identity — so
          breaking at the first repeated COUNT yields exactly the
          round-``max_rounds`` set; and f(EMPTY) == EMPTY, so count 0
          exits too.
    Each round checkpoints the node-sized survivor set (the next round and
    the count reuse it), so the per-round count is a scheduling-floor job,
    not a recompute; at 100 TB the exit bounds peel work by the graph's
    true core depth instead of the worst-case constant. The semijoin on
    dst runs before the one on src: free, and at sort-merge-join scale
    the last join re-establishes src partitioning for the degree count.
    """

    def within(surv: DataFrame) -> DataFrame:
        return edges.join(surv.select(F.col("u").alias("dst")), "dst", "left_semi").join(
            surv.select(F.col("u").alias("src")), "src", "left_semi"
        )

    surv = edges.select(F.col("src").alias("u")).distinct().localCheckpoint()
    prev_cnt = surv.count()
    for _ in range(max_rounds):
        surv = (
            within(surv)
            .groupBy("src")
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= k)
            .select(F.col("src").alias("u"))
        ).localCheckpoint()
        cnt = surv.count()
        if cnt == 0 or cnt == prev_cnt:
            break
        prev_cnt = cnt
    return within(surv).groupBy(F.col("src").alias("user_id")).agg(
        F.count("*").alias("core_degree")
    )


def pagerank(edges: DataFrame, iters: int = 5) -> DataFrame:
    """PageRank over an undirected edge list ``(id_a, id_b)``.

    Returns ``(doc, deg, pagerank)`` for every vertex that appears in an
    edge. Each of the ``iters`` rounds distributes each vertex's rank
    equally over its neighbors (rank/degree), sums incoming
    contributions per vertex (one shuffle), and applies the damped
    update ``RESET/n + DAMPING * incoming``. Vertices all have degree
    >= 1 by construction, so there is no dangling-mass term.

    The single driver-side action is the vertex count ``n`` (one long) —
    the rank vectors themselves never leave the cluster.
    """
    both = edges.selectExpr("id_a AS u", "id_b AS v").union(
        edges.selectExpr("id_b AS u", "id_a AS v")
    )
    both = both.localCheckpoint()
    deg = both.groupBy("u").agg(F.count("*").alias("deg")).localCheckpoint()
    n = deg.count()
    ranks = deg.select("u", F.lit(1.0 / n).alias("r"))
    for _ in range(iters):
        contribs = (
            both.join(ranks.join(deg, "u"), "u")
            .select(F.col("v").alias("u"), (F.col("r") / F.col("deg")).alias("c"))
        )
        incoming = contribs.groupBy("u").agg(F.sum("c").alias("s"))
        ranks = (
            deg.select("u")
            .join(incoming, "u", "left")
            .select(
                "u",
                (
                    F.lit(RESET / n)
                    + F.lit(DAMPING) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
            .localCheckpoint()
        )
    from multithreaded_map_reduce_library_spark.functions.grid import grid

    return deg.join(ranks, "u").select(
        F.col("u").alias("doc"), "deg", grid(F.col("r"), 6).alias("pagerank_e6")
    )
