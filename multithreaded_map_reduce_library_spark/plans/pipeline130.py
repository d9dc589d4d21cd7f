"""Pipeline batch 130 (round 6): BOUNDED co-presence edge build — the
code form of the mitigation the 10x scale sweep registered for
``kcore_decomposition`` (SCALING.md "Empirical 10x scale validation"):
a co-occurrence graph on a fixed calendar densifies quadratically as
entities grow, so the production edge build must bound the per-cell
pair space instead of pairing every user in a (day, hour) cell.

* ``kcore_bounded_copresence`` — the same k-core analytics (k=3, 6
  peeling rounds, within-core degrees) on a SORTED-NEIGHBORHOOD edge
  build: inside each (day, hour) purchase cell users are ranked by id
  and each user pairs only with its next W=8 neighbors, generated as a
  PURE EQUI-JOIN on (d, h, rank+j) with j exploded from a constant
  1..W array — candidate volume is exactly |cell|·W rows, never
  |cell|², at ANY cell density. Pairs co-present in >= 2 cells become
  edges (the denser threshold compensates the candidate narrowing).
  The DuckDB oracle replays the ranked window, the generate_series
  neighbor offsets, and the unrolled 6-round peel.

Reference parity anchor: the reference engine (mapreduce.h:44-83) has no
graph tier; this extends the driver-mandated superset.

Scale design: rank window per cell (one shuffle on (d, h)), a constant
W-way explode of skinny (cell, rank) keys, an equi-join on (d, h, rank)
— all linear in |s|·W. The peel loop is kcore_decomposition's,
operators/graph.py::kcore_peel (edge-vs-survivor semijoins, node-sized
survivor sets, fixpoint exit). At 10x entities on a fixed calendar the
edge count grows ~10x (each user keeps W neighbors per cell), not ~100x
— the measured fix for the one semantic super-linearity the 10x sweep
left open.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.operators.graph import both_directions, kcore_peel
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_W = 8  # sorted-neighborhood width inside a (day, hour) cell
_MIN_SHARED = 2  # cells two users must co-occur in (within W ranks)
_K = 3
_ROUNDS = 6


def _oracle() -> str:
    edge_cte = f"""
        s AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, hour(ts) AS h
            FROM events WHERE event_type = 'purchase'
        ),
        rnk AS (
            SELECT user_id, d, h,
                   ROW_NUMBER() OVER (PARTITION BY d, h ORDER BY user_id) AS rk
            FROM s
        ),
        cand AS (
            SELECT a.user_id AS ua, b.user_id AS ub
            FROM rnk a
            CROSS JOIN generate_series(1, {_W}) AS g(j)
            JOIN rnk b ON b.d = a.d AND b.h = a.h AND b.rk = a.rk + g.j
        ),
        p AS (
            SELECT ua, ub FROM cand
            GROUP BY ua, ub HAVING COUNT(*) >= {_MIN_SHARED}
        ),
        e AS (
            SELECT ua AS src, ub AS dst FROM p
            UNION ALL
            SELECT ub AS src, ua AS dst FROM p
        ),
        n0 AS (SELECT DISTINCT src AS u FROM e)"""
    rounds = []
    prev = "n0"
    for t in range(1, _ROUNDS + 1):
        rounds.append(
            f"""
        n{t} AS (
            SELECT e.src AS u FROM e
            JOIN {prev} a ON e.src = a.u
            JOIN {prev} b ON e.dst = b.u
            GROUP BY e.src
            HAVING COUNT(*) >= {_K}
        )"""
        )
        prev = f"n{t}"
    return f"""
        WITH {edge_cte},{",".join(rounds)}
        SELECT e.src AS user_id, COUNT(*) AS core_degree
        FROM e
        JOIN {prev} a ON e.src = a.u
        JOIN {prev} b ON e.dst = b.u
        GROUP BY e.src
    """


@register(
    "kcore_bounded_copresence",
    oracle=_oracle(),
    tags=("graph", "kcore", "iterative", "events", "sorted-neighborhood"),
    bench=True,
)
def kcore_bounded_copresence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core (k=3, 6 peeling rounds) on the BOUNDED co-presence graph:
    within each (day, hour) purchase cell, users ranked by id pair only
    with their next W=8 rank-neighbors — candidates are generated by
    exploding a constant 1..W offset array and equi-joining on
    (d, h, rank + j), so the per-cell pair space is |cell|·W at any
    density (vs kcore_decomposition's |cell|², which the 10x scale
    sweep measured densifying ~100x at 10x users on a fixed calendar).
    Pairs sharing >= 2 cells become edges; the peel loop and the
    within-core degree output are kcore_decomposition's."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("d"), F.hour("ts").alias("h"))
        .distinct()
    )
    rnk = s.withColumn(
        "rk", F.row_number().over(Window.partitionBy("d", "h").orderBy("user_id"))
    )
    a = rnk.select(
        F.col("user_id").alias("ua"),
        "d",
        "h",
        "rk",
        F.explode(F.sequence(F.lit(1), F.lit(_W))).alias("j"),
    ).select("ua", "d", "h", (F.col("rk") + F.col("j")).alias("rk_n"))
    b = rnk.select(F.col("user_id").alias("ub"), "d", "h", F.col("rk").alias("rk_n"))
    p = (
        a.join(b, ["d", "h", "rk_n"])
        .groupBy("ua", "ub")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= _MIN_SHARED)
    )
    # A round-9 attempt to pre-partition the checkpoint by src measured
    # 1.34x SLOWER isolated: localCheckpoint freezes the pre-AQE partition
    # count, so the explicit repartition pinned this small edge list to 32
    # near-empty partitions and every peel round paid 32-task stages where
    # AQE-coalesced rounds ran ~1 — reverted.
    edges = both_directions(p).localCheckpoint()
    return kcore_peel(edges, _K, _ROUNDS)
