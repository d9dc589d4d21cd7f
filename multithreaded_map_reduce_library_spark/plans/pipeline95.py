"""Pipeline batch 95 (round 4): PLACEMENT + CENTRALITY — an infra-tier
and a graph-tier primitive, both exact-integer:

* ``consistent_hash_ring_churn`` — consistent hashing with virtual
  nodes, audited the way a storage layer actually cares about: assign
  every document key to its ring successor on an 8-shard × 16-vnode
  ring, remove one shard, re-assign, and report exactly how many keys
  moved (the consistent-hashing contract: ≈ 1/n_shards, vs ~100% for
  ``hash mod n``; the repo's ``rendezvous_shard_assignment`` is the
  HRW alternative — this is the ring classic). Also reports the
  before-removal load spread, the reason vnodes exist.
* ``harmonic_centrality_bounded`` — 3-hop harmonic centrality
  Σ_{v reachable} 1/d(u,v) on the co-purchase graph, with the exact
  per-hop reachable counts. The standard centrality for disconnected
  graphs (no infinite closeness terms); 3 unrolled BFS frontiers keep
  it shuffle-bounded at any scale.

Reference parity anchor: the reference engine (mapreduce.h:44-83) has
neither tier; these extend the driver-mandated superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.grid import duck_int_ratio, int_ratio
from multithreaded_map_reduce_library_spark.operators.graph import (
    both_directions,
    copurchase_pairs,
)
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_N_SHARDS = 8
_VNODES = 16
_REMOVED = 7  # shard index dropped in the churn leg


def _h32_sql(var: str) -> str:
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({var}), {p}, 1)) - 1) * {16 ** (8 - p)}"
        for p in range(1, 9)
    )
    return f"({terms})"


def _ring_cte(name: str, n_shards: int) -> str:
    """Ring points as (packed = pos*64 + shard) — packed argmin gives a
    deterministic successor even on (theoretical) position ties."""
    return f"""
        {name} AS (
            SELECT s.shard, v.vn,
                   {_h32_sql("'ring' || s.shard || '#' || v.vn")} * 64 + s.shard AS packed
            FROM (SELECT UNNEST(range(0, {n_shards})) AS shard) s,
                 (SELECT UNNEST(range(0, {_VNODES})) AS vn) v
        )"""


def _assign_cte(out: str, ring: str) -> str:
    """Successor lookup: min packed ring point at-or-after the key, else
    the global min (wraparound)."""
    return f"""
        {out} AS (
            SELECT k.doc_id,
                   CAST(COALESCE(MIN(CASE WHEN r.packed >= k.kpos * 64 THEN r.packed END),
                                 MIN(r.packed)) % 64 AS BIGINT) AS shard
            FROM keys k CROSS JOIN {ring} r
            GROUP BY k.doc_id
        )"""


@register(
    "consistent_hash_ring_churn",
    oracle=f"""
        WITH keys AS (
            SELECT doc_id, {_h32_sql("'k' || doc_id")} AS kpos FROM documents
        ),
        {_ring_cte("ring8", _N_SHARDS)},
        ring7 AS (SELECT * FROM ring8 WHERE shard <> {_REMOVED}),
        {_assign_cte("a8", "ring8")},
        {_assign_cte("a7", "ring7")},
        loads AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS load FROM a8 GROUP BY shard
        ),
        churn AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(CASE WHEN a8.shard <> a7.shard THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
                   {duck_int_ratio("SUM(CASE WHEN a8.shard <> a7.shard THEN 1 ELSE 0 END)", "COUNT(*)", 6)} AS moved_rate_e6
            FROM a8 JOIN a7 USING (doc_id)
        )
        SELECT n_keys, n_moved, moved_rate_e6,
               (SELECT MAX(load) FROM loads) AS max_shard_load,
               (SELECT MIN(load) FROM loads) AS min_shard_load
        FROM churn
    """,
    tags=("infra", "sharding", "consistent-hashing", "documents"),
)
def consistent_hash_ring_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash ring churn audit: document keys assigned to their
    ring successor on an 8-shard × 16-vnode md5 ring, then re-assigned
    with one shard removed. Reports exact key counts that moved (the
    ring guarantee: only keys owned by the removed shard move — the
    observed rate sits near 1/8) plus the max/min shard loads of the
    full ring (the vnode balance story). Positions and the successor
    argmin are packed integers (pos*64 + shard), so ties are
    deterministic in both engines.

    Scale design: the ring (128 points) is a broadcast relation; the
    successor lookup is a broadcast join + per-key min — the key set
    never shuffles by more than its own aggregation. The churn join is
    keyed on doc_id (co-partitioned out of the two assignment
    aggregates). At 100 TB this is exactly how a shard-map migration
    plan is costed before moving bytes."""
    docs = load_table(spark, sf_dir, "documents")
    keys = docs.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("k"), F.col("doc_id"))), 1, 8), 16, 10)
            .cast("bigint")
            .alias("kpos")
        ),
    )
    ring_rows = [
        (
            s,
            int(
                __import__("hashlib").md5(f"ring{s}#{v}".encode()).hexdigest()[:8], 16
            )
            * 64
            + s,
        )
        for s in range(_N_SHARDS)
        for v in range(_VNODES)
    ]
    ring8 = spark.createDataFrame(ring_rows, "shard int, packed bigint")
    ring7 = ring8.where(F.col("shard") != _REMOVED)

    def assign(ring: DataFrame) -> DataFrame:
        return (
            keys.crossJoin(F.broadcast(ring.select("packed")))
            .groupBy("doc_id")
            .agg(
                (
                    F.coalesce(
                        F.min(
                            F.when(
                                F.col("packed") >= F.col("kpos") * 64, F.col("packed")
                            )
                        ),
                        F.min("packed"),
                    )
                    % 64
                )
                .cast("bigint")
                .alias("shard")
            )
        )

    a8 = assign(ring8)
    a7 = assign(ring7).withColumnRenamed("shard", "shard7")
    loads = a8.groupBy("shard").agg(F.count("*").cast("bigint").alias("load"))
    load_mm = loads.agg(
        F.max("load").alias("max_shard_load"), F.min("load").alias("min_shard_load")
    )
    moved = F.sum(F.when(F.col("shard") != F.col("shard7"), 1).otherwise(0))
    churn = a8.join(a7, "doc_id").agg(
        F.count("*").cast("bigint").alias("n_keys"),
        moved.cast("bigint").alias("n_moved"),
        int_ratio(moved, F.count("*"), 6).alias("moved_rate_e6"),
    )
    return churn.crossJoin(F.broadcast(load_mm)).select(
        "n_keys", "n_moved", "moved_rate_e6", "max_shard_load", "min_shard_load"
    )


_HC_ROUNDS = 3


@register(
    "harmonic_centrality_bounded",
    oracle=f"""
        WITH s AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, hour(ts) AS h
            FROM events WHERE event_type = 'purchase'
        ),
        p AS (
            SELECT a.user_id AS ua, b.user_id AS ub
            FROM s a JOIN s b ON a.d = b.d AND a.h = b.h AND a.user_id < b.user_id
            GROUP BY ua, ub
        ),
        e AS (
            SELECT ua AS src, ub AS dst FROM p
            UNION ALL
            SELECT ub AS src, ua AS dst FROM p
        ),
        d1 AS (SELECT DISTINCT src, dst FROM e),
        r2 AS (
            SELECT DISTINCT a.src, b.dst FROM d1 a JOIN e b ON a.dst = b.src
            WHERE a.src <> b.dst
        ),
        d2 AS (SELECT src, dst FROM r2 EXCEPT SELECT src, dst FROM d1),
        r3 AS (
            SELECT DISTINCT a.src, b.dst FROM d2 a JOIN e b ON a.dst = b.src
            WHERE a.src <> b.dst
        ),
        d3 AS (
            SELECT src, dst FROM r3
            EXCEPT SELECT src, dst FROM d2
            EXCEPT SELECT src, dst FROM d1
        ),
        cnt AS (
            SELECT src,
                   CAST(SUM(CASE WHEN hop = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dist1,
                   CAST(SUM(CASE WHEN hop = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dist2,
                   CAST(SUM(CASE WHEN hop = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dist3
            FROM (
                SELECT src, 1 AS hop FROM d1
                UNION ALL SELECT src, 2 FROM d2
                UNION ALL SELECT src, 3 FROM d3
            ) GROUP BY src
        )
        SELECT src AS user_id, n_dist1, n_dist2, n_dist3,
               CAST(n_dist1 * 1000000 + n_dist2 * 500000 + n_dist3 * 333333 AS BIGINT) AS harmonic_e6
        FROM cnt
    """,
    tags=("graph", "centrality", "harmonic", "events"),
)
def harmonic_centrality_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop harmonic centrality on the co-purchase graph: for each node
    the exact count of nodes at distance 1, 2, and 3 (unrolled BFS
    frontiers with anti-joins against closer hops) and
    Σ 1/d as an exact integer (1e6, 5e5, and the half-up e6 value of
    1/3). Harmonic centrality is the closeness variant that stays
    defined on disconnected graphs — unreached nodes contribute zero.

    Scale design: each hop is one equi-join of the previous frontier
    with the edge list plus a distinct + anti-join — the frontier
    relations carry (src, dst) pairs only. Bounding the hop count is
    what makes centrality tractable at 100 TB (exact closeness needs
    full APSP; 3-hop harmonic is the standard approximation), and the
    1/d weights mean the truncation error is at most n/4 per node."""
    e = both_directions(copurchase_pairs(spark, sf_dir, 1)).localCheckpoint()
    d1 = e.distinct()
    step = lambda front: (  # noqa: E731
        front.select("src", F.col("dst").alias("mid"))
        .join(e.select(F.col("src").alias("mid"), "dst"), "mid")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    d2 = step(d1).exceptAll(d1).distinct().localCheckpoint()
    d3 = (
        step(d2).exceptAll(d2).distinct().exceptAll(d1).distinct().localCheckpoint()
    )
    hops = (
        d1.select("src", F.lit(1).alias("hop"))
        .unionAll(d2.select("src", F.lit(2).alias("hop")))
        .unionAll(d3.select("src", F.lit(3).alias("hop")))
    )
    cnt = hops.groupBy("src").agg(
        F.sum(F.when(F.col("hop") == 1, 1).otherwise(0)).cast("bigint").alias("n_dist1"),
        F.sum(F.when(F.col("hop") == 2, 1).otherwise(0)).cast("bigint").alias("n_dist2"),
        F.sum(F.when(F.col("hop") == 3, 1).otherwise(0)).cast("bigint").alias("n_dist3"),
    )
    return cnt.select(
        F.col("src").alias("user_id"),
        "n_dist1",
        "n_dist2",
        "n_dist3",
        (
            F.col("n_dist1") * 1000000
            + F.col("n_dist2") * 500000
            + F.col("n_dist3") * 333333
        )
        .cast("bigint")
        .alias("harmonic_e6"),
    )
