"""Pipeline batch 78 (round 4): BLOOM-FILTER FPR AUDIT + k-CORE
DECOMPOSITION — a sketch-quality audit and a cohesion tier for the graph
family.

* ``bloom_fpr_audit`` — builds an m-bit/k-hash Bloom filter over a member
  key set with the repo's engine-independent md5 hash family, probes it
  with every true non-member, and reports the OBSERVED false-positive
  rate as exact integer counts. This is the audit a pipeline runs before
  trusting a Bloom semijoin (``bloom_filter_semijoin``) at 100 TB: the
  measured FPR validates the (m, k) sizing against the theoretical
  (1 − e^{−kn/m})^k ≈ 0.013 for the sf-independent ratio used here.
* ``kcore_decomposition`` — R-round degeneracy peeling of the co-purchase
  graph (drop nodes with degree < k, recompute, repeat): the standard
  dense-subgraph/community-core primitive that complements the existing
  CC / PageRank / triangles / BFS / WL tier. Fixed R both sides makes the
  iterative fixpoint oracle-checkable (extra rounds past convergence are
  no-ops, so equality is exact).

Reference parity anchor: the reference engine (mapreduce.h:44-83) has no
graph or sketch tier; these extend the driver-mandated analytics superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.grid import (
    duck_int_ratio,
    int_ratio,
)
from multithreaded_map_reduce_library_spark.operators.graph import (
    both_directions,
    copurchase_pairs,
    kcore_peel,
)
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_M_BITS = 4096
_K_HASH = 3
_KCORE_K = 3
_KCORE_ROUNDS = 6
_MIN_SHARED = 1  # one shared (day, hour) purchase slot: denser than the
#: BFS edge rule (>=2) so the 3-core is non-empty at every test SF


def _bloom_pos(key, salt: int):
    """Bit position of hash ``salt`` for ``key``: first 8 md5 hex digits of
    ``salt|key`` mod m — identical in Spark and DuckDB (md5 of the same
    string; hex parse; nonnegative mod)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(str(salt)), F.lit("|"), key.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % _M_BITS
    )


def _duck_bloom_pos(key: str, salt: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('{salt}|' || CAST({key} AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % {_M_BITS}"
    )


@register(
    "bloom_fpr_audit",
    oracle=f"""
        WITH members AS (
            SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        ),
        probes AS (
            SELECT c_custkey AS k FROM customer
            WHERE c_custkey NOT IN (SELECT k FROM members)
        ),
        bits AS (
            SELECT DISTINCT b FROM (
                {" UNION ALL ".join(f"SELECT {_duck_bloom_pos('k', j)} AS b FROM members" for j in range(_K_HASH))}
            )
        ),
        ppos AS (
            {" UNION ALL ".join(f"SELECT k, {_duck_bloom_pos('k', j)} AS b FROM probes" for j in range(_K_HASH))}
        ),
        hit AS (
            SELECT k,
                   MIN(CASE WHEN b IN (SELECT b FROM bits) THEN 1 ELSE 0 END) AS all_set
            FROM ppos GROUP BY k
        )
        SELECT (SELECT COUNT(*) FROM members)                     AS n_members,
               (SELECT COUNT(*) FROM bits)                        AS n_bits_set,
               (SELECT COUNT(*) FROM hit)                         AS n_probes,
               CAST(SUM(all_set) AS BIGINT)                       AS n_false_pos,
               {duck_int_ratio('CAST(SUM(all_set) AS BIGINT)', '(SELECT COUNT(*) FROM hit)', 6)} AS fpr_e6
        FROM hit
    """,
    tags=("sketch", "bloom", "audit", "orders", "customer"),
)
def bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed Bloom-filter false-positive rate: members are custkeys
    with a finished ('F') order, the filter is m=4096 bits / k=3 md5
    hashes, and every never-'F' customer probes it. A probe is a false
    positive iff all 3 of its bit positions landed in the member bit set.
    Output is one exact-integer row: member/probe/bit counts, false
    positives, and the e6-grid FPR — the audit that justifies a Bloom
    semijoin's sizing before it gates a 100 TB scan.

    Scale design: the bit set is at most m=4096 rows — broadcast to the
    probe side, so the probe leg is a map-side semijoin over an
    embarrassingly parallel scan; the only shuffle is the final
    grand aggregate. Members dedup with one hash shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    members = (
        orders.where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    probes = customer.select(F.col("c_custkey").alias("k")).join(
        members, "k", "left_anti"
    )
    poss = F.array(*[_bloom_pos(F.col("k"), j) for j in range(_K_HASH)])
    bits = members.select(F.explode(poss).alias("b")).distinct()
    probe_bits = probes.select("k", F.explode(poss).alias("b"))
    hit = (
        probe_bits.join(
            # bcast-bounded: bits <= _M_BITS distinct bloom positions
            F.broadcast(bits.withColumn("set1", F.lit(1))), "b", "left"
        )
        .groupBy("k")
        .agg(F.min(F.coalesce(F.col("set1"), F.lit(0))).alias("all_set"))
    )
    m_cnt = members.agg(F.count("*").alias("n_members"))
    b_cnt = bits.agg(F.count("*").alias("n_bits_set"))
    h_agg = hit.agg(
        F.count("*").alias("n_probes"),
        F.sum("all_set").alias("n_false_pos"),
        int_ratio(F.sum("all_set"), F.count("*"), 6).alias("fpr_e6"),
    )
    # three 1-row grand aggregates cross-joined (the plan-audit-sanctioned
    # single-row-broadcast shape) — no driver-side actions in the plan
    return m_cnt.crossJoin(b_cnt).crossJoin(h_agg)


def _kcore_oracle() -> str:
    """Unrolled R-round peeling: survivors_{t+1} = nodes with >= k
    neighbors among survivors_t. Plain chained CTEs (no recursion), the
    SQL mirror of the Spark loop."""
    edge_cte = f"""
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
        ),
        n0 AS (SELECT DISTINCT src AS u FROM e)"""
    rounds = []
    prev = "n0"
    for t in range(1, _KCORE_ROUNDS + 1):
        rounds.append(
            f"""
        n{t} AS (
            SELECT e.src AS u FROM e
            JOIN {prev} a ON e.src = a.u
            JOIN {prev} b ON e.dst = b.u
            GROUP BY e.src
            HAVING COUNT(*) >= {_KCORE_K}
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
    "kcore_decomposition",
    oracle=_kcore_oracle(),
    # NOT benched (VERDICT r6 item 2): the per-(day,hour) co-presence
    # self-join densifies quadratically under entity growth on a fixed
    # calendar (measured 25.7x at 10x data, SCALING_10X.md). The query
    # stays registered + oracle-checked as the EXACT-semantics variant;
    # the bench k-core slot belongs to kcore_bounded_copresence
    # (pipeline130.py), whose |cell|*W edge build is the scale-safe shape
    # (measured 3.3x at 10x, 6.8x at 100x).
    tags=("graph", "kcore", "iterative", "events", "quadratic-by-semantics"),
)
def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-core of the co-purchase graph (k=3, 6 peeling rounds): nodes
    are repeatedly dropped while their degree among survivors is < k;
    the output is each surviving node with its within-core degree. The
    dense-cohesion primitive used for community cores, spam-ring
    detection, and graph sparsification. The peel is
    operators/graph.py::kcore_peel, which stops at the fixpoint (round 1
    on this graph at sf0.01/sf0.1); a converged round is a no-op, so the
    fixed-R oracle (same unrolled peeling in SQL) is exact regardless.

    Scale design: per round one edge-vs-survivor semijoin pair + a
    degree aggregate — edges shuffle on src (bucketable), survivor sets
    are node-sized. No collect, no all-pairs."""
    edges = both_directions(copurchase_pairs(spark, sf_dir, _MIN_SHARED)).localCheckpoint()
    return kcore_peel(edges, _KCORE_K, _KCORE_ROUNDS)
