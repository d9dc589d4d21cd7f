"""Pipeline batch 125 (round 4): AGM BOUND AUDIT + BUSINESS-DAY
ARITHMETIC — worst-case-optimal-join theory made measurable, and the
calendar arithmetic every BI deployment reimplements:

* ``agm_bound_triangle_audit`` — the AGM fractional-edge-cover bound
  for the triangle query (Atserias-Grohe-Marx): with m undirected
  edges, #triangles ≤ m^{3/2}. The query counts the co-purchase
  graph's edges and its actual triangles (ordered wedge join
  a<b<c, the registry's triangle discipline) and emits the bound and
  the tightness ratio — the number that motivates worst-case-optimal
  join algorithms over binary join plans.
* ``business_days_shipping`` — order→ship lead time in BUSINESS days
  per order priority: the Monday-aligned integer formula
  g(y) = 5·(y DIV 7) + LEAST(y MOD 7, 5) (y = epoch_day + 3) counts
  weekdays in a half-open range with no calendar table and no loops —
  exact integers in both engines.

Reference parity anchor: the reference engine (mapreduce.h:44-83) has
no optimizer-theory or calendar tier; these extend the driver-mandated
superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.grid import duck_int_ratio, int_ratio
from multithreaded_map_reduce_library_spark.operators.graph import copurchase_pairs
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_MIN_SHARED = 2


@register(
    "agm_bound_triangle_audit",
    oracle=f"""
        WITH s AS (
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
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM p),
        tri AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM p e1
            JOIN p e2 ON e2.ua = e1.ub
            JOIN p e3 ON e3.ua = e1.ua AND e3.ub = e2.ub
        )
        SELECT m.m_edges, tri.n_triangles,
               CAST(FLOOR(CAST(m.m_edges AS DOUBLE)
                          * SQRT(CAST(m.m_edges AS DOUBLE)) + 0.5) AS BIGINT)
                   AS agm_bound,
               CAST(FLOOR(CAST(tri.n_triangles AS DOUBLE)
                          / (CAST(m.m_edges AS DOUBLE)
                             * SQRT(CAST(m.m_edges AS DOUBLE)))
                          * 1000000.0 + 0.5) AS BIGINT) AS tightness_e6
        FROM m CROSS JOIN tri
    """,
    tags=("graph", "agm-bound", "optimizer-theory", "events"),
)
def agm_bound_triangle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGM bound vs reality for the triangle query on the co-purchase
    graph: m undirected edges give the worst-case output bound m^{3/2}
    (fractional edge cover ½+½+½); the actual count comes from the
    ordered wedge join (a<b<c, each triangle counted once). The
    tightness ratio is the gap a worst-case-optimal join algorithm
    (Leapfrog Triejoin, Generic Join) is designed around — tiny here,
    as on most real graphs, which is why binary-join engines survive.

    Scale design: the wedge join shuffles ordered edges only (skew
    bounded by the slot-sharing rule); the bound needs one count. At
    100 TB the same two-join plan holds with edges bucketed by ua."""
    p = copurchase_pairs(spark, sf_dir, _MIN_SHARED).select("ua", "ub").localCheckpoint()
    m = p.agg(F.count("*").cast("bigint").alias("m_edges"))
    e1 = p.select(F.col("ua").alias("x"), F.col("ub").alias("y"))
    e2 = p.select(F.col("ua").alias("y"), F.col("ub").alias("z"))
    e3 = p.select(F.col("ua").alias("x"), F.col("ub").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"], "left_semi")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    md = F.col("m_edges").cast("double")
    return m.crossJoin(F.broadcast(tri)).select(
        "m_edges",
        "n_triangles",
        F.floor(md * F.sqrt(md) + F.lit(0.5)).cast("bigint").alias("agm_bound"),
        F.floor(
            F.col("n_triangles").cast("double") / (md * F.sqrt(md)) * 1000000.0
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("tightness_e6"),
    )


@register(
    "business_days_shipping",
    oracle="""
        WITH li AS (
            SELECT o.o_orderpriority AS priority,
                   date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
                       AS a,
                   date_diff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))
                       AS b
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        ),
        bd AS (
            SELECT priority,
                   (5 * ((b + 3) // 7) + LEAST((b + 3) % 7, 5))
                   - (5 * ((a + 3) // 7) + LEAST((a + 3) % 7, 5)) AS busdays
            FROM li WHERE b >= a
        )
        SELECT priority,
               CAST(COUNT(*) AS BIGINT) AS n_lineitems,
               CAST((SUM(busdays) * 1000000 + COUNT(*) // 2) // COUNT(*) AS BIGINT)
                   AS mean_busdays_e6,
               CAST(MIN(busdays) AS BIGINT) AS min_busdays,
               CAST(MAX(busdays) AS BIGINT) AS max_busdays
        FROM bd GROUP BY priority ORDER BY priority
    """,
    tags=("calendar", "business-days", "lineitem", "orders"),
)
def business_days_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship lead time in business days per order priority: the
    Monday-aligned counting function g(y) = 5·(y DIV 7) +
    LEAST(y MOD 7, 5) with y = epoch_day + 3 turns weekday counting in
    a half-open date range into four integer ops — no calendar
    dimension, no loop, exact in both engines (epoch day numbers are
    positive, so DIV/MOD agree). The NETWORKDAYS of every BI stack, as
    an auditable expression.

    Scale design: the o⋈l join shuffles on orderkey (bucketable); the
    rest is map-side arithmetic into a |priorities|-row rollup."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("a"),
            F.datediff(
                F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("b"),
        )
        .where(F.col("b") >= F.col("a"))
    )
    g = lambda x: 5 * F.call_function(  # noqa: E731
        "div", x + 3, F.lit(7).cast("int")
    ) + F.least((x + 3) % 7, F.lit(5))
    bd = li.select("priority", (g(F.col("b")) - g(F.col("a"))).alias("busdays"))
    return (
        bd.groupBy("priority")
        .agg(
            F.count("*").cast("bigint").alias("n_lineitems"),
            F.call_function(
                "div",
                F.sum("busdays") * 1000000
                + F.call_function("div", F.count("*"), F.lit(2).cast("bigint")),
                F.count("*").cast("bigint"),
            )
            .cast("bigint")
            .alias("mean_busdays_e6"),
            F.min("busdays").cast("bigint").alias("min_busdays"),
            F.max("busdays").cast("bigint").alias("max_busdays"),
        )
        .orderBy("priority")
    )
