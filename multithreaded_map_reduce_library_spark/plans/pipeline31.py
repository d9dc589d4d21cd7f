"""Pipeline batch 31: the data-quality gate (declared-constraint
violation counts, the dbt-test / Great-Expectations tier) and semantic
cluster labeling (c-TF-IDF topic terms per embedding cell, the
BERTopic shape).

Conventions: embeddings.vec_id and documents.doc_id share the id space
(both 0..N-1 driver-generated), so the cluster labeling joins them
1:1 — the layout a production pipeline has when embeddings are derived
from the documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.pipeline import _TOKS
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table


@register(
    "dq_constraint_checks",
    oracle="""
        SELECT 'orders_pk_unique' AS constraint_name,
               (SELECT COUNT(*) FROM
                   (SELECT o_orderkey FROM orders
                    GROUP BY o_orderkey HAVING COUNT(*) > 1))
                   AS n_violations,
               (SELECT COUNT(*) FROM orders) AS n_checked
        UNION ALL
        SELECT 'lineitem_fk_orders',
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey)),
               (SELECT COUNT(*) FROM lineitem)
        UNION ALL
        SELECT 'orders_fk_customer',
               (SELECT COUNT(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey)),
               (SELECT COUNT(*) FROM orders)
        UNION ALL
        SELECT 'o_totalprice_positive',
               (SELECT COUNT(*) FROM orders WHERE NOT (o_totalprice > 0)),
               (SELECT COUNT(*) FROM orders)
        UNION ALL
        SELECT 'o_orderstatus_enum',
               (SELECT COUNT(*) FROM orders
                WHERE o_orderstatus NOT IN ('O', 'F', 'P')),
               (SELECT COUNT(*) FROM orders)
        UNION ALL
        SELECT 'l_quantity_range',
               (SELECT COUNT(*) FROM lineitem
                WHERE l_quantity < 1 OR l_quantity > 50),
               (SELECT COUNT(*) FROM lineitem)
        UNION ALL
        SELECT 'events_ts_not_null',
               (SELECT COUNT(*) FROM events WHERE ts IS NULL),
               (SELECT COUNT(*) FROM events)
    """,
    tags=("data-quality", "constraints", "profiling"),
)
def dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-constraint violation report — the dbt-test /
    Great-Expectations gate every warehouse load runs: primary-key
    uniqueness, two referential-integrity checks (lineitem→orders,
    orders→customer), a range check, an enum check, and a not-null
    check, each with its violation count over the rows checked. A load
    passes when every n_violations is 0 (the driver data does).

    Scale design: uniqueness is a key-grouped HAVING; each FK check is
    a LEFT ANTI join (broadcast when the parent is small, shuffle-hash
    co-located under key bucketing otherwise); range/enum/null checks
    are map-side count aggregates. Every check is one pass over its
    table; the report is a 7-row union of 1-row aggregates.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")

    def one(name: str, viol: DataFrame, checked: DataFrame) -> DataFrame:
        v = viol.agg(F.count("*").alias("n_violations"))
        c = checked.agg(F.count("*").alias("n_checked"))
        return (
            v.crossJoin(F.broadcast(c))
            .select(
                F.lit(name).alias("constraint_name"), "n_violations", "n_checked"
            )
        )

    dup_pk = (
        orders.groupBy("o_orderkey").agg(F.count("*").alias("c")).where(F.col("c") > 1)
    )
    fk_li = li.join(
        orders.select("o_orderkey"),
        li["l_orderkey"] == orders["o_orderkey"],
        "left_anti",
    )
    fk_o = orders.join(
        cust.select("c_custkey"),
        orders["o_custkey"] == cust["c_custkey"],
        "left_anti",
    )
    price = orders.where(~(F.col("o_totalprice") > 0))
    enum = orders.where(~F.col("o_orderstatus").isin("O", "F", "P"))
    qty = li.where((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50))
    ts_null = ev.where(F.col("ts").isNull())

    checks = [
        one("orders_pk_unique", dup_pk, orders),
        one("lineitem_fk_orders", fk_li, li),
        one("orders_fk_customer", fk_o, orders),
        one("o_totalprice_positive", price, orders),
        one("o_orderstatus_enum", enum, orders),
        one("l_quantity_range", qty, li),
        one("events_ts_not_null", ts_null, ev),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


_CT_STRIDE = 50
_CT_DIM = 64
_CT_TOPK = 3


def _ctdot(a: str, b: str) -> str:
    return " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(1, _CT_DIM + 1))


@register(
    "cluster_topic_labels",
    oracle=f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id % {_CT_STRIDE} = 0),
        scored AS (SELECT e.vec_id, c.c_id,
                          ({_ctdot("e.v", "c.cv")})
                          / (sqrt({_ctdot("e.v", "e.v")}) * sqrt({_ctdot("c.cv", "c.cv")}))
                              AS csim
                   FROM e CROSS JOIN cent c),
        asg AS (SELECT vec_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY csim DESC, c_id ASC) AS rn,
                       c_id
                FROM scored),
        cells AS (SELECT vec_id, c_id AS cell FROM asg WHERE rn = 1),
        toks AS (
            SELECT c.cell, lower(unnest({_TOKS})) AS tok
            FROM documents d JOIN cells c ON d.doc_id = c.vec_id
        ),
        tf AS (SELECT cell, tok, COUNT(*) AS f FROM toks GROUP BY cell, tok),
        tot AS (SELECT tok, COUNT(*) AS ftot FROM toks GROUP BY tok),
        n AS (SELECT COUNT(*) AS n_all FROM toks),
        score AS (
            SELECT tf.cell, tf.tok, tf.f,
                   CAST(FLOOR(tf.f * ln(CAST(n.n_all AS DOUBLE) / tot.ftot)
                              * 10000.0 + 0.5) AS BIGINT) AS s_q
            FROM tf JOIN tot USING (tok) CROSS JOIN n
        ),
        r AS (
            SELECT cell, tok, f, s_q,
                   ROW_NUMBER() OVER (PARTITION BY cell
                                      ORDER BY s_q DESC, tok ASC) AS rk
            FROM score
        )
        SELECT cell, CAST(rk AS BIGINT) AS rk, tok, f,
               CAST(s_q AS DOUBLE) / 10000.0 AS score
        FROM r WHERE rk <= {_CT_TOPK}
    """,
    tags=("clustering", "topic-labeling", "tfidf", "embedding", "documents"),
)
def cluster_topic_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-cluster topic labeling, the BERTopic shape: assign every
    document's embedding to its IVF cell (the deterministic stride
    centroids shared with ann_ivf_cosine / semdedup_within_cell), then
    label each cell with its top-3 tokens by class-based TF-IDF — term
    frequency within the cluster times the corpus-level rarity. The
    output is the human-readable answer to "what is each embedding
    cluster about".

    Float discipline: one ln per (cell, token) score, quantized to the
    1e4 grid before ranking (pipeline8 rule); ranks carry token
    tiebreaks.

    Scale design: assignment is the broadcast-centroid scan; the
    doc→cell join is id-keyed (co-located when both tables are bucketed
    by id); token stats are two map-side-combined aggregates; ranking
    is a per-cell window over the (cell, token) relation — vocab-
    bounded, not corpus-bounded.
    """
    from multithreaded_map_reduce_library_spark.operators.similarity import (
        assign_ivf_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    cells = assign_ivf_cells(emb, stride=_CT_STRIDE).select(
        F.col("id").alias("vec_id"), "cell"
    )
    toks = (
        docs.join(cells, docs["doc_id"] == cells["vec_id"])
        .select("cell", F.explode(tokens("text")).alias("tok0"))
        .select("cell", F.lower("tok0").alias("tok"))
    )
    tf = toks.groupBy("cell", "tok").agg(F.count("*").alias("f"))
    tot = toks.groupBy("tok").agg(F.count("*").alias("ftot"))
    n = toks.agg(F.count("*").alias("n_all"))
    score = (
        tf.join(F.broadcast(tot), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "cell",
            "tok",
            "f",
            F.floor(
                F.col("f")
                * F.log(F.col("n_all").cast("double") / F.col("ftot"))
                * 10000.0
                + 0.5
            )
            .cast("bigint")
            .alias("s_q"),
        )
    )
    w = Window.partitionBy("cell").orderBy(F.desc("s_q"), F.asc("tok"))
    return (
        score.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= _CT_TOPK)
        .select(
            "cell",
            "rk",
            "tok",
            "f",
            (F.col("s_q").cast("double") / 10000.0).alias("score"),
        )
    )
