"""Pipeline batch 45: clustering evaluation (language purity of the
embedding cells), directional association rules (confidence over the
basket pairs), and Neyman-optimal stratified sample allocation — an
eval, a refinement, and a sampling-design operator.

Neyman allocation composes two house disciplines: per-stratum stddevs
are grid-quantized integers from BIGINT sums (one sqrt each), and the
budget split is exact largest-remainder integer allocation
(proration_largest_remainder rule — allocations sum to the budget
EXACTLY).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.grid import int_ratio
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_CP_STRIDE = 50
_CP_DIM = 64


def _cp_dot(a: str, b: str) -> str:
    return " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(1, _CP_DIM + 1))


@register(
    "cluster_lang_purity",
    oracle=f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id % {_CP_STRIDE} = 0),
        scored AS (SELECT e.vec_id, c.c_id,
                          ({_cp_dot("e.v", "c.cv")})
                          / (sqrt({_cp_dot("e.v", "e.v")}) * sqrt({_cp_dot("c.cv", "c.cv")}))
                              AS csim
                   FROM e CROSS JOIN cent c),
        asg AS (SELECT vec_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY csim DESC, c_id ASC) AS rn,
                       c_id
                FROM scored),
        cells AS (SELECT vec_id, c_id AS cell FROM asg WHERE rn = 1),
        j AS (
            SELECT c.cell, d.lang
            FROM documents d JOIN cells c ON d.doc_id = c.vec_id
        ),
        cl AS (SELECT cell, lang, COUNT(*) AS n FROM j GROUP BY cell, lang),
        mx AS (
            SELECT cell, SUM(n) AS n_cell, MAX(n) AS n_major
            FROM cl GROUP BY cell
        ),
        lab AS (
            SELECT cl.cell, cl.lang AS major_lang
            FROM cl JOIN mx ON cl.cell = mx.cell AND cl.n = mx.n_major
            QUALIFY ROW_NUMBER() OVER (PARTITION BY cl.cell
                                       ORDER BY cl.lang ASC) = 1
        )
        SELECT mx.cell, CAST(mx.n_cell AS BIGINT) AS n_cell,
               lab.major_lang, mx.n_major,
               CAST((mx.n_major * 1000000 + mx.n_cell // 2) // mx.n_cell AS BIGINT) AS purity_e6
        FROM mx JOIN lab ON mx.cell = lab.cell
    """,
    tags=("clustering", "evaluation", "purity", "embedding", "documents"),
)
def cluster_lang_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster purity against the language labels: for each embedding
    cell (the IVF cells shared with `cluster_topic_labels`), the
    majority language's share — the standard external clustering-
    quality metric (purity 1.0 = cells align perfectly with languages).
    Majority ties break to the lexicographically smallest language.

    Scale design: assignment is the broadcast-centroid scan; purity is
    two skinny rollups over (cell, lang) — |cells| x |langs| rows.
    """
    from multithreaded_map_reduce_library_spark.operators.similarity import (
        assign_ivf_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    cells = assign_ivf_cells(emb, stride=_CP_STRIDE).select(
        F.col("id").alias("vec_id"), "cell"
    )
    j = docs.join(cells, docs["doc_id"] == cells["vec_id"]).select("cell", "lang")
    cl = j.groupBy("cell", "lang").agg(F.count("*").alias("n"))
    mx = cl.groupBy("cell").agg(
        F.sum("n").alias("n_cell"), F.max("n").alias("n_major")
    )
    lab = (
        cl.join(mx, "cell")
        .where(F.col("n") == F.col("n_major"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cell").orderBy(F.asc("lang"))
            ),
        )
        .where(F.col("rn") == 1)
        .select("cell", F.col("lang").alias("major_lang"))
    )
    return (
        mx.join(lab, "cell")
        .select(
            "cell",
            "n_cell",
            "major_lang",
            "n_major",
            int_ratio(F.col("n_major"), F.col("n_cell"), 6).alias(
                "purity_e6"
            ),
        )
    )


_BR_MIN_SUPPORT = 3


@register(
    "basket_rule_confidence",
    oracle=f"""
        WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        item AS (SELECT l_partkey, COUNT(*) AS n_item FROM b GROUP BY l_partkey),
        p AS (
            SELECT a.l_partkey AS ante, x.l_partkey AS cons, COUNT(*) AS support
            FROM b a JOIN b x
              ON a.l_orderkey = x.l_orderkey AND a.l_partkey <> x.l_partkey
            GROUP BY ante, cons
            HAVING COUNT(*) >= {_BR_MIN_SUPPORT}
        )
        SELECT p.ante, p.cons, p.support,
               CAST((p.support * 1000000 + ia.n_item // 2) // ia.n_item AS BIGINT) AS confidence_e6
        FROM p JOIN item ia ON ia.l_partkey = p.ante
    """,
    tags=("analytics", "association", "rules", "lineitem"),
)
def basket_rule_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional association rules ante -> cons with confidence
    P(cons | ante) = support / n_ante — the asymmetric refinement of
    `market_basket_pairs`' symmetric lift (confidence(a->b) and
    confidence(b->a) differ whenever the items' base rates do; both
    rows are emitted). Single exact division per rule.

    Scale design: identical basket-bounded pair generation as the lift
    query, plus one broadcast join against the item counts.
    """
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    item = b.groupBy("l_partkey").agg(F.count("*").alias("n_item"))
    a = b.select(F.col("l_orderkey"), F.col("l_partkey").alias("ante"))
    x = b.select(F.col("l_orderkey"), F.col("l_partkey").alias("cons"))
    p = (
        a.join(x, "l_orderkey")
        .where(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= _BR_MIN_SUPPORT)
    )
    ia = item.select(F.col("l_partkey").alias("ante"), "n_item")
    return p.join(F.broadcast(ia), "ante").select(
        "ante",
        "cons",
        "support",
        int_ratio(F.col("support"), F.col("n_item"), 6).alias(
            "confidence_e6"
        ),
    )


_NY_BUDGET = 100


@register(
    "neyman_allocation_sample_sizes",
    oracle=f"""
        WITH s AS (
            SELECT lang, COUNT(*) AS nh,
                   SUM(n_chars) AS sx, SUM(n_chars * n_chars) AS sxx
            FROM documents GROUP BY lang
        ),
        w AS (
            SELECT lang, nh,
                   nh * CAST(FLOOR(sqrt((CAST(sxx AS DOUBLE)
                                         - CAST(sx AS DOUBLE) * sx / nh) / nh)
                                   * 10000.0 + 0.5) AS BIGINT) AS w_q
            FROM s
        ),
        tot AS (SELECT SUM(w_q) AS wsum FROM w),
        base AS (
            SELECT lang, nh, w_q,
                   ({_NY_BUDGET} * w_q) // wsum AS base_alloc,
                   ({_NY_BUDGET} * w_q) % wsum AS frac
            FROM w CROSS JOIN tot
        ),
        leftover AS (SELECT {_NY_BUDGET} - SUM(base_alloc) AS extra FROM base),
        ranked AS (
            SELECT lang, nh, w_q, base_alloc,
                   ROW_NUMBER() OVER (ORDER BY frac DESC, lang ASC) AS rk
            FROM base
        )
        SELECT lang, nh, w_q,
               CAST(base_alloc + CASE WHEN rk <= leftover.extra
                                      THEN 1 ELSE 0 END AS BIGINT) AS n_sample
        FROM ranked CROSS JOIN leftover
    """,
    tags=("sampling", "stratified", "neyman", "allocation", "documents"),
)
def neyman_allocation_sample_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation: a 100-document
    budget split across languages proportionally to N_h * S_h (stratum
    size times stratum std of document length) — the design that
    minimizes the stratified estimator's variance, vs the proportional
    split `stratified_sample_docs_by_lang` uses. Stddevs are one
    quantized sqrt over BIGINT sums; the split is exact
    largest-remainder (allocations sum to 100 EXACTLY).

    Scale design: one stratum-keyed aggregate of three integer sums,
    then all arithmetic on a |langs|-row relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("lang").agg(
        F.count("*").alias("nh"),
        F.sum("n_chars").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("sxx"),
    )
    w = s.select(
        "lang",
        "nh",
        (
            F.col("nh")
            * F.floor(
                F.sqrt(
                    (
                        F.col("sxx").cast("double")
                        - F.col("sx").cast("double") * F.col("sx") / F.col("nh")
                    )
                    / F.col("nh")
                )
                * 10000.0
                + 0.5
            ).cast("bigint")
        ).alias("w_q"),
    )
    tot = w.agg(F.sum("w_q").alias("wsum"))
    base = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "nh",
        "w_q",
        ((_NY_BUDGET * F.col("w_q")) / F.col("wsum")).cast("bigint").alias(
            "base_alloc"
        ),
        ((_NY_BUDGET * F.col("w_q")) % F.col("wsum")).alias("frac"),
    )
    leftover = base.agg((_NY_BUDGET - F.sum("base_alloc")).alias("extra"))
    ranked = base.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.desc("frac"), F.asc("lang"))),
    )
    return ranked.crossJoin(F.broadcast(leftover)).select(
        "lang",
        "nh",
        "w_q",
        (
            F.col("base_alloc")
            + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
        ).alias("n_sample"),
    )
