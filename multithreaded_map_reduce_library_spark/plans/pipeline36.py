"""Pipeline batch 36: optimizer-adjacent statistics and multi-signal
curation — estimating a join's output size from two count-min sketches
(the cardinality-estimation primitive inside query optimizers), and a
Borda-style rank ensemble over three document quality signals (the
multi-signal keep/drop gate DCLM-style curation runs).

Both pure integer: CMS cells are BIGINT counts and the inner-product
estimate is exact integer arithmetic (the estimate's min-over-rows is
a provable UPPER bound on the true join size — asserted by the oracle
carrying both); ranks are integers with doc_id tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.grid import grid, int_ratio
from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_CMS_W = 256  # buckets per hash row
_CMS_D = 3    # hash rows (md5 hex offsets 1, 5, 9)


def _cms_bucket_sql(expr: str, i: int) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({expr} AS VARCHAR)), {1 + 4 * i}, 4)) AS BIGINT)"
        f" % {_CMS_W}"
    )


def _cms_bucket(col, i: int):
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1 + 4 * i, 4), 16, 10).cast(
            "bigint"
        )
        % _CMS_W
    )


@register(
    "cms_join_size_estimate",
    oracle=f"""
        WITH rows_i AS (SELECT unnest([0, 1, 2]) AS i),
        ca AS (
            SELECT rows_i.i,
                   CASE rows_i.i
                        WHEN 0 THEN {_cms_bucket_sql("l_orderkey", 0)}
                        WHEN 1 THEN {_cms_bucket_sql("l_orderkey", 1)}
                        ELSE {_cms_bucket_sql("l_orderkey", 2)} END AS b,
                   COUNT(*) AS c
            FROM lineitem CROSS JOIN rows_i
            GROUP BY rows_i.i, b
        ),
        cb AS (
            SELECT rows_i.i,
                   CASE rows_i.i
                        WHEN 0 THEN {_cms_bucket_sql("o_orderkey", 0)}
                        WHEN 1 THEN {_cms_bucket_sql("o_orderkey", 1)}
                        ELSE {_cms_bucket_sql("o_orderkey", 2)} END AS b,
                   COUNT(*) AS c
            FROM orders CROSS JOIN rows_i
            GROUP BY rows_i.i, b
        ),
        ip AS (
            SELECT ca.i, SUM(ca.c * cb.c) AS inner_product
            FROM ca JOIN cb ON ca.i = cb.i AND ca.b = cb.b
            GROUP BY ca.i
        ),
        est AS (SELECT MIN(inner_product) AS est_join_size FROM ip),
        tru AS (
            SELECT COUNT(*) AS true_join_size
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT CAST(est.est_join_size AS BIGINT) AS est_join_size,
               tru.true_join_size,
               CAST((est.est_join_size * 1000000 + tru.true_join_size // 2)
                    // tru.true_join_size AS BIGINT) AS overestimate_e6
        FROM est CROSS JOIN tru
    """,
    tags=("statistics", "sketch", "cms", "cardinality", "join"),
)
def cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from two count-min sketches (the AGMS/CMS
    inner-product estimator, Cormode & Muthukrishnan 2005): sketch
    lineitem.l_orderkey and orders.o_orderkey into 3x256 integer cells,
    estimate |lineitem JOIN orders| as the MIN over rows of the cell-
    wise inner product — a provable upper bound on the true size, which
    rides along as the audit (overestimate ratio >= 1 by theorem; the
    oracle hash-checks all three numbers).

    This is what a cost-based optimizer does before choosing a join
    strategy: both sketches are built in one pass per table, merged
    cell-wise across partitions (CMS cells are plain sums — trivially
    mergeable), and the estimate needs only the 2 x 3 x 256 integers,
    never the data.

    Scale design: two map-side-combined (row, bucket) aggregates
    (<=768 cells each), a 768-row join, and a 3-row min. The exact join
    is the audit only.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    def sketch(df, key):
        parts = []
        for i in range(_CMS_D):
            parts.append(
                df.select(
                    F.lit(i).alias("i"), _cms_bucket(F.col(key), i).alias("b")
                )
            )
        allb = parts[0]
        for p in parts[1:]:
            allb = allb.unionAll(p)
        return allb.groupBy("i", "b").agg(F.count("*").alias("c"))

    ca = sketch(li, "l_orderkey")
    cb = sketch(orders, "o_orderkey").select(
        F.col("i").alias("i2"), F.col("b").alias("b2"), F.col("c").alias("c2")
    )
    ip = (
        ca.join(cb, (F.col("i") == F.col("i2")) & (F.col("b") == F.col("b2")))
        .groupBy("i")
        .agg(F.sum(F.col("c") * F.col("c2")).alias("inner_product"))
    )
    est = ip.agg(F.min("inner_product").alias("est_join_size"))
    tru = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).agg(
        F.count("*").alias("true_join_size")
    )
    return est.crossJoin(F.broadcast(tru)).select(
        "est_join_size",
        "true_join_size",
        int_ratio(F.col("est_join_size"), F.col("true_join_size"), 6).alias(
            "overestimate_e6"
        ),
    )


_QE_KEEP = 100


@register(
    "quality_signal_rank_ensemble",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '[ \t\r\n]'),
                               x -> x <> '') AS toks
            FROM documents
        ),
        s AS (
            SELECT doc_id,
                   len(toks) AS n_toks,
                   (len(list_distinct(toks)) * 1000) // len(toks) AS ttr_q,
                   (len(array_to_string(toks, '')) * 1000) // len(toks) AS mwl_q
            FROM t WHERE len(toks) > 0
        ),
        r AS (
            SELECT doc_id, n_toks, ttr_q, mwl_q,
                   ROW_NUMBER() OVER (ORDER BY n_toks DESC, doc_id ASC) AS r_len,
                   ROW_NUMBER() OVER (ORDER BY ttr_q DESC, doc_id ASC) AS r_ttr,
                   ROW_NUMBER() OVER (ORDER BY mwl_q DESC, doc_id ASC) AS r_mwl
            FROM s
        ),
        e AS (
            SELECT doc_id, r_len, r_ttr, r_mwl,
                   r_len + r_ttr + r_mwl AS rank_sum
            FROM r
        )
        SELECT doc_id, r_len, r_ttr, r_mwl, rank_sum,
               ROW_NUMBER() OVER (ORDER BY rank_sum ASC, doc_id ASC)
                   <= {_QE_KEEP} AS keep
        FROM e
    """,
    tags=("quality", "ensemble", "selection", "documents", "global-sort"),
)
def quality_signal_rank_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borda-style quality ensemble: three cheap integer signals —
    token count, type-token ratio (lexical diversity), mean word length
    — each ranked corpus-wide, summed, and the best 100 documents
    marked keep. Rank fusion is how production curation combines
    signals whose scales are incomparable (the same reason
    `hybrid_rrf_retrieval` fuses retrieval scores); ranks are integers
    with doc_id tiebreaks, so the gate is exactly reproducible.

    Scale design: one token-scan aggregate per document (map-side),
    then three global ranks over the |docs| relation (range-partitioned
    sorts; at 100 TB: rank via the equi-depth histogram of each signal)
    and an integer sum — no floats anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("toks")).where(F.size("toks") > 0)
    s = t.select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        ((F.size(F.array_distinct("toks")) * 1000) / F.size("toks"))
        .cast("bigint")
        .alias("ttr_q"),
        ((F.length(F.array_join("toks", "")) * 1000) / F.size("toks"))
        .cast("bigint")
        .alias("mwl_q"),
    )
    r = s.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("n_toks"), F.asc("doc_id")))
        .alias("r_len"),
        F.row_number()
        .over(Window.orderBy(F.desc("ttr_q"), F.asc("doc_id")))
        .alias("r_ttr"),
        F.row_number()
        .over(Window.orderBy(F.desc("mwl_q"), F.asc("doc_id")))
        .alias("r_mwl"),
    )
    e = r.select(
        "doc_id",
        "r_len",
        "r_ttr",
        "r_mwl",
        (F.col("r_len") + F.col("r_ttr") + F.col("r_mwl")).alias("rank_sum"),
    )
    return e.select(
        "doc_id",
        "r_len",
        "r_ttr",
        "r_mwl",
        "rank_sum",
        (
            F.row_number().over(Window.orderBy(F.asc("rank_sum"), F.asc("doc_id")))
            <= _QE_KEEP
        ).alias("keep"),
    )
