"""Pipeline batch 2: scale-technique showcases (salted join, cascading
rollup), a numeric RANGE window frame, a Python UDTF (context-window
chunking), an HLL sketch aggregate, and the composed training-data
cleanse pipeline.

Reference parity note: none of these exist in the reference (its whole
surface is the five functions in ``mapreduce.h:44-83``); they are the
driver-mandated large-pipeline extensions plus window/UDTF surface
breadth. Float sums follow the exact-quantization rule (see
tpch_rest.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.grid import int_ratio
from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_SALTS = 8


def _e4(c):
    return F.floor(c * 10000).cast("long")


@register(
    "salted_skew_join_revenue",
    bench=True,
    oracle="""
        SELECT o_orderpriority,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
                 / 10000.0 AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    tags=("join", "skew", "salting"),
)
def salted_skew_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicitly SALTED fact-fact join: the build side (orders) is
    replicated across 8 salt replicas and the probe side (lineitem)
    derives a deterministic salt, so a hot order key spreads over 8
    reducers instead of straggling on one. The oracle is the plain
    join — salting must never change the answer. At this SF Spark's
    AQE skew-join handles it automatically; this is the manual pattern
    for engines/pipelines where AQE can't see the skew (first-run, or
    pre-partitioned writes)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    o_rep = o.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_SALTS - 1)))
    )
    l_salted = l.withColumn("salt", F.pmod(F.col("l_linenumber"), F.lit(_SALTS)).cast("int"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l_salted.join(
            o_rep,
            (l_salted.l_orderkey == o_rep.o_orderkey) & (l_salted.salt == o_rep.salt),
        )
        .groupBy("o_orderpriority")
        .agg(
            (F.sum(_e4(rev)) / F.lit(10000.0)).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "rollup_hourly_to_daily",
    bench=True,
    oracle="""
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               SUM(CAST(FLOOR(value * 10000) AS BIGINT)) / 10000.0 AS total_value,
               COUNT(*) AS n_events
        FROM events
        GROUP BY 1
    """,
    tags=("agg", "rollup", "datetime"),
)
def rollup_hourly_to_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascading time rollup (the hypertable pattern): aggregate events
    to hourly partials first, then fold hours into days — the daily
    pass reads ~24x fewer rows than the raw stream, which is how
    continuous-aggregate tiers (1m -> 1h -> 1d) stay cheap at 100 TB.
    Partials are exact integer ten-thousandths, so the two-level sum
    equals the oracle's one-level sum exactly."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.sum(_e4(F.col("value"))).alias("v_e4"),
        F.count("*").alias("n"),
    )
    return (
        hourly.groupBy(F.date_trunc("day", "hour").cast("date").alias("day"))
        .agg(
            (F.sum("v_e4") / F.lit(10000.0)).alias("total_value"),
            F.sum("n").alias("n_events"),
        )
    )


@register(
    "range_frame_price_neighbors",
    oracle="""
        SELECT o_orderkey, o_totalprice,
               COUNT(*) OVER (ORDER BY o_totalprice
                              RANGE BETWEEN 100 PRECEDING AND 100 FOLLOWING)
                 AS n_neighbors
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
    """,
    tags=("window", "range-frame"),
)
def range_frame_price_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric RANGE window frame (value-based, not row-based): for each
    urgent order, how many urgent orders priced within ±100. A RANGE
    frame over an unpartitioned ordering is a single-partition sort at
    scale — partition by a coarse price band (and merge edges) when the
    input is large; here the filtered input is small and the point is
    the frame semantics."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    w = Window.orderBy("o_totalprice").rangeBetween(-100, 100)
    return o.select(
        "o_orderkey",
        "o_totalprice",
        F.count("*").over(w).alias("n_neighbors"),
    )


@register(
    "udtf_chunk_documents",
    oracle="""
        SELECT doc_id, i AS chunk_idx,
               length(substr(text, i * 200 + 1, 200)) AS chunk_len,
               md5(substr(text, i * 200 + 1, 200)) AS chunk_md5
        FROM documents,
             UNNEST(range(0, CAST(ceil(length(text) / 200.0) AS BIGINT))) AS r(i)
        WHERE length(text) > 0
    """,
    tags=("udtf", "text", "chunking"),
)
def udtf_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking via a Python UDTF (the table-function
    surface): each document yields ceil(len/200) rows of 200-char
    chunks with per-chunk md5. UDTFs are the row-generating UDF
    surface Spark 4 added; for a pure-transform chunker like this the
    JVM path (sequence + explode + substring, see order_active_months)
    is faster at scale — the UDTF form is for chunkers that need real
    Python (tokenizers, sentence models)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_idx int, chunk_len int, chunk_md5 string")
    class ChunkDoc:
        def eval(self, doc_id, text):
            import hashlib

            if not text:
                return
            for i in range(0, (len(text) + 199) // 200):
                chunk = text[i * 200 : (i + 1) * 200]
                yield doc_id, i, len(chunk), hashlib.md5(chunk.encode()).hexdigest()

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("_docs_for_chunking")
    spark.udtf.register("chunk_doc", ChunkDoc)
    return spark.sql(
        "SELECT c.* FROM _docs_for_chunking, LATERAL chunk_doc(doc_id, text) c"
    )


@register(
    "hll_distinct_users_daily",
    oracle="""
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS est_in_bound
        FROM events
        GROUP BY 1
    """,
    tags=("approx", "sketch", "datetime"),
)
def hll_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct users via HyperLogLog++ (approx_count_distinct,
    rsd=0.01). Sketches merge associatively, so partial aggregation
    crosses the shuffle as fixed-size registers instead of user-id
    sets — THE distinct-count strategy at 100 TB.

    The raw estimate is engine-specific, so it can't be value-hashed
    against DuckDB; instead the output carries the CHECKABLE claim:
    ``est_in_bound`` = |estimate − exact| / exact ≤ 3·rsd, which the
    oracle asserts as TRUE for every day (a 3-sigma error bound — a real
    correctness row, not rows-only). The exact count rides along for the
    bound; at 100 TB you'd compute it on a sampled slice instead."""
    e = load_table(spark, sf_dir, "events")
    rsd = 0.01
    return (
        e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd).alias("_approx"),
        )
        .select(
            "day",
            "n_events",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                / F.col("exact_users")
                <= 3 * rsd
            ).alias("est_in_bound"),
        )
    )


@register(
    "doc_clean_dedup_stats",
    bench=True,
    oracle="""
        WITH toked AS (
            SELECT lang, source, doc_id, md5(text) AS h,
                   len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                   x -> x <> '')) AS tok
            FROM documents
            WHERE n_chars >= 100
        ),
        deduped AS (
            SELECT * FROM toked
            QUALIFY ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) = 1
        )
        SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS total_tokens,
               CAST((SUM(tok) * 10000 + COUNT(tok) // 2) // COUNT(tok) AS BIGINT) AS avg_tokens_e4
        FROM deduped
        WHERE tok >= 20
        GROUP BY lang, source
    """,
    tags=("pipeline", "dedup", "text", "quality"),
)
def doc_clean_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleanse: length filter -> tokenize ->
    exact dedup (keep lowest doc_id per content hash) -> token-count
    quality gate -> per-(lang, source) corpus stats. Each stage is the
    registry operator it reuses (dedup_exact, doc_token_stats) chained
    into one declarative plan — Catalyst pushes the n_chars filter to
    the scan and the md5 window is the only wide stage."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 100)
    tok = F.size(tokens(F.lower(F.col("text")), "[^a-z0-9]+")).cast("long")
    toked = d.select("lang", "source", "doc_id", F.md5("text").alias("h"), tok.alias("tok"))
    w = Window.partitionBy("h").orderBy("doc_id")
    deduped = toked.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        deduped.filter(F.col("tok") >= 20)
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").alias("total_tokens"),
            int_ratio(F.sum("tok"), F.count("tok"), 4).alias("avg_tokens_e4"),
        )
    )


def _duck_pagerank_sql(iters: int = 5) -> str:
    """Unrolled fixed-iteration PageRank over the LSH candidate graph —
    the iterative Spark algorithm gets an exact SQL twin by chaining one
    CTE pair (contributions, ranks) per iteration. Constants are CAST to
    DOUBLE so DuckDB's decimal literals don't diverge from Spark's
    float64 arithmetic."""
    from multithreaded_map_reduce_library_spark.plans.pipeline import (
        _duck_band_exprs,
        _duck_minhash_sig_cte,
    )

    steps = []
    prev = "r0"
    for k in range(1, iters + 1):
        steps.append(f"""
        c{k} AS (
            SELECT e.v AS u, SUM(r.r / d.deg) AS s
            FROM e JOIN {prev} r ON r.u = e.u JOIN deg d ON d.u = e.u
            GROUP BY e.v
        ),
        r{k} AS (
            SELECT deg.u,
                   CAST(0.15 AS DOUBLE) / nn.n
                   + CAST(0.85 AS DOUBLE) * COALESCE(c.s, CAST(0 AS DOUBLE)) AS r
            FROM deg CROSS JOIN nn LEFT JOIN c{k} c ON c.u = deg.u
        )""")
        prev = f"r{k}"
    return f"""
        WITH {_duck_minhash_sig_cte().strip()},
        bands AS (SELECT doc_id, unnest({_duck_band_exprs()}) AS band_key FROM sig),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM bands a JOIN bands b
                   ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        e AS (SELECT id_a AS u, id_b AS v FROM cand
              UNION ALL SELECT id_b, id_a FROM cand),
        deg AS (SELECT u, COUNT(*) AS deg FROM e GROUP BY u),
        nn AS (SELECT COUNT(*) AS n FROM deg),
        r0 AS (SELECT u, CAST(1.0 AS DOUBLE) / nn.n AS r FROM deg CROSS JOIN nn),
        {",".join(steps)}
        SELECT deg.u AS doc, deg.deg,
               CAST(FLOOR(r.r * 1000000.0 + 0.5) AS BIGINT) AS pagerank_e6
        FROM deg JOIN {prev} r ON r.u = deg.u
    """


@register(
    "pagerank_dedup_graph",
    oracle=_duck_pagerank_sql(5),
    tags=("graph", "iterative", "pagerank", "dedup"),
)
def pagerank_dedup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 damped iterations) over the MinHash-LSH candidate
    graph: ranks each near-duplicate document by centrality inside its
    cluster — the "keep the canonical copy" selection signal, and the
    engine's demonstration of a distributed iterative algorithm beyond
    connected components (operators/graph.py documents the
    localCheckpoint lineage-truncation pattern). The oracle unrolls the
    same five iterations as chained SQL CTEs, so even an iterative
    algorithm is hash-checked exactly."""
    from multithreaded_map_reduce_library_spark.operators import dedup as D
    from multithreaded_map_reduce_library_spark.operators.graph import pagerank
    from multithreaded_map_reduce_library_spark.plans.pipeline import (
        _LSH_BANDS,
        _MINHASH_K,
        _SHINGLE_N,
    )

    docs = load_table(spark, sf_dir, "documents")
    cand = D.minhash_lsh_pairs(
        docs, num_hashes=_MINHASH_K, bands=_LSH_BANDS, shingle_n=_SHINGLE_N
    )
    return pagerank(cand, iters=5)
