"""Pipeline batch 19: retrieval fusion + model-based corpus scoring.

Four production patterns a 100 TB training-data pipeline runs daily:

- ``quality_classifier_score`` — inference of a hashed-feature linear
  quality classifier (the fastText-style filter of CCNet/RefinedWeb):
  the hashing trick means NO vocabulary join — scoring is a pure map.
- ``hybrid_rrf_retrieval`` — reciprocal-rank fusion (Cormack et al.,
  SIGIR 2009) of a lexical BM25 ranking and a dense cosine ranking;
  the standard hybrid-retrieval merge.
- ``hll_weekly_union_rollup`` — re-aggregation of daily HyperLogLog
  sketches into weekly distincts via ``hll_union_agg``: THE pattern
  that lets a 100 TB store answer distinct-count rollups without ever
  rescanning raw events (store the daily sketch, union upward).
- ``semdedup_within_cell`` — SemDeDup (Abbas et al., 2023): semantic
  near-duplicate pruning restricted to k-means-style cells so the
  pairwise cosine join is per-cell, never corpus-wide.

Exactness: the classifier is integer end-to-end (md5-derived weights);
RRF is two IEEE divisions and one add in a spelled order; the HLL row
carries an error-bound claim (est_in_bound) instead of the
engine-specific raw estimate; SemDeDup sims use the left-fold dot
chain shared with plans/similarity_q.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.grid import grid
from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.operators.similarity import (
    _checked_norm,
    _cos_pre,
    assign_ivf_cells,
)
from multithreaded_map_reduce_library_spark.plans import pipeline4
from multithreaded_map_reduce_library_spark.plans.registry import REGISTRY, register
from multithreaded_map_reduce_library_spark.plans.similarity_q import _dot
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_RRF_K = 60          # standard RRF dampening constant
_RRF_TOP = 20
_SEMDEDUP_STRIDE = 50
_SEMDEDUP_T = 0.2    # within-cell cosine threshold


@register(
    "quality_classifier_score",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
            FROM documents
        )
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(COALESCE(list_sum(list_transform(toks,
                        x -> CAST(('0x' || substr(md5('w|' || x), 1, 8)) AS BIGINT)
                             % 2001 - 1000)), 0) AS BIGINT) AS score_milli,
               CAST(COALESCE(list_sum(list_transform(toks,
                        x -> CAST(('0x' || substr(md5('w|' || x), 1, 8)) AS BIGINT)
                             % 2001 - 1000)), 0) AS BIGINT) > 0 AS keep_doc
        FROM t
    """,
    tags=("corpus", "quality", "classifier", "documents", "map-only"),
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear classifier inference over every document —
    the shape of the fastText quality filters in CCNet / RefinedWeb /
    DCLM: token -> feature bucket by hash, score = sum of bucket
    weights, keep if positive. Weights here are md5-derived integers in
    [-1000, 1000] (a stand-in for trained milli-weights; swapping in a
    real model changes only the weight expression, not the plan).

    Scale design: the hashing trick means there is NO vocabulary
    dictionary and NO join — the whole classifier is one map-side
    array fold (transform + aggregate) inside whole-stage codegen.
    Zero shuffles; throughput is scan-bound, which is exactly what you
    want for a filter that touches all 100 TB. Integer weights make
    the score exact, so the cross-engine hash cannot drift.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.lower("text"), "[^a-z0-9]+")
    weight = lambda t: (  # noqa: E731 — md5-derived milli-weight
        F.conv(F.substring(F.md5(F.concat(F.lit("w|"), t)), 1, 8), 16, 10).cast(
            "bigint"
        )
        % 2001
        - 1000
    )
    score = F.aggregate(
        F.transform(toks, weight), F.lit(0).cast("bigint"), lambda a, x: a + x
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        score.alias("score_milli"),
        (score > 0).alias("keep_doc"),
    )


def _rrf_oracle() -> str:
    bm25 = REGISTRY["bm25_doc_scores"].oracle
    return f"""
        WITH bm AS ({bm25}),
        bmr AS (SELECT doc_id,
                       CAST(ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id) AS BIGINT)
                           AS bm25_rank
                FROM bm),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        cs AS (SELECT vec_id,
                      ({_dot("v", "qv")})
                      / (sqrt({_dot("v", "v")}) * sqrt({_dot("qv", "qv")})) AS sim
               FROM e CROSS JOIN q WHERE vec_id <> 0),
        cr AS (SELECT vec_id AS doc_id,
                      CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS BIGINT)
                          AS cos_rank
               FROM cs),
        j AS (SELECT COALESCE(bmr.doc_id, cr.doc_id) AS doc_id, bm25_rank, cos_rank,
                     COALESCE(CAST(1 AS DOUBLE) / (CAST({_RRF_K} AS DOUBLE) + bm25_rank),
                              CAST(0 AS DOUBLE))
                     + COALESCE(CAST(1 AS DOUBLE) / (CAST({_RRF_K} AS DOUBLE) + cos_rank),
                                CAST(0 AS DOUBLE)) AS rrf
              FROM bmr FULL OUTER JOIN cr ON bmr.doc_id = cr.doc_id)
        SELECT doc_id, bm25_rank, cos_rank,
               CAST(FLOOR(rrf * 1000000.0 + 0.5) AS BIGINT) AS rrf_e6
        FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rn FROM j)
        WHERE rn <= {_RRF_TOP}
    """


@register(
    "hybrid_rrf_retrieval",
    oracle=_rrf_oracle(),
    tags=("search", "ranking", "rrf", "hybrid", "similarity"),
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 lexical ranking (query ``spark
    join hash``, see bm25_doc_scores) with a dense cosine ranking
    (query = embedding 0) by reciprocal-rank fusion,
    rrf = sum over rankers of 1/(60 + rank); top-20 fused results.
    Documents and embeddings are row-aligned (doc_id = vec_id) — the
    usual layout when the embedding table is produced from the corpus.

    Exactness: each ranker's cut is on deterministic keys (rounded BM25
    score resp. bit-identical cosine, both tie-broken by id), and the
    fused score is two IEEE divisions plus one add spelled in the same
    order in both engines — the top-20 cut cannot diverge.

    Scale design: each ranker is already bounded (BM25 touches only
    query-term postings; dense side is an ANN shortlist at scale); the
    fusion itself joins two rank lists of top-N size — driver-free,
    broadcast-sized. The full-outer join keeps docs seen by only one
    ranker, contributing a single reciprocal term, per the paper.
    """
    bm = pipeline4.bm25_doc_scores(spark, sf_dir)
    w_bm = F.row_number().over(
        Window.orderBy(F.col("score_e6").desc(), F.col("doc_id"))
    )
    bmr = bm.select("doc_id", w_bm.cast("bigint").alias("bm25_rank"))

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "embedding", _checked_norm("embedding", "vec_id").alias("nrm"))
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("nrm").alias("qn")
    )
    cs = (
        e.filter(F.col("vec_id") != 0)
        # bcast-bounded: q is ONE row (vec_id == 0 equality on the key)
        .crossJoin(F.broadcast(q))
        .select("vec_id", _cos_pre("embedding", "qv", "nrm", "qn").alias("sim"))
    )
    cr = cs.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("sim").desc(), F.col("vec_id")))
        .cast("bigint")
        .alias("cos_rank"),
    )
    k = F.lit(float(_RRF_K))
    j = bmr.join(cr, "doc_id", "full_outer").select(
        "doc_id",
        "bm25_rank",
        "cos_rank",
        (
            F.coalesce(F.lit(1.0) / (k + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (k + F.col("cos_rank")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        j.withColumn(
            "rn", F.row_number().over(Window.orderBy(F.col("rrf").desc(), F.col("doc_id")))
        )
        .filter(F.col("rn") <= _RRF_TOP)
        .select("doc_id", "bm25_rank", "cos_rank", grid(F.col("rrf"), 6).alias("rrf_e6"))
    )


@register(
    "hll_weekly_union_rollup",
    oracle="""
        SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
               COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS n_days,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS est_in_bound
        FROM events
        GROUP BY 1
    """,
    tags=("approx", "sketch", "rollup", "datetime"),
)
def hll_weekly_union_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly distinct users by UNIONING daily HyperLogLog sketches
    (hll_sketch_agg per day, hll_union_agg up to week) — the
    re-aggregation pattern that makes distinct counts rollup-able at
    100 TB: persist the fixed-size daily sketch once, answer any
    coarser rollup (week/month/quarter) by unioning sketches, never
    rescanning raw events. approx_count_distinct alone can't do this —
    its registers are gone after the query.

    Like hll_distinct_users_daily, the engine-specific estimate is not
    hashed; the output carries the CHECKABLE claim ``est_in_bound``:
    |union_estimate - exact| / exact <= 5% (lgConfigK=12 gives
    rsd ~1.6%; 5% is a 3-sigma bound). The oracle asserts TRUE per week.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("week", "ts").cast("date").alias("week"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "user_id",
    )
    daily = e.groupBy("week", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
    )
    weekly_est = daily.groupBy("week").agg(
        F.count("*").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
    )
    weekly_exact = e.groupBy("week").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return weekly_est.join(weekly_exact, "week").select(
        "week",
        "n_days",
        "exact_users",
        (
            F.abs(F.col("_est") - F.col("exact_users")) / F.col("exact_users")
            <= F.lit(0.05)
        ).alias("est_in_bound"),
    )


def _semdedup_oracle() -> str:
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS c_id, v AS cv FROM e
                 WHERE vec_id % {_SEMDEDUP_STRIDE} = 0),
        scored AS (SELECT e.vec_id, e.v, c.c_id,
                          ({_dot("e.v", "c.cv")})
                          / (sqrt({_dot("e.v", "e.v")}) * sqrt({_dot("c.cv", "c.cv")}))
                              AS csim
                   FROM e CROSS JOIN cent c),
        asg AS (SELECT vec_id, v, c_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY csim DESC, c_id ASC) AS rn
                FROM scored),
        cells AS (SELECT vec_id, v, c_id AS cell FROM asg WHERE rn = 1),
        p AS (SELECT a.cell, a.vec_id AS id_keep, b.vec_id AS id_drop,
                     ({_dot("a.v", "b.v")})
                     / (sqrt({_dot("a.v", "a.v")}) * sqrt({_dot("b.v", "b.v")})) AS sim
              FROM cells a JOIN cells b
                ON a.cell = b.cell AND a.vec_id < b.vec_id)
        SELECT cell, id_keep, id_drop, CAST(FLOOR(sim * 1000000.0 + 0.5) AS BIGINT) AS sim_e6
        FROM p WHERE sim >= {_SEMDEDUP_T}
    """


@register(
    "semdedup_within_cell",
    oracle=_semdedup_oracle(),
    tags=("dedup", "similarity", "embedding", "semdedup"),
)
def semdedup_within_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., 2023): semantic near-duplicate pruning
    decisions — cluster the embedding space (here the deterministic
    IVF stride centroids shared with ann_ivf_cosine), then compare
    pairs ONLY within a cell; a pair with cosine >= 0.2 marks the
    higher id for removal (keep-lowest-id, the paper's keep-one rule).

    Scale design: identical to the LSH dedup family — the corpus-wide
    pairwise join never exists. Assignment is a broadcast argmin (one
    corpus scan, no shuffle); the pair join is an equi-join on cell,
    so work is sum over cells of |cell|^2, bounded by the clustering.
    At 100 TB you'd raise the centroid count (stride_for_corpus) so
    cells stay ~constant size — the same knob as the paper's k.
    Cosines reuse the pre-computed-norm left-fold chain, bit-identical
    to the DuckDB twin.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cells = assign_ivf_cells(emb, stride=_SEMDEDUP_STRIDE)
    a = cells.select(
        F.col("cell"),
        F.col("id").alias("id_keep"),
        F.col("vec").alias("va"),
        F.col("norm").alias("na"),
    )
    b = cells.select(
        F.col("cell"),
        F.col("id").alias("id_drop"),
        F.col("vec").alias("vb"),
        F.col("norm").alias("nb"),
    )
    pairs = a.join(b, "cell").filter(F.col("id_keep") < F.col("id_drop"))
    sim = _cos_pre("va", "vb", "na", "nb")
    return (
        pairs.select("cell", "id_keep", "id_drop", sim.alias("sim"))
        .filter(F.col("sim") >= _SEMDEDUP_T)
        .select("cell", "id_keep", "id_drop", grid(F.col("sim"), 6).alias("sim_e6"))
    )
