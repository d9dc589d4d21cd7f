"""Similarity-search queries over ``embeddings`` (array<float>, dim=64).

Cross-engine float discipline: Spark computes dot products as a
left-fold ``aggregate`` (0.0 + p1 + p2 + ...); the DuckDB oracles spell
the same sum as an explicit left-associative chain ``ev[1]*ev[1] + ...``,
which evaluates in the identical order — so similarities are bit-identical
and rank/top-k cuts cannot diverge between engines. Only the displayed
similarity is rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.operators.similarity import (
    embedding_neardup_pairs,
    hyperplane_signs,
    knn_bruteforce,
    knn_ivf,
    knn_lsh,
)
from multithreaded_map_reduce_library_spark.functions.grid import grid, int_ratio
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_DIM = 64
_KNN_QUERIES = 10
_KNN_K = 5
_LSH_PLANES = 8
_LSH_K = 3


def _dot(a: str, b: str) -> str:
    return " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(1, _DIM + 1))


def _knn_oracle() -> str:
    return f"""
        WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < {_KNN_QUERIES}),
        c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
        s AS (SELECT q_id, n_id,
                     ({_dot("qv", "nv")}) / (sqrt({_dot("qv", "qv")}) * sqrt({_dot("nv", "nv")})) AS sim
              FROM q, c WHERE q_id <> n_id),
        r AS (SELECT q_id, n_id, sim,
                     CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rank
              FROM s)
        SELECT q_id, n_id, rank, CAST(FLOOR(sim * 1000000.0 + 0.5) AS BIGINT) AS sim_e6
        FROM r WHERE rank <= {_KNN_K}
    """


@register(
    "knn_bruteforce_cosine",
    oracle=_knn_oracle(),
    tags=("similarity", "knn", "exact"),
    bench=True,
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for a 10-vector query set: broadcast the queries,
    JVM-side zip_with/aggregate cosine over the corpus (never shuffled by
    key; a one-row-group corpus is dealt over the cores first),
    ROW_NUMBER cut per query."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _KNN_QUERIES)
    res = knn_bruteforce(emb, query_ids=q, k=_KNN_K)
    return res.select("q_id", "n_id", "rank", grid(F.col("sim"), 6).alias("sim_e6"))


def _bucket_sql(vec: str, num_planes: int = _LSH_PLANES) -> str:
    bits = []
    for p in range(num_planes):
        signs = hyperplane_signs(p, _DIM)
        # Spark folds 0.0 + x1*s1 + x2*s2 + ...; with s = ±1 the chain
        # 0.0 + (±x1) + (±x2) + ... is bit-identical, so spell that.
        terms = "0.0 " + " ".join(
            f"{'+' if s > 0 else '-'} {vec}[{i + 1}]" for i, s in enumerate(signs)
        )
        bits.append(f"CASE WHEN ({terms}) >= 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(bits) + ")"


def _lsh_oracle() -> str:
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (SELECT vec_id, v, {_bucket_sql("v")} AS bucket FROM e),
        p AS (SELECT a.vec_id AS q_id, x.vec_id AS n_id, a.bucket,
                     ({_dot("a.v", "x.v")}) / (sqrt({_dot("a.v", "a.v")}) * sqrt({_dot("x.v", "x.v")})) AS sim
              FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id <> x.vec_id),
        r AS (SELECT q_id, n_id, bucket, sim,
                     CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rank
              FROM p)
        SELECT q_id, n_id, bucket, rank, CAST(FLOOR(sim * 1000000.0 + 0.5) AS BIGINT) AS sim_e6
        FROM r WHERE rank <= {_LSH_K}
    """


@register(
    "ann_lsh_cosine",
    oracle=_lsh_oracle(),
    tags=("similarity", "ann", "lsh"),
)
def ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via sign-random-projection buckets (8 deterministic
    md5-derived hyperplanes): candidates meet only within a bucket, exact
    cosine re-ranks top-3. The scale path — the all-pairs join never exists."""
    emb = load_table(spark, sf_dir, "embeddings")
    res = knn_lsh(emb, dim=_DIM, k=_LSH_K, num_planes=_LSH_PLANES)
    return res.select("q_id", "n_id", "bucket", "rank", grid(F.col("sim"), 6).alias("sim_e6"))


_IVF_STRIDE = 50
#: constant centroid-count cap (see operators/similarity.assign_ivf_cells):
#: a no-op at the test SFs (<= 40 stride-rule centroids) and the linear-
#: assignment bound at any corpus scale (round-6 10x scale run finding)
_IVF_MAX_CENT = 64
_IVF_K = 3
_NEARDUP_PLANES = 4
_NEARDUP_THRESHOLD = 0.3


def _ivf_oracle() -> str:
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id % {_IVF_STRIDE} = 0
                ORDER BY vec_id LIMIT {_IVF_MAX_CENT}),
        scored AS (SELECT e.vec_id, e.v, c.c_id,
                          ({_dot("e.v", "c.cv")}) / (sqrt({_dot("e.v", "e.v")}) * sqrt({_dot("c.cv", "c.cv")})) AS csim
                   FROM e CROSS JOIN cent c),
        asg AS (SELECT vec_id, v, c_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id ASC) AS rn
                FROM scored),
        cells AS (SELECT vec_id, v, c_id AS cell FROM asg WHERE rn = 1),
        q AS (SELECT vec_id AS q_id, v AS qv, cell FROM cells WHERE vec_id < {_KNN_QUERIES}),
        s AS (SELECT q.q_id, c.vec_id AS n_id, q.cell,
                     ({_dot("q.qv", "c.v")}) / (sqrt({_dot("q.qv", "q.qv")}) * sqrt({_dot("c.v", "c.v")})) AS sim
              FROM q JOIN cells c ON q.cell = c.cell AND c.vec_id <> q.q_id),
        r AS (SELECT q_id, n_id, cell, sim,
                     CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rank
              FROM s)
        SELECT q_id, n_id, cell, rank, CAST(FLOOR(sim * 1000000.0 + 0.5) AS BIGINT) AS sim_e6
        FROM r WHERE rank <= {_IVF_K}
    """


@register(
    "ann_ivf_cosine",
    oracle=_ivf_oracle(),
    tags=("similarity", "ann", "ivf"),
    bench=True,
)
def ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (deterministic every-50th-id centroids, nprobe=1):
    broadcast centroid assignment, per-cell candidate join, exact cosine
    re-rank. The cell id is a plain equi-join key — the 100 TB layout
    buckets the corpus by cell at rest so probes touch one bucket."""
    emb = load_table(spark, sf_dir, "embeddings")
    res = knn_ivf(
        emb,
        stride=_IVF_STRIDE,
        k=_IVF_K,
        num_queries=_KNN_QUERIES,
        max_centroids=_IVF_MAX_CENT,
    )
    return res.select("q_id", "n_id", "cell", "rank", grid(F.col("sim"), 6).alias("sim_e6"))


def _neardup_oracle() -> str:
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (SELECT vec_id, v, {_bucket_sql("v", _NEARDUP_PLANES)} AS bucket FROM e),
        p AS (SELECT a.vec_id AS id_a, x.vec_id AS id_b,
                     ({_dot("a.v", "x.v")}) / (sqrt({_dot("a.v", "a.v")}) * sqrt({_dot("x.v", "x.v")})) AS sim
              FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id < x.vec_id)
        SELECT id_a, id_b, CAST(FLOOR(sim * 1000000.0 + 0.5) AS BIGINT) AS sim_e6
        FROM p WHERE sim >= {_NEARDUP_THRESHOLD}
    """


@register(
    "dedup_embedding_cosine",
    oracle=_neardup_oracle(),
    tags=("dedup", "similarity", "embedding"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: 4-plane LSH buckets propose
    candidates (same-bucket only — the all-pairs join never exists), exact
    cosine >= 0.3 confirms. The completion of the dedup tier list
    (exact / MinHash / SimHash / n-gram Jaccard / embedding-cosine)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(
        emb, dim=_DIM, threshold=_NEARDUP_THRESHOLD, num_planes=_NEARDUP_PLANES
    )
    return pairs.select("id_a", "id_b", grid(F.col("sim"), 6).alias("sim_e6"))


_ADAPT_BASE = 4
_ADAPT_EXT = 8
_ADAPT_CAP = 24


def _adaptive_oracle() -> str:
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (SELECT vec_id, v, {_bucket_sql("v", _ADAPT_BASE)} AS b0,
                     {_bucket_sql("v", _ADAPT_EXT)} AS b1 FROM e),
        hist AS (SELECT b0, COUNT(*) AS n FROM b GROUP BY b0),
        fb AS (SELECT vec_id, v,
                      CASE WHEN hist.n > {_ADAPT_CAP} THEN b1 ELSE b0 END AS bucket
               FROM b JOIN hist USING (b0)),
        p AS (SELECT a.vec_id AS id_a, x.vec_id AS id_b,
                     ({_dot("a.v", "x.v")}) / (sqrt({_dot("a.v", "a.v")}) * sqrt({_dot("x.v", "x.v")})) AS sim
              FROM fb a JOIN fb x ON a.bucket = x.bucket AND a.vec_id < x.vec_id)
        SELECT id_a, id_b, CAST(FLOOR(sim * 1000000.0 + 0.5) AS BIGINT) AS sim_e6
        FROM p WHERE sim >= {_NEARDUP_THRESHOLD}
    """


@register(
    "dedup_embedding_adaptive",
    oracle=_adaptive_oracle(),
    tags=("dedup", "similarity", "embedding", "lsh", "adaptive"),
)
def dedup_embedding_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with HOT-BUCKET RE-SPLIT (the scale-safe
    successor of dedup_embedding_cosine's fixed 16 buckets): 4-plane base
    buckets whose population exceeds {cap} are re-split by extending the
    code to 8 planes (prefix-preserving), bounding the within-bucket pair
    space; exact cosine >= 0.3 confirms. The re-split rule is a
    deterministic function of bucket populations, so the oracle reproduces
    it in SQL — a correctness-checked scale mechanism, not a heuristic."""
    from multithreaded_map_reduce_library_spark.operators.similarity import (
        embedding_neardup_adaptive,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_adaptive(
        emb,
        dim=_DIM,
        threshold=_NEARDUP_THRESHOLD,
        base_planes=_ADAPT_BASE,
        ext_planes=_ADAPT_EXT,
        cap=_ADAPT_CAP,
    )
    return pairs.select("id_a", "id_b", grid(F.col("sim"), 6).alias("sim_e6"))


def _probe_sql(bucket: str, num_planes: int) -> str:
    """list of bucket + its Hamming-1 neighbors, mirroring probe_buckets."""
    probes = [bucket]
    for i in range(1, num_planes + 1):
        flip = f"(CASE WHEN substr({bucket}, {i}, 1) = '1' THEN '0' ELSE '1' END)"
        probes.append(
            f"(substr({bucket}, 1, {i - 1}) || {flip} || substr({bucket}, {i + 1}, {num_planes - i}))"
        )
    return "[" + ", ".join(probes) + "]"


def _multiprobe_oracle() -> str:
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (SELECT vec_id, v, {_bucket_sql("v")} AS bucket FROM e),
        q AS (SELECT vec_id AS q_id, v AS qv,
                     unnest({_probe_sql("bucket", _LSH_PLANES)}) AS bucket
              FROM b WHERE vec_id < {_KNN_QUERIES}),
        p AS (SELECT q.q_id, x.vec_id AS n_id,
                     ({_dot("q.qv", "x.v")}) / (sqrt({_dot("q.qv", "q.qv")}) * sqrt({_dot("x.v", "x.v")})) AS sim
              FROM q JOIN b x ON q.bucket = x.bucket AND q.q_id <> x.vec_id),
        r AS (SELECT q_id, n_id, sim,
                     CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rank
              FROM p)
        SELECT q_id, n_id, rank, CAST(FLOOR(sim * 1000000.0 + 0.5) AS BIGINT) AS sim_e6
        FROM r WHERE rank <= {_LSH_K}
    """


@register(
    "ann_lsh_multiprobe",
    oracle=_multiprobe_oracle(),
    tags=("similarity", "ann", "lsh", "multiprobe"),
)
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: each query probes its own 8-plane bucket plus
    all 8 Hamming-distance-1 buckets — the recall mechanism that lets the
    plane count scale with the corpus (small buckets) without single-probe
    recall collapse. Queries are exploded to probe keys and broadcast; the
    corpus is never shuffled."""
    from multithreaded_map_reduce_library_spark.operators.similarity import (
        knn_lsh_multiprobe,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    res = knn_lsh_multiprobe(
        emb, dim=_DIM, k=_LSH_K, num_planes=_LSH_PLANES, num_queries=_KNN_QUERIES
    )
    return res.select("q_id", "n_id", "rank", grid(F.col("sim"), 6).alias("sim_e6"))


_NPROBE = 2


def _ivf_nprobe_oracle() -> str:
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id % {_IVF_STRIDE} = 0
                ORDER BY vec_id LIMIT {_IVF_MAX_CENT}),
        scored AS (SELECT e.vec_id, e.v, c.c_id,
                          ({_dot("e.v", "c.cv")}) / (sqrt({_dot("e.v", "e.v")}) * sqrt({_dot("c.cv", "c.cv")})) AS csim
                   FROM e CROSS JOIN cent c),
        asg AS (SELECT vec_id, v, c_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, c_id ASC) AS rn
                FROM scored),
        cells AS (SELECT vec_id, v, c_id AS cell FROM asg WHERE rn = 1),
        probes AS (SELECT vec_id AS q_id, v AS qv, c_id AS cell FROM asg
                   WHERE rn <= {_NPROBE} AND vec_id < {_KNN_QUERIES}),
        s AS (SELECT p.q_id, c.vec_id AS n_id,
                     ({_dot("p.qv", "c.v")}) / (sqrt({_dot("p.qv", "p.qv")}) * sqrt({_dot("c.v", "c.v")})) AS sim
              FROM probes p JOIN cells c ON p.cell = c.cell AND c.vec_id <> p.q_id),
        r AS (SELECT q_id, n_id, sim,
                     CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rank
              FROM s)
        SELECT q_id, n_id, rank, CAST(FLOOR(sim * 1000000.0 + 0.5) AS BIGINT) AS sim_e6
        FROM r WHERE rank <= {_IVF_K}
    """


@register(
    "ann_ivf_nprobe2",
    oracle=_ivf_nprobe_oracle(),
    tags=("similarity", "ann", "ivf", "multiprobe"),
)
def ann_ivf_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2 (each query searches its two nearest cells)
    — the recall/cost dial of a production IVF index. The corpus keeps
    its one-cell assignment so a neighbor meets a query at most once;
    only the broadcast query set fans out. Complements ann_ivf_cosine
    (nprobe=1) and knn_bruteforce_cosine (the exact baseline);
    operators/similarity.stride_for_corpus sizes the centroid count as
    sqrt(n) for a real corpus."""
    from multithreaded_map_reduce_library_spark.operators.similarity import (
        knn_ivf_multiprobe,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    res = knn_ivf_multiprobe(
        emb,
        stride=_IVF_STRIDE,
        k=_IVF_K,
        nprobe=_NPROBE,
        num_queries=_KNN_QUERIES,
        max_centroids=_IVF_MAX_CENT,
    )
    return res.select("q_id", "n_id", "rank", grid(F.col("sim"), 6).alias("sim_e6"))


def _norm_sql() -> str:
    return f"sqrt({_dot('v', 'v')})"


@register(
    "embedding_label_stats",
    oracle=f"""
        WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT label, COUNT(*) AS n_vecs,
               CAST((SUM(CAST(FLOOR(({_norm_sql()}) * 1000000.0 + 0.5) AS BIGINT))
                     + COUNT(*) // 2) // COUNT(*) AS BIGINT) AS avg_norm_e6,
               CAST(FLOOR(MIN({_norm_sql()}) * 1000000.0 + 0.5) AS BIGINT) AS min_norm_e6,
               CAST(FLOOR(MAX({_norm_sql()}) * 1000000.0 + 0.5) AS BIGINT) AS max_norm_e6
        FROM e GROUP BY label
    """,
    tags=("similarity", "stats"),
)
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector stats (count, norm envelope)."""
    from multithreaded_map_reduce_library_spark.functions.vectors import l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    norm = l2_norm("embedding")
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        int_ratio(
            F.sum(F.floor(norm * 1000000.0 + F.lit(0.5)).cast("bigint")),
            F.count("*"),
            0,
        ).alias("avg_norm_e6"),
        grid(F.min(norm), 6).alias("min_norm_e6"),
        grid(F.max(norm), 6).alias("max_norm_e6"),
    )
