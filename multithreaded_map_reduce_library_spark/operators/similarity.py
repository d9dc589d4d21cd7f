"""Similarity search over embedding columns (``array<float>``).

Two paths per the driver contract:

- **Brute-force top-k** (:func:`knn_bruteforce`): broadcast the query set,
  JVM-side cosine (functions/vectors.py — no Python), per-query ROW_NUMBER
  top-k. Exact; scales as |Q| x |corpus| with the corpus never shuffled
  by key (query side broadcast), so it's the right baseline whenever |Q|
  is small.
- **LSH-bucketed ANN** (:func:`random_hyperplane_bucket`,
  :func:`knn_lsh`): sign-random-projection (SimHash-for-vectors) buckets
  with *deterministic* md5-derived hyperplanes, so the bucketing is
  reproducible in any engine with md5 (oracle-checkable). Candidates only
  meet within a bucket — the all-pairs join never materializes. At 100 TB
  you'd add multi-probe / repetitions for recall; the plan shape is the
  scale path.

Every dot product, norm and cosine here is :func:`functions.vectors.dot_sql`.
Every norm is :func:`_checked_norm`, so an all-zero vector fails naming its
id instead of aborting the cosine division with an ANSI divide-by-zero.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.vectors import dot_sql, quote
from multithreaded_map_reduce_library_spark.sources.catalog import spread


def _cos_pre(va: str, vb: str, na: str, nb: str) -> Column:
    """Cosine from a fresh dot product and per-side PRE-COMPUTED norms.

    Norms must be materialized in a projection *below* the join that forms
    the pairs: recomputing both norms per pair triples the per-pair work
    (measured ~2.5x on the IVF assignment at sf0.1). Values are
    bit-identical to cosine() — the same chains over the same arrays,
    just evaluated once per row.
    """
    return F.expr(f"{dot_sql(quote(va), quote(vb))} / ({quote(na)} * {quote(nb)})")


def _checked_norm(vec_col: str, id_col: str) -> Column:
    """The L2 norm of ``vec_col``, raising ``zero-norm embedding
    <id_col>=<id>`` when it is 0. The test sits in the fold's finish step,
    on the sum of squares, which is 0 exactly when its square root is: the
    fold runs once per row, and a nonzero norm is bit-identical to
    :func:`functions.vectors.l2_norm`."""
    v, i = quote(vec_col), quote(id_col)
    err = f"raise_error(concat('zero-norm embedding {id_col}=', CAST({i} AS STRING)))"
    return F.expr(dot_sql(v, v, finish=f"CASE WHEN acc = 0D THEN {err} ELSE sqrt(acc) END"))


def _top_k(sims: DataFrame, k: int) -> DataFrame:
    """Per-query top-k by (sim desc, n_id asc), ranked from 1."""
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return sims.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )


def hyperplane_signs(plane: int, dim: int) -> list[int]:
    """Deterministic ±1 hyperplane components: sign = high bit of
    md5("<plane>,<dim_index>") — reproducible from public md5 alone."""
    return [
        1 if int(hashlib.md5(f"{plane},{i}".encode()).hexdigest()[0], 16) >= 8 else -1
        for i in range(dim)
    ]


def random_hyperplane_bucket(vec: str, dim: int, num_planes: int = 8) -> Column:
    """Bucket id: concatenated signs of <vec, plane_p> for p in 0..P-1."""
    bits = []
    for p in range(num_planes):
        signs = "array(" + ", ".join(f"{s}.0D" for s in hyperplane_signs(p, dim)) + ")"
        bits.append(f"CASE WHEN {dot_sql(quote(vec), signs)} >= 0 THEN '1' ELSE '0' END")
    return F.expr(f"concat({', '.join(bits)})")


def _lsh_bucketed(
    emb: DataFrame, dim: int, num_planes: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, norm, bucket): the projection every LSH operator joins on."""
    return emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        _checked_norm(vec_col, id_col).alias("norm"),
        random_hyperplane_bucket(vec_col, dim, num_planes).alias("bucket"),
    )


def _same_bucket_pairs(bucketed: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, sim) for same-bucket pairs id_a < id_b with sim >=
    ``threshold``, over an (id, vec, norm, bucket) relation."""
    a = bucketed.select(
        F.col("id").alias("id_a"), F.col("vec").alias("va"),
        F.col("norm").alias("na"), "bucket",
    )
    b = bucketed.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vb"),
        F.col("norm").alias("nb"), "bucket",
    )
    return (
        a.join(b, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _cos_pre("va", "vb", "na", "nb").alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def knn_bruteforce(
    emb: DataFrame,
    query_ids: DataFrame | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``query_ids`` defaults to the whole table (all-pairs kNN — use only at
    small scale); pass a small query set for the broadcast plan. The
    corpus side is :func:`~multithreaded_map_reduce_library_spark.sources.catalog.spread`
    before the fold, so a one-row-group table folds on every core.
    """
    corpus = spread(emb).select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        _checked_norm(vec_col, id_col).alias("n_norm"),
    )
    queries = (query_ids or emb).select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        _checked_norm(vec_col, id_col).alias("q_norm"),
    )
    pairs = corpus.crossJoin(F.broadcast(queries)).filter(F.col("q_id") != F.col("n_id"))
    sims = pairs.select(
        "q_id", "n_id", _cos_pre("q_vec", "n_vec", "q_norm", "n_norm").alias("sim")
    )
    return _top_k(sims, k)


def knn_lsh(
    emb: DataFrame,
    dim: int,
    k: int = 3,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the same hyperplane
    bucket, exact cosine re-rank within bucket. One shuffle on bucket id."""
    bucketed = _lsh_bucketed(emb, dim, num_planes, id_col, vec_col)
    a = bucketed.select(
        F.col("id").alias("q_id"), F.col("vec").alias("q_vec"),
        F.col("norm").alias("q_norm"), F.col("bucket"),
    )
    b = bucketed.select(
        F.col("id").alias("n_id"), F.col("vec").alias("n_vec"),
        F.col("norm").alias("n_norm"), F.col("bucket").alias("bucket_b"),
    )
    pairs = a.join(b, (F.col("bucket") == F.col("bucket_b")) & (F.col("q_id") != F.col("n_id")))
    sims = pairs.select(
        "q_id", "n_id", "bucket", _cos_pre("q_vec", "n_vec", "q_norm", "n_norm").alias("sim")
    )
    return _top_k(sims, k)


def _ivf_centroids(
    emb: DataFrame, stride: int, max_centroids: int | None, id_col: str, vec_col: str
) -> DataFrame:
    """(c_id, c_vec, c_norm): every ``stride``-th vector by id, capped at
    the first ``max_centroids`` ids."""
    centroids = emb.filter((F.col(id_col) % stride) == 0)
    if max_centroids is not None:
        centroids = centroids.orderBy(id_col).limit(max_centroids)
    return centroids.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        _checked_norm(vec_col, id_col).alias("c_norm"),
    )


def assign_ivf_cells(
    emb: DataFrame,
    stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_centroids: int | None = None,
) -> DataFrame:
    """IVF coarse quantization with deterministic centroids (every
    ``stride``-th vector by id — reproducible without a trained codebook):
    each vector is assigned to its nearest centroid by cosine (ties to the
    lowest centroid id). Centroids are broadcast; the corpus is scanned
    once and never shuffled by key for assignment (a one-row-group corpus
    is only dealt over the cores by
    :func:`~multithreaded_map_reduce_library_spark.sources.catalog.spread`).

    Returns (id, vec, cell) where cell is the centroid's id.

    The argmax is MIN over a (-cosine, c_id) struct — a hash aggregate
    whose map-side partial collapses the per-centroid candidate rows
    before any shuffle (no sort), with lexicographic struct ordering as
    the deterministic tie-break; identical assignments to the
    row_number-window form (see SCALING.md, kmeans entry).

    ``max_centroids`` bounds the centroid count at a CONSTANT (first
    that-many centroid ids, ``ORDER BY id LIMIT n`` —
    TakeOrderedAndProject): with the stride rule alone the centroid
    count grows linearly with the corpus, which makes the broadcast
    assignment O(N²/stride) — the round-6 10x empirical scale run
    measured exactly that (ann_ivf_cosine 1.3 s -> 66.6 s at 10x data
    before the cap). Callers that prefer sqrt-N centroid growth use
    ``stride_for_corpus`` instead.
    """
    centroids = _ivf_centroids(emb, stride, max_centroids, id_col, vec_col)
    scored = spread(emb).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        _checked_norm(vec_col, id_col).alias("v_norm"),
    ).crossJoin(F.broadcast(centroids))
    negsim = -_cos_pre("vec", "c_vec", "v_norm", "c_norm")
    return (
        scored.groupBy("id")
        .agg(
            F.min(F.struct(negsim.alias("ns"), F.col("c_id").alias("c_id"))).alias("best"),
            F.first("vec").alias("vec"),
            F.first("v_norm").alias("norm"),
        )
        .select("id", "vec", "norm", F.col("best.c_id").alias("cell"))
    )


def knn_ivf(
    emb: DataFrame,
    stride: int = 50,
    k: int = 3,
    num_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_centroids: int | None = None,
) -> DataFrame:
    """IVF-style ANN: queries search only their own cell (nprobe=1), exact
    cosine re-rank inside it. The scale path of the two ANN variants — at
    100 TB the per-cell candidate lists are the only join fan-out, and the
    cell index is a plain equi-join key (bucketable/bucketed at rest)."""
    cells = assign_ivf_cells(emb, stride, id_col, vec_col, max_centroids)
    queries = cells.filter(F.col("id") < num_queries).select(
        F.col("id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("norm").alias("q_norm"),
        "cell",
    )
    cand = F.broadcast(queries).join(
        cells.withColumnRenamed("id", "n_id")
        .withColumnRenamed("vec", "n_vec")
        .withColumnRenamed("norm", "n_norm"),
        "cell",
    ).filter(F.col("n_id") != F.col("q_id"))
    sims = cand.select(
        "q_id", "n_id", "cell", _cos_pre("q_vec", "n_vec", "q_norm", "n_norm").alias("sim")
    )
    return _top_k(sims, k)


def stride_for_corpus(n_rows: int, min_stride: int = 16) -> int:
    """Centroid stride so the centroid count grows as sqrt(n): with
    n/stride centroids and ~stride vectors per cell, stride = sqrt(n)
    balances the broadcast-assignment cost (n x n/stride comparisons)
    against per-cell candidate-list size — the standard IVF sizing. The
    round-1 fixed stride made the centroid count linear in corpus size
    (fine) but cell population constant-bounded only if stride grows;
    this makes both ~sqrt(n). Deterministic given the corpus count."""
    import math

    return max(min_stride, int(math.isqrt(max(n_rows, 1))))


def knn_ivf_multiprobe(
    emb: DataFrame,
    stride: int = 50,
    k: int = 3,
    nprobe: int = 2,
    num_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_centroids: int | None = None,
) -> DataFrame:
    """IVF ANN with ``nprobe`` > 1: each query searches its ``nprobe``
    nearest cells instead of only its own — the recall/cost dial every
    IVF index exposes (faiss's nprobe). The corpus keeps its single-cell
    assignment (each vector lives in exactly one posting list, so a
    neighbor meets a query at most once — no dedup pass); only the tiny
    query set fans out, to nprobe cells each, and joins the cell index
    by plain equi-key. At 100 TB the posting lists are bucketed by cell
    at rest and a probe touches nprobe buckets."""
    cells = assign_ivf_cells(emb, stride, id_col, vec_col, max_centroids)
    centroids = _ivf_centroids(emb, stride, max_centroids, id_col, vec_col)
    q_scored = (
        emb.filter(F.col(id_col) < num_queries)
        .select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            _checked_norm(vec_col, id_col).alias("q_norm"),
        )
        .crossJoin(F.broadcast(centroids))
    )
    wq = Window.partitionBy("q_id").orderBy(
        F.desc(_cos_pre("q_vec", "c_vec", "q_norm", "c_norm")), F.asc("c_id")
    )
    probes = (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("q_id", "q_vec", "q_norm", F.col("c_id").alias("cell"))
    )
    cand = F.broadcast(probes).join(
        cells.withColumnRenamed("id", "n_id")
        .withColumnRenamed("vec", "n_vec")
        .withColumnRenamed("norm", "n_norm"),
        "cell",
    ).filter(F.col("n_id") != F.col("q_id"))
    sims = cand.select(
        "q_id", "n_id", _cos_pre("q_vec", "n_vec", "q_norm", "n_norm").alias("sim")
    )
    return _top_k(sims, k)


def embedding_neardup_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.3,
    num_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucketed candidates (only
    same-bucket pairs meet), exact cosine filter at ``threshold``. The
    bucketing is part of the operator's definition (deterministic md5
    hyperplanes), so results are exactly reproducible — and the all-pairs
    join never exists at any scale."""
    return _same_bucket_pairs(_lsh_bucketed(emb, dim, num_planes, id_col, vec_col), threshold)


# ---------------------------------------------------------------------------
# Scale-parameterized LSH: planes from corpus size, hot-bucket re-split,
# multi-probe. Round-1 shipped fixed 4/8-plane bucketing (16/256 buckets);
# at 100 TB a bucket holds ~n/256 vectors and the within-bucket self-join is
# O(n^2/B) — these are the three standard fixes, all deterministic and
# oracle-expressible.
# ---------------------------------------------------------------------------


def planes_for_corpus(n_rows: int, target_bucket: int = 64, lo: int = 4, hi: int = 24) -> int:
    """Plane count so the EXPECTED bucket population ~= ``target_bucket``:
    ceil(log2(n / target)), clamped. 2^planes buckets over n vectors gives
    n / 2^planes expected occupancy — the within-bucket pair space stays
    ~target^2 per bucket regardless of corpus size, which is what makes
    the LSH self-join linear-ish in n instead of O(n^2 / constant).
    Deterministic given the corpus count, so oracle SQL built for the same
    count agrees."""
    import math

    if n_rows <= target_bucket:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n_rows / target_bucket))))


def adaptive_hyperplane_buckets(
    emb: DataFrame,
    dim: int,
    base_planes: int = 4,
    ext_planes: int = 8,
    cap: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, norm, bucket) with HOT-BUCKET RE-SPLIT: every vector gets
    its ``base_planes``-bit bucket; buckets whose population exceeds
    ``cap`` are re-split by extending the code to ``ext_planes`` bits
    (prefix-preserving — plane i is the same hyperplane at both widths, so
    the extended code refines, never reshuffles, the base partition).

    This is the bucket-size cap the round-1 verdict required: per-bucket
    pair fan-out is bounded by max(cap^2, (n_hot / 2^(ext-base))^2)
    instead of (n / 2^base)^2, and the rule is a deterministic function of
    the data (population counts), so a SQL oracle reproduces it exactly.
    At 100 TB the same rule applies recursively (re-split again at 2*ext);
    one level is what the driver's corpus sizes exercise.

    Plan shape: one map-side projection computes both codes, the base-
    bucket histogram is a tiny groupBy (≤ 2^base_planes rows) broadcast
    back — the corpus itself is scanned once and shuffled only by the
    final bucket key in downstream joins.
    """
    b = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        _checked_norm(vec_col, id_col).alias("norm"),
        random_hyperplane_bucket(vec_col, dim, base_planes).alias("b0"),
        random_hyperplane_bucket(vec_col, dim, ext_planes).alias("b1"),
    )
    hist = b.groupBy("b0").agg(F.count("*").alias("_n"))
    return (
        b.join(F.broadcast(hist), "b0")
        .select(
            "id",
            "vec",
            "norm",
            F.when(F.col("_n") > cap, F.col("b1")).otherwise(F.col("b0")).alias("bucket"),
        )
    )


def embedding_neardup_adaptive(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.3,
    base_planes: int = 4,
    ext_planes: int = 8,
    cap: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs over :func:`adaptive_hyperplane_buckets`:
    the scale-safe successor of :func:`embedding_neardup_pairs` (fixed
    16 buckets) — same-bucket candidates with capped bucket populations,
    exact cosine >= ``threshold`` confirms."""
    bucketed = adaptive_hyperplane_buckets(
        emb, dim, base_planes, ext_planes, cap, id_col, vec_col
    )
    return _same_bucket_pairs(bucketed, threshold)


def probe_buckets(bucket: Column, num_planes: int) -> Column:
    """Multi-probe key set: the bucket itself plus every Hamming-distance-1
    neighbor (one bit flipped). array<string> of length num_planes + 1."""
    probes = [bucket]
    for i in range(1, num_planes + 1):
        flipped = F.when(F.substring(bucket, i, 1) == "1", F.lit("0")).otherwise(F.lit("1"))
        probes.append(
            F.concat(F.substring(bucket, 1, i - 1), flipped, F.substring(bucket, i + 1, num_planes - i))
        )
    return F.array(*probes)


def knn_lsh_multiprobe(
    emb: DataFrame,
    dim: int,
    k: int = 3,
    num_planes: int = 8,
    num_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH ANN: each query additionally probes every bucket at
    Hamming distance 1 from its own — the standard recall fix that lets
    the plane count grow with the corpus (keeping buckets small) without
    the recall collapse single-probe suffers. Probe fan-out is
    ``num_planes + 1`` keys per query; candidates still only ever meet
    through a bucket-key equi-join (queries exploded+broadcast, the corpus
    is never shuffled). A neighbor's bucket matches at most one probe key,
    so no candidate dedup pass is needed."""
    bucketed = _lsh_bucketed(emb, dim, num_planes, id_col, vec_col)
    queries = (
        bucketed.filter(F.col("id") < num_queries)
        .select(
            F.col("id").alias("q_id"),
            F.col("vec").alias("q_vec"),
            F.col("norm").alias("q_norm"),
            F.explode(probe_buckets(F.col("bucket"), num_planes)).alias("bucket"),
        )
    )
    neighbors = bucketed.select(
        F.col("id").alias("n_id"), F.col("vec").alias("n_vec"),
        F.col("norm").alias("n_norm"), "bucket",
    )
    pairs = F.broadcast(queries).join(neighbors, "bucket").filter(
        F.col("q_id") != F.col("n_id")
    )
    sims = pairs.select(
        "q_id", "n_id", _cos_pre("q_vec", "n_vec", "q_norm", "n_norm").alias("sim")
    )
    return _top_k(sims, k)
