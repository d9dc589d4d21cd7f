"""Similarity operators (operators/similarity.py) over the one JVM dot
product (functions/vectors.py), and the 21 oracle-hashed queries that
reach them.

Layers tested:
* a raw-double pin: sha256 of every ``cosine``/``l2_norm`` double over
  all sf0.001 embedding pairs and over a hand-built set (signed zeros,
  a zero vector, float32 extremes), recorded while a second spelling of
  the dot product (an expanded ``t0 + t1 + ...`` tree) still existed; it
  matched on every double except the signed-zero pair in ``_HAND``;
* oracle parity for every query that reaches the similarity operators
  or ``functions/vectors.py``, at sf0.001 (sf0.01 is the `slow` replay
  in tests/test_oracle_parity.py);
* operator behavior: neighbor order, LSH bucket sharing, multi-probe and
  nprobe supersets, the plane/stride sizing rules.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.vectors import cosine, l2_norm
from multithreaded_map_reduce_library_spark.operators.similarity import (
    hyperplane_signs,
    knn_bruteforce,
    knn_lsh,
    random_hyperplane_bucket,
)
from multithreaded_map_reduce_library_spark.plans.registry import all_queries
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

from .conftest import SF_SMALL
from .oracle_util import compare_query


_EMB_SCHEMA = "vec_id bigint, embedding array<double>"


def _emb_frame(spark, rows):
    """Tiny embedding table from pandas (Arrow): the same types as a
    Python-list ``createDataFrame``, without its per-action cost."""
    return spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]), _EMB_SCHEMA)


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        (4, [0.5, 0.5, 0.0, 0.0]),
    ]
    return _emb_frame(spark, rows)


def test_cosine_expression_values(spark, emb):
    a = emb.alias("a").select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.alias("b").select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    sims = {
        (r["ia"], r["ib"]): r["sim"]
        for r in a.crossJoin(b).select("ia", "ib", cosine("va", "vb").alias("sim")).collect()
    }
    assert sims[(0, 0)] == pytest.approx(1.0)
    assert sims[(0, 2)] == pytest.approx(0.0)
    assert sims[(0, 3)] == pytest.approx(-1.0)
    assert sims[(0, 4)] == pytest.approx(1 / math.sqrt(2))


# --------------------------------------------------------------------------
# raw-double pin
# --------------------------------------------------------------------------

_F32_MAX = 3.4028234663852886e38
_F32_TINY = 1.1754943508222875e-38  # smallest normal float32
_F32_SUB = 1.401298464324817e-45  # smallest subnormal float32

#: 64-wide vectors: a +0.0 and a -0.0 zero vector, a pair whose every
#: product is -0.0 (ids 2 and 3: the fold's 0.0 + t0 gives +0.0 where a
#: bare t0 + t1 + ... chain gives -0.0), float32 max/min/subnormal
#: components with mixed signs, and one ordinary vector.
_HAND = [
    (0, [0.0] * 64),
    (1, [-0.0] * 64),
    (2, [1.0] + [-0.0] * 63),
    (3, [-0.0] + [1.0] * 63),
    (4, [_F32_MAX, -_F32_MAX, -0.0, 0.0] * 16),
    (5, [_F32_SUB, -_F32_SUB, _F32_TINY, -_F32_TINY, -0.0, 0.0, 1.0, -1.0] * 8),
    (6, [_F32_MAX, -_F32_SUB, _F32_TINY, -0.0, 0.0, 0.5, -2.0, 3.0] * 8),
    (7, [(-1.0) ** i * (i + 1) / 7.0 for i in range(64)]),
]

#: sha256 over struct.pack("<qqdd", ia, ib, cosine, l2_norm(a)) per pair in
#: (ia, ib) order; a NULL cosine (a zero-norm side) packs as NaN.
_PAIR_DIGESTS = {
    "sf0.001": "9773a2ed5800dd0cd7a8ccd402f86cc25e437899889073107bccf0a4144224a1",
    "hand": "da9fd69d5ca95fcbcc83ce89620c1443305ba600162e3e393479668e6cb98feb",
}

_PAIR_DTYPE = np.dtype([("ia", "<i8"), ("ib", "<i8"), ("sim", "<f8"), ("norm", "<f8")])


def _packed_pairs(df) -> np.ndarray:
    """(ia, ib, cosine, l2_norm(a)) over all pairs in (ia, ib) order, as
    struct.pack("<qqdd", ...) records back to back."""
    a = df.select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("va"),
        l2_norm("embedding").alias("norm"),
    )
    b = df.select(
        F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"),
        l2_norm("embedding").alias("nb"),
    )
    # ANSI division raises on a zero norm; the pin records NULL there.
    sim = F.when(F.col("norm") * F.col("nb") != 0, cosine("va", "vb"))
    pdf = a.crossJoin(b).select("ia", "ib", sim.alias("sim"), "norm").toPandas()
    rec = np.empty(len(pdf), dtype=_PAIR_DTYPE)
    for name in _PAIR_DTYPE.names:
        rec[name] = pdf[name].to_numpy()  # a NULL sim arrives as NaN
    return np.sort(rec, order=["ia", "ib"])


@pytest.fixture(scope="module")
def hand_emb(spark):
    return spark.createDataFrame(
        pd.DataFrame(_HAND, columns=["vec_id", "embedding"]),
        "vec_id bigint, embedding array<float>",
    )


@pytest.mark.parametrize("which", sorted(_PAIR_DIGESTS))
def test_cosine_and_norm_doubles_match_recorded_digest(spark, hand_emb, which):
    df = hand_emb if which == "hand" else load_table(spark, SF_SMALL, "embeddings")
    rec = _packed_pairs(df)
    assert hashlib.sha256(rec.tobytes()).hexdigest() == _PAIR_DIGESTS[which]
    if which == "hand":
        # every product of ids 2 and 3 is -0.0; the fold's 0.0 + t0 makes +0.0
        pair = rec[(rec["ia"] == 2) & (rec["ib"] == 3)]
        assert math.copysign(1.0, pair["sim"][0]) == 1.0


# --------------------------------------------------------------------------
# oracle parity for every query that reaches the similarity code
# --------------------------------------------------------------------------

SIMILARITY_QUERIES = [
    "knn_bruteforce_cosine",
    "ann_lsh_cosine",
    "ann_ivf_cosine",
    "ann_ivf_nprobe2",
    "ann_lsh_multiprobe",
    "dedup_embedding_cosine",
    "dedup_embedding_adaptive",
    "embedding_label_stats",
    "embedding_centroid_assign",
    "ann_recall_vs_exact",
    "ann_recall_comparison",
    "ann_ivf_kmeans",
    "ann_ivfpq_rerank",
    "hybrid_rrf_retrieval",
    "semdedup_within_cell",
    "cluster_topic_labels",
    "cluster_lang_purity",
    "mutual_nn_pairs",
    "embedding_norm_audit",
    "triangle_count_dedup_graph",
    "semantic_decontamination",
]


@pytest.mark.parametrize("name", SIMILARITY_QUERIES)
def test_similarity_query_oracle_parity(spark, name):
    q = all_queries()[name]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


# --------------------------------------------------------------------------
# operator behavior
# --------------------------------------------------------------------------


def test_knn_bruteforce_orders_neighbors(spark, emb):
    res = knn_bruteforce(emb, k=2)
    top = {r["q_id"]: r["n_id"] for r in res.filter(F.col("rank") == 1).collect()}
    assert top[0] == 1  # nearest neighbor of e0 is the 0.9/0.1 vector
    assert top[1] == 0


def test_hyperplane_signs_deterministic():
    assert hyperplane_signs(0, 8) == hyperplane_signs(0, 8)
    assert set(hyperplane_signs(1, 64)) <= {-1, 1}


def test_lsh_buckets_and_knn(spark, emb):
    twin = emb.union(_emb_frame(spark, [(5, [1.0, 0.0, 0.0, 0.0])]))

    def buckets(planes):
        b = twin.select("vec_id", random_hyperplane_bucket("embedding", 4, planes).alias("b"))
        return {r["vec_id"]: r["b"] for r in b.collect()}

    six = buckets(6)
    assert all(len(b) == 6 for b in six.values())
    assert six[5] == six[0]  # identical vectors share a bucket by construction
    two = buckets(2)
    k = 2
    res = knn_lsh(twin, dim=4, k=k, num_planes=2).collect()
    for r in res:
        assert r["bucket"] == two[r["q_id"]] == two[r["n_id"]]
        assert 1 <= r["rank"] <= k
    top = {(r["q_id"], r["n_id"]) for r in res if r["rank"] == 1}
    assert {(0, 5), (5, 0)} <= top  # each twin is the other's nearest


# --- scale-parameterized LSH (round-2: adaptive re-split, multi-probe) ----


def test_planes_for_corpus_scaling():
    from multithreaded_map_reduce_library_spark.operators.similarity import (
        planes_for_corpus,
    )

    assert planes_for_corpus(10) == 4              # floor
    assert planes_for_corpus(64 * 2**10) == 10     # exact log2
    assert planes_for_corpus(64 * 2**30) == 24     # ceiling clamp
    # monotone non-decreasing in corpus size
    vals = [planes_for_corpus(n) for n in (100, 10_000, 1_000_000, 10**9)]
    assert vals == sorted(vals)


def test_adaptive_buckets_bound_fanout(spark):
    """Hot base buckets must re-split: max adaptive bucket strictly below
    max base bucket, and every re-split bucket extends its base prefix."""
    from multithreaded_map_reduce_library_spark.operators.similarity import (
        adaptive_hyperplane_buckets,
        random_hyperplane_bucket,
    )
    from multithreaded_map_reduce_library_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cap = 24
    base_max = (
        emb.select(random_hyperplane_bucket("embedding", 64, 4).alias("b"))
        .groupBy("b").count().agg(F.max("count")).collect()[0][0]
    )
    ad = adaptive_hyperplane_buckets(emb, 64, 4, 8, cap)
    ad_max = ad.groupBy("bucket").count().agg(F.max("count")).collect()[0][0]
    assert base_max > cap  # the corpus actually exercises the re-split
    assert ad_max < base_max
    # buckets are 4-bit or 8-bit codes only
    lens = {r[0] for r in ad.select(F.length("bucket")).distinct().collect()}
    assert lens <= {4, 8}


def test_multiprobe_recall_superset(spark):
    """Multi-probe candidates must contain every single-probe candidate
    (probe set includes the exact bucket), so recall can only improve."""
    from multithreaded_map_reduce_library_spark.operators.similarity import (
        knn_lsh,
        knn_lsh_multiprobe,
    )
    from multithreaded_map_reduce_library_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    single = knn_lsh(emb, dim=64, k=3, num_planes=8)
    single_pairs = {
        (r["q_id"], r["n_id"])
        for r in single.filter(F.col("q_id") < 10).collect()
    }
    multi = knn_lsh_multiprobe(emb, dim=64, k=1000, num_planes=8, num_queries=10)
    multi_pairs = {(r["q_id"], r["n_id"]) for r in multi.collect()}
    assert single_pairs <= multi_pairs
    assert len(multi_pairs) > len(single_pairs)  # probes add candidates


def test_ivf_nprobe2_superset_of_nprobe1(spark):
    """nprobe=2 candidates must contain every nprobe=1 candidate (the
    probe list includes the query's own cell), so recall only improves."""
    from multithreaded_map_reduce_library_spark.operators.similarity import (
        knn_ivf,
        knn_ivf_multiprobe,
    )
    from multithreaded_map_reduce_library_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    one = {
        (r["q_id"], r["n_id"])
        for r in knn_ivf(emb, stride=50, k=1000, num_queries=5).collect()
    }
    two = {
        (r["q_id"], r["n_id"])
        for r in knn_ivf_multiprobe(emb, stride=50, k=1000, nprobe=2, num_queries=5).collect()
    }
    assert one <= two
    assert len(two) > len(one)


def test_stride_for_corpus_sqrt_scaling():
    from multithreaded_map_reduce_library_spark.operators.similarity import (
        stride_for_corpus,
    )

    assert stride_for_corpus(100) == 16          # floor
    assert stride_for_corpus(1_000_000) == 1000  # sqrt
    vals = [stride_for_corpus(n) for n in (10**4, 10**6, 10**8)]
    assert vals == sorted(vals)
