"""Deduplication operators for a 100 TB training-data pipeline.

Every sketch kernel here is an Arrow-batched pandas UDF over one shingle
definition: :func:`~multithreaded_map_reduce_library_spark.functions.text.split_tokens`
tokenizes and :func:`~multithreaded_map_reduce_library_spark.functions.text.shingle_h32`
hashes word n-grams to ``int(md5[:8], 16)``. Hashes are md5 and the rest is
integer arithmetic, so the DuckDB oracles replay each sketch exactly.

- **Exact** (:func:`exact_dedup_groups`): hash-groupBy on md5(text). One
  shuffle, map-side partial agg; the standard first pass.
- **MinHash + LSH banding** (Broder 1997; :func:`minhash_signature`,
  :func:`lsh_band_keys`, :func:`minhash_lsh_pairs`): the signature is
  ``MIN over shingles of (a_i*h + b_i) mod P`` for the public
  :func:`mh_params` family; building it is map-side, only candidate-pair
  generation shuffles, keyed on the JVM band hash.
- **SimHash** (:func:`simhash_pandas_udf`): 64-bit near-dup fingerprint;
  per-bit majority over the document's distinct-token md5 bits.
- **Winnowing** (Schleimer et al., SIGMOD 2003;
  :func:`winnowing_stats_pandas_udf`): sliding-window minima over the
  shingle hashes.
- **N-gram Jaccard** (plans/pipeline.py): exact pairwise verification over
  shingle joins — used to confirm LSH candidates.

The reference has no dedup (SURVEY.md §2.2); these are the driver-mandated
pipeline extensions.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd  # module-level so pandas-UDF type hints resolve

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.text import (
    shingle_h32,
    split_tokens,
)
from multithreaded_map_reduce_library_spark.sources.catalog import spread


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: md5(text) -> (hash, representative id, count).

    Keep-policy: lowest id wins (deterministic). At scale this is one
    hash-shuffle on a 32-char key with map-side combine.
    """
    return df.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies")
    )


#: Prime > 2^32 for the (a*h + b) mod p universal hash family.
MH_PRIME = 4294967311


def mh_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for hash-family member ``i`` — derived from
    public md5 so any engine reproduces them. a is capped at 2^30 so
    a*h + b < 2^63 (h < 2^32): no 64-bit overflow in Spark OR DuckDB
    (whose BIGINT errors on overflow instead of wrapping)."""
    a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:8], 16) % (2**30) + 1
    b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:8], 16) % MH_PRIME
    return a, b


def minhash_signature(shingle_n: int = 3, num_hashes: int = 16):
    """pandas UDF: text -> MinHash signature as ``array<bigint>`` of length
    ``num_hashes``, ``sig[i] = MIN over shingles of (a_i * h + b_i) mod P``
    over the :func:`shingle_h32` hashes — one md5 per shingle, then one
    vectorized NumPy min-reduction per batch row. A text with no tokens has
    no shingle hash and gets a null signature (the oracles' NULL minima).
    """
    from pyspark.sql.functions import pandas_udf

    ab = [mh_params(i) for i in range(num_hashes)]
    a_arr = np.array([a for a, _ in ab], dtype=np.int64)[:, None]
    b_arr = np.array([b for _, b in ab], dtype=np.int64)[:, None]

    @pandas_udf("array<bigint>")
    def signature(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            h = shingle_h32(text, shingle_n)
            out.append(((a_arr * h + b_arr) % MH_PRIME).min(axis=1) if h.size else None)
        return pd.Series(out)

    return signature


def lsh_band_keys(sig: Column, bands: int = 4, rows: int = 4) -> Column:
    """LSH banding: array of ``bands`` bucket keys, each the md5 of one
    band's slice of the (bigint) signature rendered as decimal CSV. Two
    docs sharing any band key are candidate near-duplicates."""
    return F.array(
        *[
            F.md5(
                F.concat(
                    F.lit(f"band{b}|"),
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(sig, b * rows + 1, rows), lambda x: x.cast("string")
                        ),
                    ),
                )
            )
            for b in range(bands)
        ]
    )


def minhash_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
) -> DataFrame:
    """(doc, band_key) rows: one row per document per LSH band — the
    :func:`minhash_signature` UDF, then the JVM :func:`lsh_band_keys`, then
    explode. The signature goes through its own projection so the four band
    slices read one materialized array, over a scan dealt across the cores
    when the table has fewer row groups than cores
    (:func:`~multithreaded_map_reduce_library_spark.sources.catalog.spread`)."""
    sig = minhash_signature(shingle_n, num_hashes)
    signed = spread(df).select(F.col(id_col).alias("doc"), sig(text_col).alias("_sig"))
    return signed.select(
        "doc", F.explode(lsh_band_keys(F.col("_sig"), bands, num_hashes // bands)).alias("band_key")
    ).distinct()


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    band_cap: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from MinHash-LSH banding.

    Plan shape at scale: map-side signature -> explode bands (x4 rows, tiny)
    -> shuffle on band key -> within-bucket self-join. No all-pairs cross
    join anywhere. The banded side is (doc_id, band_key) only — 2 narrow
    columns regardless of document size, so the self-join shuffles a tiny
    projection of the corpus, never the text.

    ``band_cap`` is the HOT-BUCKET cap (the O(n^2)-per-bucket guard the
    round-1 SCALING.md promised): within each band key only the ``cap``
    lowest doc ids participate in pair generation. A band key shared by
    millions of boilerplate documents otherwise produces a quadratic pair
    set on one shuffle partition; the cap bounds every bucket's fan-out at
    cap*(cap-1)/2 pairs. Deterministic (ordered by doc id), so the SQL
    oracle reproduces the exact candidate set. The ROW_NUMBER shuffles on
    the same band_key as the self-join, so AQE reuses the partitioning.
    """
    banded = minhash_banded(df, text_col, id_col, num_hashes, bands, shingle_n)
    if band_cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band_key").orderBy(F.asc("doc"))
        banded = (
            banded.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= band_cap)
            .drop("_rn")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over an undirected edge list (id_a, id_b) by
    iterative min-label propagation: each vertex repeatedly adopts the
    minimum label among itself and its neighbors until fixpoint.

    This is the dedup *clustering* step: LSH candidate pairs are edges,
    components are duplicate groups, and min(doc_id) is the canonical
    representative. Each iteration is fully distributed (join + groupBy on
    the edge key); the driver only checks convergence. Iterations are
    bounded by the graph diameter — near-dup graphs are shallow (clusters
    are cliques-ish), so this converges in a handful of rounds; at true
    100 TB scale you'd switch to the large-star/small-star rewrite
    (Kiveris et al., "Connected Components in MapReduce and Beyond") which
    squares the diameter away. localCheckpoint truncates lineage per
    round so plans don't grow with the iteration count.
    """
    both = edges.selectExpr("id_a AS u", "id_b AS v").union(
        edges.selectExpr("id_b AS u", "id_a AS v")
    )
    both = both.localCheckpoint()
    labels = both.select(F.col("u").alias("doc")).distinct().withColumn(
        "lbl", F.col("doc")
    )
    for _ in range(max_iter):
        nbr_min = (
            both.join(labels, both.v == labels.doc)
            .groupBy(F.col("u").alias("doc"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = (
            labels.join(nbr_min, "doc", "left")
            .select(
                "doc",
                F.least(F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))).alias(
                    "lbl"
                ),
            )
            .localCheckpoint()
        )
        n_changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if n_changed == 0:
            break
    return labels.select("doc", F.col("lbl").alias("cluster"))


def connected_components_star(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the 100 TB replacement for plain min-label propagation
    (:func:`connected_components`), whose round count is bounded by the
    graph DIAMETER. Star rounds contract paths doubly-exponentially-ish
    (O(log^2 n) rounds in the worst case, ~log n in practice), so a
    million-node duplicate chain converges in a dozen rounds instead of a
    million.

    large-star(u): every neighbor v > u is re-pointed at
    m = min(neighbors(u) + {u}).
    small-star(u, over edges directed larger->smaller): every smaller
    neighbor and u itself re-point at the minimum smaller neighbor.
    Both are one groupBy (min) + one join per round, all on the node key
    — fully distributed, no driver state beyond the convergence counter.
    The fixpoint is a forest of stars: every node points directly at its
    component's minimum id, which is the same canonical labeling
    min-label propagation produces (tests assert equality on the LSH
    graph and on an adversarial long chain).
    """
    # Canonical undirected edge set, self-loops dropped.
    e = (
        edges.select(
            F.least("id_a", "id_b").alias("v"), F.greatest("id_a", "id_b").alias("u")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    vertices = (
        e.select(F.col("u").alias("doc"))
        .union(e.select(F.col("v").alias("doc")))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # --- large-star: neighbors in both directions ---
        both = e.selectExpr("u", "v").union(e.selectExpr("v AS u", "u AS v"))
        mins = both.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
        large = (
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        # --- small-star over larger->smaller direction ---
        dire = (
            large.select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        mins_s = dire.groupBy("u").agg(F.min("v").alias("m"))
        joined = dire.join(mins_s, "u")
        small = (
            joined.select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(joined.select(F.col("u").alias("a"), F.col("m").alias("b")))
        )
        e_new = (
            small.select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        changed = (
            e_new.exceptAll(e).limit(1).count() + e.exceptAll(e_new).limit(1).count()
        )
        e = e_new
        if changed == 0:
            break
    # Fixpoint: e is a star forest (u -> component min). Roots self-label.
    # groupBy-min guards the (max_iter hit, not yet a forest) case where a
    # node could still carry two outgoing edges.
    stars = e.groupBy(F.col("u").alias("doc")).agg(F.min("v").alias("cluster"))
    return (
        vertices.join(stars, "doc", "left")
        .select("doc", F.coalesce(F.col("cluster"), F.col("doc")).alias("cluster"))
    )


def simhash_pandas_udf(nbits: int = 64):
    """pandas UDF: text -> ``nbits``-bit SimHash as a '0'/'1' string. Bit b
    is 1 when at least half of the document's distinct tokens have bit b of
    their md5 set (weight 1 per token; a documented divergence from
    tf-weighted variants). A text with no tokens gets null."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def simhash(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            toks = set(split_tokens(text))
            if not toks:
                out.append(None)
                continue
            digests = b"".join(hashlib.md5(t.encode("utf-8")).digest() for t in toks)
            bits = np.unpackbits(np.frombuffer(digests, dtype=np.uint8).reshape(-1, 16), axis=1)
            maj = bits[:, :nbits].sum(axis=0, dtype=np.int64) * 2 >= len(toks)
            out.append("".join("1" if x else "0" for x in maj))
        return pd.Series(out)

    return simhash


def winnowing_stats_pandas_udf(shingle_n: int = 3, window: int = 4):
    """pandas UDF: text -> struct<m, nf>, the shingle count and the number of
    distinct winnowing fingerprints (the minimum :func:`shingle_h32` hash of
    each run of ``window`` consecutive shingles; 0 when m < window). The
    minima are one ``np.minimum.reduce`` over ``window`` shifted views.

    m follows the oracle's shingle list: a text with no tokens still counts
    its one NULL shingle (m = 1), and a null text has a null count."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<m: bigint, nf: bigint>")
    def stats(texts: pd.Series) -> pd.DataFrame:
        ms, nfs = [], []
        for text in texts:
            h = shingle_h32(text, shingle_n)
            m = h.size
            ms.append(None if text is None else max(m, 1))
            if m < window:
                nfs.append(0)
                continue
            mins = np.minimum.reduce([h[k : m - window + 1 + k] for k in range(window)])
            nfs.append(int(np.unique(mins).size))
        return pd.DataFrame({"m": pd.Series(ms, dtype="Int64"), "nf": nfs})

    return stats
