"""Pipeline batch 65: b-bit MinHash (Li & König, "b-Bit Minwise
Hashing", WWW 2010) — the storage-optimal variant of the MinHash sketch
where each signature component keeps only its lowest b bits, trading a
known variance increase for a 64/b compression of sketch storage.

At 100 TB the sketch table itself is a first-order cost (16 x 8 bytes
per doc across billions of docs); 1-bit minwise hashing cuts it 64x and
the unbiased estimator Ĵ = 2*A - 1 (A = agreement fraction; for
dissimilar pairs A ≈ 1/2 by chance) recovers Jaccard. This query audits
that trade on the production candidate pairs: full-width agreement vs
1-bit agreement vs both estimators, all exact integers on the _e6 grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.grid import (
    duck_int_ratio,
    int_ratio,
)
from multithreaded_map_reduce_library_spark.operators import dedup as D
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_K = 16  # signature width (shared with the production LSH path)


def _bbit_oracle() -> str:
    from multithreaded_map_reduce_library_spark.plans.pipeline import (
        _duck_band_exprs,
        _duck_minhash_sig_cte,
    )

    full_eq = " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(_K)
    )
    bit_eq = " + ".join(
        f"CASE WHEN sa.m{i} % 2 = sb.m{i} % 2 THEN 1 ELSE 0 END" for i in range(_K)
    )
    return f"""
        WITH {_duck_minhash_sig_cte()},
        bands AS (SELECT doc_id, unnest({_duck_band_exprs()}) AS band_key FROM sig),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM bands a JOIN bands b
                   ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        x AS (SELECT cand.id_a, cand.id_b,
                     ({full_eq}) AS n_agree_full,
                     ({bit_eq}) AS n_agree_b1
              FROM cand
              JOIN sig sa ON sa.doc_id = cand.id_a
              JOIN sig sb ON sb.doc_id = cand.id_b)
        SELECT id_a, id_b,
               CAST(n_agree_full AS BIGINT) AS n_agree_full,
               CAST(n_agree_b1 AS BIGINT) AS n_agree_b1,
               {duck_int_ratio('n_agree_full', str(_K), 6)} AS est_full_e6,
               {duck_int_ratio('GREATEST(2 * n_agree_b1 - ' + str(_K) + ', 0)', str(_K), 6)}
                   AS est_b1_e6
        FROM x
    """


@register(
    "bbit_minhash_agreement",
    oracle=_bbit_oracle(),
    tags=("dedup", "minhash", "bbit", "sketch", "evaluation"),
)
def bbit_minhash_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit minwise hashing audit over the production LSH candidate
    pairs: per pair, the full-width agreement count (the k=16 MinHash
    estimate numerator), the lowest-bit agreement count, and both
    Jaccard estimators — Ĵ_full = agree/k and the b-bit unbiased
    Ĵ_b1 = max(2*A/k − 1, 0) (clamped at 0: chance agreement of
    unrelated pairs is 1/2). Comparing est_full_e6 with est_b1_e6 per
    pair is exactly the measurement that justifies shipping 1-bit
    sketches (64x smaller sketch state) at corpus scale.

    Scale design: signatures come from the same map-side UDF as
    `minhash_signatures`; candidates come from the banded LSH shuffle
    (never all-pairs); the agreement computation is a candidate-sized
    join of two 16-int arrays — integer codegen, no Python. The b-bit
    representation itself would ship as 16 BITS per doc where the
    full sketch ships 16 int64s."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = docs.select("doc_id", D.minhash_signature(3, _K)("text").alias("sig"))
    cand = D.minhash_lsh_pairs(docs, num_hashes=_K, bands=4, shingle_n=3)
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    j = cand.join(sa, "id_a").join(sb, "id_b")

    def agree(bit: bool):
        terms = None
        for i in range(_K):
            a = F.element_at("sig_a", i + 1)
            b = F.element_at("sig_b", i + 1)
            if bit:
                a, b = a % 2, b % 2
            t = F.when(a == b, F.lit(1)).otherwise(F.lit(0))
            terms = t if terms is None else terms + t
        return terms

    x = j.select(
        "id_a",
        "id_b",
        agree(False).cast("bigint").alias("n_agree_full"),
        agree(True).cast("bigint").alias("n_agree_b1"),
    )
    return x.select(
        "id_a",
        "id_b",
        "n_agree_full",
        "n_agree_b1",
        int_ratio(F.col("n_agree_full"), F.lit(_K), 6).alias("est_full_e6"),
        int_ratio(
            F.greatest(F.lit(2) * F.col("n_agree_b1") - F.lit(_K), F.lit(0)),
            F.lit(_K),
            6,
        ).alias("est_b1_e6"),
    )
