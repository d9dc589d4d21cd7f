"""Pipeline batch 15: product quantization (PQ) — the compression format
of production billion-vector ANN (FAISS IVF-PQ): split each 64-dim
vector into M=4 subspaces of 16 dims, k-means each subspace to K=8
codewords, and store each vector as 4 code ids (4 bytes vs 256 — a 64x
shrink of what the ANN index shuffles and stores). Output: the per-
vector code assignment plus the packed code word.

Exactness: same regime as pipeline13 — vectors on the exact 2^20
integer grid (lossless for float32), codeword centroids as exact
(sum, count) BIGINT pairs, fold-ordered double distance comparisons,
ties to the lowest code id. Displayed columns are integers only.
The Lloyd helper here is the dim-parameterized generalization of
pipeline13's (kept separate so each query's verified lineage stands
alone; both share the module-level discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.plans.pipeline13 import (
    _KM_SCALE,
    quantized_vectors,
)
from multithreaded_map_reduce_library_spark.functions.grid import grid
from multithreaded_map_reduce_library_spark.functions.vectors import cosine
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_PQ_M = 4       # subspaces
_PQ_SUB = 16    # dims per subspace
_PQ_K = 8       # codewords per subspace
_PQ_ITERS = 2


def _lloyd_subspace(q: DataFrame, dim: int, k: int = _PQ_K, iters: int = _PQ_ITERS) -> DataFrame:
    """Lloyd assignments over (vec_id, v) with |v| = dim. Same exactness
    contract as pipeline13.lloyd_assignments, parameterized by dim."""
    cents = q.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cluster"),
        F.col("v").alias("s"),
        F.lit(1).cast("bigint").alias("n"),
    )

    def dist_expr():
        def term(i):
            d = (F.col("n") * F.element_at("v", i) - F.element_at("s", i)).cast("double")
            return d * d

        fold = F.aggregate(
            F.sequence(F.lit(1), F.lit(dim)), F.lit(0.0), lambda acc, i: acc + term(i)
        )
        return fold / (F.col("n") * F.col("n")).cast("double")

    assigned = None
    for _ in range(iters):
        # argmin as MIN(struct(dist, cluster)) — hash aggregate with
        # map-side combine, no sort; see pipeline13.lloyd_assignments.
        assigned = (
            q.crossJoin(F.broadcast(cents))
            .groupBy("vec_id")
            .agg(
                F.min(
                    F.struct(dist_expr().alias("d"), F.col("cluster").alias("cluster"))
                ).alias("best"),
                F.first("v").alias("v"),
            )
            .select("vec_id", "v", F.col("best.cluster").alias("cluster"))
        )
        cents = assigned.groupBy("cluster").agg(
            F.array(*[F.sum(F.element_at("v", i + 1)) for i in range(dim)]).alias("s"),
            F.count("*").alias("n"),
        )
    return assigned


def _duck_pq_oracle() -> str:
    dist = (
        "(list_reduce(list_prepend(0.0, list_transform(range({dim}), i -> "
        "CAST(c.n * q.v[i + 1] - c.s[i + 1] AS DOUBLE)"
        " * CAST(c.n * q.v[i + 1] - c.s[i + 1] AS DOUBLE))), (a, b) -> a + b)"
        " / CAST(c.n * c.n AS DOUBLE))"
    ).format(dim=_PQ_SUB)
    sums = ", ".join(f"SUM(v[{i + 1}])" for i in range(_PQ_SUB))
    ctes = [
        f"""qv AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT)) AS fv
            FROM embeddings
        )"""
    ]
    for m in range(_PQ_M):
        lo, hi = m * _PQ_SUB + 1, (m + 1) * _PQ_SUB
        ctes.append(f"q{m} AS (SELECT vec_id, list_slice(fv, {lo}, {hi}) AS v FROM qv)")
        ctes.append(
            f"""c0_{m} AS (
                SELECT vec_id AS cluster, v AS s, CAST(1 AS BIGINT) AS n
                FROM q{m} WHERE vec_id < {_PQ_K}
            )"""
        )
        prev = f"c0_{m}"
        for it in range(1, _PQ_ITERS + 1):
            ctes.append(
                f"""a{it}_{m} AS (
                    SELECT vec_id, v, cluster FROM (
                        SELECT q.vec_id, q.v, c.cluster,
                               row_number() OVER (PARTITION BY q.vec_id
                                   ORDER BY {dist}, c.cluster) AS rn
                        FROM q{m} q CROSS JOIN {prev} c
                    ) WHERE rn = 1
                )"""
            )
            ctes.append(
                f"""c{it}_{m} AS (
                    SELECT cluster, [{sums}] AS s, COUNT(*) AS n
                    FROM a{it}_{m} GROUP BY cluster
                )"""
            )
            prev = f"c{it}_{m}"
    joins = " ".join(
        f"JOIN a{_PQ_ITERS}_{m} t{m} USING (vec_id)" for m in range(1, _PQ_M)
    )
    packed = " + ".join(f"t{m}.cluster * {(_PQ_K ** m)}" for m in range(_PQ_M))
    cols = ", ".join(f"t{m}.cluster AS c{m}" for m in range(_PQ_M))
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT vec_id, {cols}, CAST({packed} AS BIGINT) AS code
        FROM a{_PQ_ITERS}_0 t0 {joins}
    """
    )


def _pq_codes_and_books(emb: DataFrame):
    """(codes df with c0..c{M-1}, list of per-subspace codebooks
    (cluster, s, n)) — the trained PQ state both queries share."""
    fv = quantized_vectors(emb).withColumnRenamed("v", "fv")
    codes, books = None, []
    for m in range(_PQ_M):
        sub = fv.select("vec_id", F.slice("fv", m * _PQ_SUB + 1, _PQ_SUB).alias("v"))
        a = _lloyd_subspace(sub, _PQ_SUB)
        books.append(
            a.groupBy("cluster").agg(
                F.array(*[F.sum(F.element_at("v", i + 1)) for i in range(_PQ_SUB)]).alias("s"),
                F.count("*").alias("n"),
            )
        )
        am = a.select("vec_id", F.col("cluster").alias(f"c{m}"))
        codes = am if codes is None else codes.join(am, "vec_id")
    return fv, codes, books


@register(
    "embedding_pq_codebook",
    oracle=_duck_pq_oracle(),
    tags=("ml", "quantization", "pq", "ann", "embeddings"),
)
def embedding_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: 4 independent 16-dim Lloyd codebooks (K=8,
    2 iterations each) assign every vector a 4-id code, packed into one
    12-bit word — the storage/compute format of billion-scale ANN
    (IVF-PQ): distance tables are computed per subspace against 8
    codewords instead of per full vector, and the index stores 4 bytes
    per vector instead of 256.

    Scale design: the four subspace trainings are INDEPENDENT dataflows
    over column slices of one scan (Spark runs them as parallel stages;
    nothing serializes them); each has pipeline13's shape — broadcast
    codewords, skinny sum shuffles. The final code join is 4 skinny
    (vec_id, cluster) relations equi-joined on vec_id. At 100 TB you
    train on a sample and only the assignment pass (one broadcast per
    subspace) touches the full corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    fv = quantized_vectors(emb).withColumnRenamed("v", "fv")
    out = None
    for m in range(_PQ_M):
        sub = fv.select(
            "vec_id", F.slice("fv", m * _PQ_SUB + 1, _PQ_SUB).alias("v")
        )
        a = _lloyd_subspace(sub, _PQ_SUB).select(
            "vec_id", F.col("cluster").alias(f"c{m}")
        )
        out = a if out is None else out.join(a, "vec_id")
    packed = sum(
        (F.col(f"c{m}") * (_PQ_K ** m) for m in range(1, _PQ_M)),
        F.col("c0"),
    )
    return out.select(
        "vec_id", *[f"c{m}" for m in range(_PQ_M)], packed.cast("bigint").alias("code")
    )


_ADC_Q = 10
_ADC_K = 3
# normalize squared grid distances back to embedding units: (2^20)^2
_ADC_NORM = float(1 << 40)


def _duck_adc_oracle() -> str:
    base = _duck_pq_oracle()
    with_block = base[: base.rindex("SELECT vec_id,")]
    dist = (
        "(list_reduce(list_prepend(0.0, list_transform(range({dim}), i -> "
        "CAST(c.n * q.v[i + 1] - c.s[i + 1] AS DOUBLE)"
        " * CAST(c.n * q.v[i + 1] - c.s[i + 1] AS DOUBLE))), (a, b) -> a + b)"
        " / CAST(c.n * c.n AS DOUBLE))"
    ).format(dim=_PQ_SUB)
    extra = []
    for m in range(_PQ_M):
        lo, hi = m * _PQ_SUB + 1, (m + 1) * _PQ_SUB
        extra.append(
            f"""qs{m} AS (
                SELECT vec_id AS q_id, list_slice(fv, {lo}, {hi}) AS v
                FROM qv WHERE vec_id < {_ADC_Q}
            )"""
        )
        extra.append(
            f"""dt{m} AS (
                SELECT q.q_id, c.cluster, {dist} AS d
                FROM qs{m} q CROSS JOIN c{_PQ_ITERS}_{m} c
            )"""
        )
    code_joins = " ".join(
        f"JOIN a{_PQ_ITERS}_{m} t{m} USING (vec_id)" for m in range(1, _PQ_M)
    )
    dt_joins = " ".join(
        f"JOIN dt{m} ON dt{m}.q_id = dt0.q_id AND dt{m}.cluster = x.cl{m}"
        for m in range(1, _PQ_M)
    )
    dsum = " + ".join(f"dt{m}.d" for m in range(_PQ_M))
    return (
        with_block
        + ",\n"
        + ",\n".join(extra)
        + f""",
        codes AS (SELECT vec_id, {", ".join(f"t{m}.cluster AS cl{m}" for m in range(_PQ_M))}
                  FROM a{_PQ_ITERS}_0 t0 {code_joins}),
        pairs AS (
            SELECT dt0.q_id, x.vec_id AS n_id, ({dsum}) / {_ADC_NORM} AS ad
            FROM codes x
            JOIN dt0 ON dt0.cluster = x.cl0
            {dt_joins}
            WHERE x.vec_id <> dt0.q_id
        ),
        r AS (
            SELECT q_id, n_id, ad,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY ad ASC, n_id ASC) AS BIGINT) AS rank
            FROM pairs
        )
        SELECT q_id, n_id, rank, CAST(FLOOR(ad * 1000000.0 + 0.5) AS BIGINT) AS ad_e6
        FROM r WHERE rank <= {_ADC_K}
    """
    )


@register(
    "ann_adc_pq",
    oracle=_duck_adc_oracle(),
    tags=("similarity", "ann", "pq", "adc", "ml", "embeddings"),
)
def ann_adc_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric distance computation (ADC) — the query side of IVF-PQ:
    each query builds a tiny distance table per subspace (8 codeword
    distances), and every corpus vector's approximate distance is FOUR
    TABLE LOOKUPS summed (its PQ code indexes the tables) instead of a
    64-dim dot product. Top-3 per query by approximate distance.

    Scale design: the distance tables are q x K x M = 320 doubles —
    broadcast; the corpus side touches ONLY the 4-byte codes (never the
    vectors), which is the 64x shuffle/scan shrink PQ exists for. The
    lookup joins are broadcast hash joins on (q_id, codeword). Exactness:
    table entries are the pipeline13 fold-ordered double distances;
    the 4-term sum is fixed-order; ranks tie-break on n_id."""
    emb = load_table(spark, sf_dir, "embeddings")
    fv, codes, books = _pq_codes_and_books(emb)

    def dist_fold(dim):
        def term(i):
            d = (F.col("n") * F.element_at("v", i) - F.element_at("s", i)).cast("double")
            return d * d

        fold = F.aggregate(
            F.sequence(F.lit(1), F.lit(dim)), F.lit(0.0), lambda acc, i: acc + term(i)
        )
        return fold / (F.col("n") * F.col("n")).cast("double")

    pairs = codes
    dcols = []
    for m in range(_PQ_M):
        qs = fv.filter(F.col("vec_id") < _ADC_Q).select(
            F.col("vec_id").alias("q_id"),
            F.slice("fv", m * _PQ_SUB + 1, _PQ_SUB).alias("v"),
        )
        dt = qs.crossJoin(F.broadcast(books[m])).select(
            "q_id", F.col("cluster").alias(f"c{m}"), dist_fold(_PQ_SUB).alias(f"d{m}")
        )
        join_on = [f"c{m}"] if m == 0 else ["q_id", f"c{m}"]
        pairs = pairs.join(F.broadcast(dt), join_on)
        dcols.append(F.col(f"d{m}"))
    ad = (
        sum(dcols[1:], dcols[0]) / F.lit(_ADC_NORM)
    )
    scored = pairs.filter(F.col("vec_id") != F.col("q_id")).select(
        "q_id", F.col("vec_id").alias("n_id"), ad.alias("ad")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("ad").asc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _ADC_K)
        .select("q_id", "n_id", "rank", grid(F.col("ad"), 6).alias("ad_e6"))
    )


def _duck_ivfpq_oracle() -> str:
    """Compose the full-vector k-means cells (pipeline13's CTE chain,
    names q/c0/a1../aN — disjoint from the PQ chain's qv/q{m}/c{it}_{m})
    with the PQ codebooks and per-query ADC tables, probing only the
    query's own cell — the FAISS IVFPQ layout end to end."""
    from multithreaded_map_reduce_library_spark.plans.pipeline13 import (
        _duck_kmeans_sql,
        _KM_ITERS,
    )

    pq = _duck_pq_oracle()
    pq_block = pq[pq.index("WITH ") + 5 : pq.rindex("SELECT vec_id,")].rstrip().rstrip("\n")
    km = _duck_kmeans_sql(_KM_ITERS)
    km_block = km[km.index("WITH ") + 5 : km.rindex("SELECT cluster, COUNT(*)")].rstrip().rstrip("\n")
    dist = (
        "(list_reduce(list_prepend(0.0, list_transform(range({dim}), i -> "
        "CAST(c.n * q.v[i + 1] - c.s[i + 1] AS DOUBLE)"
        " * CAST(c.n * q.v[i + 1] - c.s[i + 1] AS DOUBLE))), (a, b) -> a + b)"
        " / CAST(c.n * c.n AS DOUBLE))"
    ).format(dim=_PQ_SUB)
    extra = [
        f"cells AS (SELECT vec_id, cluster AS cell FROM a{_KM_ITERS})",
        "codes AS (SELECT vec_id, "
        + ", ".join(f"t{m}.cluster AS cl{m}" for m in range(_PQ_M))
        + f" FROM a{_PQ_ITERS}_0 t0 "
        + " ".join(f"JOIN a{_PQ_ITERS}_{m} t{m} USING (vec_id)" for m in range(1, _PQ_M))
        + ")",
        f"qmeta AS (SELECT vec_id AS q_id, cell FROM cells WHERE vec_id < {_ADC_Q})",
    ]
    for m in range(_PQ_M):
        lo, hi = m * _PQ_SUB + 1, (m + 1) * _PQ_SUB
        extra.append(
            f"qs{m} AS (SELECT vec_id AS q_id, list_slice(fv, {lo}, {hi}) AS v "
            f"FROM qv WHERE vec_id < {_ADC_Q})"
        )
        extra.append(
            f"dt{m} AS (SELECT q.q_id, c.cluster, {dist} AS d "
            f"FROM qs{m} q CROSS JOIN c{_PQ_ITERS}_{m} c)"
        )
    dsum = " + ".join(f"dt{m}.d" for m in range(_PQ_M))
    dt_joins = " ".join(
        f"JOIN dt{m} ON dt{m}.q_id = qm.q_id AND dt{m}.cluster = x.cl{m}"
        for m in range(_PQ_M)
    )
    return (
        "WITH "
        + pq_block
        + ",\n"
        + km_block
        + ",\n"
        + ",\n".join(extra)
        + f""",
        pairs AS (
            SELECT qm.q_id, x.vec_id AS n_id, qm.cell,
                   ({dsum}) / {_ADC_NORM} AS ad
            FROM qmeta qm
            JOIN cells xc ON xc.cell = qm.cell
            JOIN codes x ON x.vec_id = xc.vec_id AND x.vec_id <> qm.q_id
            {dt_joins}
        ),
        r AS (
            SELECT q_id, n_id, cell, ad,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY ad ASC, n_id ASC) AS BIGINT) AS rank
            FROM pairs
        )
        SELECT q_id, n_id, cell, rank, CAST(FLOOR(ad * 1000000.0 + 0.5) AS BIGINT) AS ad_e6
        FROM r WHERE rank <= {_ADC_K}
    """
    )


@register(
    "ann_ivfpq",
    oracle=_duck_ivfpq_oracle(),
    tags=("similarity", "ann", "ivf", "pq", "adc", "ml", "embeddings"),
)
def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production billion-vector ANN layout end to end:
    a full-vector k-means coarse quantizer partitions the corpus into
    cells (the inverted lists), PQ codes compress every vector to 12
    bits, and a query probes ONLY its own cell, ranking members by ADC
    table lookups over the codes. Composes `kmeans_lloyd_embeddings`
    (coarse cells) + `embedding_pq_codebook` (codes) + `ann_adc_pq`
    (distance tables), all oracle-verified pieces.

    Scale design: at query time the corpus contributes 4-byte codes in
    one cell — scan cost is |cell| code lookups, no vector touched; the
    cell equi-join is the bucketed-at-rest layout. Training (k-means +
    4 subspace codebooks) is the same broadcast-centroid shape as the
    component queries. At 100 TB: sqrt-n coarse cells, nprobe>1, PQ
    re-rank refined by exact distances on the short list — each knob
    demonstrated in a sibling query."""
    emb = load_table(spark, sf_dir, "embeddings")
    from multithreaded_map_reduce_library_spark.plans.pipeline13 import (
        lloyd_assignments,
        quantized_vectors,
    )

    cells = lloyd_assignments(quantized_vectors(emb)).select(
        "vec_id", F.col("cluster").alias("cell")
    )
    fv, codes, books = _pq_codes_and_books(emb)

    def dist_fold(dim):
        def term(i):
            d = (F.col("n") * F.element_at("v", i) - F.element_at("s", i)).cast("double")
            return d * d

        fold = F.aggregate(
            F.sequence(F.lit(1), F.lit(dim)), F.lit(0.0), lambda acc, i: acc + term(i)
        )
        return fold / (F.col("n") * F.col("n")).cast("double")

    qmeta = cells.filter(F.col("vec_id") < _ADC_Q).select(
        F.col("vec_id").alias("q_id"), "cell"
    )
    pairs = codes.join(cells, "vec_id").join(
        F.broadcast(qmeta), "cell"
    ).filter(F.col("vec_id") != F.col("q_id"))
    dcols = []
    for m in range(_PQ_M):
        qs = fv.filter(F.col("vec_id") < _ADC_Q).select(
            F.col("vec_id").alias("q_id"),
            F.slice("fv", m * _PQ_SUB + 1, _PQ_SUB).alias("v"),
        )
        dt = qs.crossJoin(F.broadcast(books[m])).select(
            "q_id", F.col("cluster").alias(f"c{m}"), dist_fold(_PQ_SUB).alias(f"d{m}")
        )
        pairs = pairs.join(F.broadcast(dt), ["q_id", f"c{m}"])
        dcols.append(F.col(f"d{m}"))
    ad = sum(dcols[1:], dcols[0]) / F.lit(_ADC_NORM)
    scored = pairs.select(
        "q_id", F.col("vec_id").alias("n_id"), "cell", ad.alias("ad")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("ad").asc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _ADC_K)
        .select("q_id", "n_id", "cell", "rank", grid(F.col("ad"), 6).alias("ad_e6"))
    )


_RERANK_SHORTLIST = 10


def _duck_ivfpq_rerank_oracle() -> str:
    base = _duck_ivfpq_oracle()
    with_block = base[: base.rindex("SELECT q_id, n_id, cell,")]

    def dot(a: str, b: str) -> str:
        return " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(1, 65))

    return (
        with_block.rstrip().rstrip(",")
        + f""",
        shortlist AS (
            SELECT q_id, n_id FROM r WHERE rank <= {_RERANK_SHORTLIST}
        ),
        ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        exact AS (
            SELECT s.q_id, s.n_id,
                   ({dot("qe.v", "ne.v")})
                   / (sqrt({dot("qe.v", "qe.v")}) * sqrt({dot("ne.v", "ne.v")})) AS sim
            FROM shortlist s
            JOIN ev qe ON qe.vec_id = s.q_id
            JOIN ev ne ON ne.vec_id = s.n_id
        ),
        rr AS (
            SELECT q_id, n_id, sim,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY sim DESC, n_id ASC) AS BIGINT) AS rank
            FROM exact
        )
        SELECT q_id, n_id, rank, CAST(FLOOR(sim * 1000000.0 + 0.5) AS BIGINT) AS sim_e6
        FROM rr WHERE rank <= {_ADC_K}
    """
    )


@register(
    "ann_ivfpq_rerank",
    oracle=_duck_ivfpq_rerank_oracle(),
    tags=("similarity", "ann", "ivf", "pq", "rerank", "ml", "embeddings"),
)
def ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the production pattern that makes PQ's
    lossy distances safe: stage 1 scans only 4-byte codes in the query's
    coarse cell and keeps an ADC top-10 shortlist; stage 2 fetches the
    ORIGINAL vectors for just those 10 candidates and re-ranks by exact
    cosine (left-fold discipline), returning the top-3. Recall comes
    from the cheap wide stage, precision from the expensive narrow one.

    Scale design: stage 2's vector fetch is a 10-rows-per-query id join
    against the at-rest corpus — the only point where full vectors are
    read at query time, and it is shortlist-sized regardless of corpus
    size. Everything upstream is the verified `ann_ivfpq` plan."""
    # Stage 1: the composed IVF-PQ plan, widened to a top-10 shortlist.
    emb = load_table(spark, sf_dir, "embeddings")
    from multithreaded_map_reduce_library_spark.plans.pipeline13 import (
        lloyd_assignments,
        quantized_vectors,
    )

    cells = lloyd_assignments(quantized_vectors(emb)).select(
        "vec_id", F.col("cluster").alias("cell")
    )
    fv, codes, books = _pq_codes_and_books(emb)

    def dist_fold(dim):
        def term(i):
            d = (F.col("n") * F.element_at("v", i) - F.element_at("s", i)).cast("double")
            return d * d

        fold = F.aggregate(
            F.sequence(F.lit(1), F.lit(dim)), F.lit(0.0), lambda acc, i: acc + term(i)
        )
        return fold / (F.col("n") * F.col("n")).cast("double")

    qmeta = cells.filter(F.col("vec_id") < _ADC_Q).select(
        F.col("vec_id").alias("q_id"), "cell"
    )
    pairs = codes.join(cells, "vec_id").join(
        F.broadcast(qmeta), "cell"
    ).filter(F.col("vec_id") != F.col("q_id"))
    dcols = []
    for m in range(_PQ_M):
        qs = fv.filter(F.col("vec_id") < _ADC_Q).select(
            F.col("vec_id").alias("q_id"),
            F.slice("fv", m * _PQ_SUB + 1, _PQ_SUB).alias("v"),
        )
        dt = qs.crossJoin(F.broadcast(books[m])).select(
            "q_id", F.col("cluster").alias(f"c{m}"), dist_fold(_PQ_SUB).alias(f"d{m}")
        )
        pairs = pairs.join(F.broadcast(dt), ["q_id", f"c{m}"])
        dcols.append(F.col(f"d{m}"))
    ad = sum(dcols[1:], dcols[0]) / F.lit(_ADC_NORM)
    w1 = Window.partitionBy("q_id").orderBy(ad.asc(), F.col("vec_id").asc())
    shortlist = (
        pairs.withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= _RERANK_SHORTLIST)
        .select("q_id", F.col("vec_id").alias("n_id"))
    )

    # Stage 2: exact cosine on the shortlist only.
    qe = emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    ne = emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv"))
    exact = (
        shortlist.join(qe, "q_id")
        .join(ne, "n_id")
        .select("q_id", "n_id", cosine("qv", "nv").alias("sim"))
    )
    w2 = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return (
        exact.withColumn("rank", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rank") <= _ADC_K)
        .select("q_id", "n_id", "rank", grid(F.col("sim"), 6).alias("sim_e6"))
    )
