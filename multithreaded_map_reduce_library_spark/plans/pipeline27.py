"""Pipeline batch 27: training-data generation and selection —
skip-gram context pairs (the word2vec/embedding-training primitive),
greedy k-center coreset selection (diversity sampling), and
length-bucketed batching (the padding-waste killer in seq2seq /
LLM fine-tune loaders).

Arithmetic: skip-gram and batching are pure integers; k-center
distances are the repo's standard fixed-order left-fold doubles
(bit-identical to the oracle's explicit chain), with id tiebreaks on
every argmax.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.pipeline import _TOKS
from multithreaded_map_reduce_library_spark.functions.grid import grid
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_SG_WINDOW = 2


@register(
    "skipgram_training_pairs",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lower(toks[i]) AS tok, i
            FROM (SELECT doc_id, {_TOKS} AS toks FROM documents),
                 UNNEST(generate_series(1, len(toks))) AS u(i)
        )
        SELECT a.tok AS center, b.tok AS context, COUNT(*) AS n_pairs
        FROM t a JOIN t b
          ON a.doc_id = b.doc_id
         AND b.i BETWEEN a.i - {_SG_WINDOW} AND a.i + {_SG_WINDOW}
         AND a.i <> b.i
        GROUP BY center, context
    """,
    tags=("training-data", "skipgram", "embedding", "documents"),
)
def skipgram_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) pair counts with a +/-2 token window
    — the training-pair generator behind word2vec/fastText embeddings;
    the count table IS the co-occurrence matrix a GloVe-style trainer
    consumes.

    Scale design: positions come from posexplode (map-side); the
    windowed self-pairing is done WITHOUT a self-join in Spark — each
    token emits its up-to-4 in-window contexts from the array itself
    (slice around the position), so the only shuffle is the final
    (center, context) count with map-side combine. The oracle spells
    the same semantics as a position band-join. At 100 TB the pair
    relation is vocab^2-bounded, not corpus-bounded.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.transform(tokens("text"), lambda t: F.lower(t))
    t = docs.select(F.posexplode(toks).alias("i0", "center"), F.col("doc_id")).select(
        "doc_id", (F.col("i0") + 1).alias("i"), "center"
    )
    # context from the array, not a self-join: re-derive the token array
    # per doc once and slice the +/-2 window around each position
    arr = docs.select("doc_id", toks.alias("toks"))
    joined = t.join(arr, "doc_id")
    lo = F.greatest(F.col("i") - _SG_WINDOW, F.lit(1))
    hi = F.least(F.col("i") + _SG_WINDOW, F.size("toks"))
    idx = F.filter(F.sequence(lo, hi), lambda j: j != F.col("i"))
    ctx = F.transform(idx, lambda j: F.element_at(F.col("toks"), j))
    pairs = joined.select(
        "center", F.explode(ctx).alias("context")
    )
    return pairs.groupBy("center", "context").agg(F.count("*").alias("n_pairs"))


_KC_ROUNDS = 5
_KC_DIM = 64


def _sqdist(a: str, b: str) -> str:
    return " + ".join(
        f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])" for i in range(1, _KC_DIM + 1)
    )


def _kcenter_oracle() -> str:
    steps = []
    sel_rows = ["SELECT 1 AS rank, vec_id, CAST(0 AS DOUBLE) AS dist FROM seed"]
    prev_sel = "sel1"
    steps.append(
        "seed AS (SELECT MIN(vec_id) AS vec_id FROM e),"
        "sel1 AS (SELECT e.vec_id, e.v FROM e JOIN seed USING (vec_id))"
    )
    for k in range(2, _KC_ROUNDS + 1):
        steps.append(f"""
        d{k} AS (
            SELECT e.vec_id, e.v, MIN({_sqdist("e.v", "s.v")}) AS dmin
            FROM e CROSS JOIN {prev_sel} s
            WHERE e.vec_id NOT IN (SELECT vec_id FROM {prev_sel})
            GROUP BY e.vec_id, e.v
        ),
        pick{k} AS (SELECT vec_id, v, dmin FROM d{k}
                    ORDER BY dmin DESC, vec_id ASC LIMIT 1),
        sel{k} AS (SELECT vec_id, v FROM {prev_sel}
                   UNION ALL SELECT vec_id, v FROM pick{k})""")
        sel_rows.append(
            f"SELECT {k} AS rank, vec_id, CAST(FLOOR(SQRT(dmin) * 1000000.0 + 0.5) AS BIGINT) AS dist_e6 FROM pick{k}"
        )
        prev_sel = f"sel{k}"
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        {",".join(steps)}
        {" UNION ALL ".join(sel_rows)}
    """


@register(
    "kcenter_coreset_selection",
    oracle=_kcenter_oracle(),
    tags=("selection", "coreset", "embedding", "iterative"),
)
def kcenter_coreset_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection over the
    embedding corpus — the diversity-sampling dual of SemDeDup: instead
    of dropping near-duplicates, pick the 5 points that maximize
    coverage (each round adds the point farthest from the selected
    set). The classic 2-approximation to the k-center objective and a
    standard active-learning / data-pruning primitive (Sener & Savarese
    2018). Output: selection rank, vec_id, distance-at-pick.

    Scale design: the selected set is tiny and BROADCAST; each round is
    one corpus scan computing min-distance to <=k points (map-side,
    whole-stage codegen) plus a top-1 TakeOrdered — no corpus-sized
    shuffle, no driver collect (the pick folds back as a broadcast
    1-row DataFrame, localCheckpoint-ed per round like kmeans/BPE).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).localCheckpoint()
    seed = e.orderBy(F.asc("vec_id")).limit(1).localCheckpoint()
    sel = seed  # columns: vec_id, v
    out = [
        seed.select(
            F.lit(1).cast("int").alias("rank"),
            "vec_id",
            F.lit(0.0).alias("dist"),
        )
    ]

    def sqdist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    for k in range(2, _KC_ROUNDS + 1):
        s = sel.select(F.col("vec_id").alias("s_id"), F.col("v").alias("sv"))
        cand = (
            e.join(F.broadcast(s), F.col("vec_id") == F.col("s_id"), "left_anti")
            .crossJoin(F.broadcast(s))
            .groupBy("vec_id")
            .agg(
                F.min(sqdist(F.col("v"), F.col("sv"))).alias("dmin"),
                F.first("v").alias("v"),
            )
        )
        pick = (
            cand.orderBy(F.desc("dmin"), F.asc("vec_id")).limit(1).localCheckpoint()
        )
        out.append(
            pick.select(
                F.lit(k).cast("int").alias("rank"),
                "vec_id",
                grid(F.sqrt("dmin"), 6).alias("dist_e6"),
            )
        )
        sel = sel.unionAll(pick.select("vec_id", "v")).localCheckpoint()
    res = out[0]
    for o in out[1:]:
        res = res.unionAll(o)
    return res


_LB_WIDTH = 32
_LB_BATCH = 8


@register(
    "length_bucketed_batching",
    oracle=f"""
        WITH n AS (
            SELECT doc_id,
                   len(list_filter(string_split_regex(text, '[ \t\r\n]'),
                                   t -> t <> '')) AS n_toks
            FROM documents
        ),
        g AS (SELECT MAX(n_toks) AS max_len FROM n),
        b AS (
            SELECT doc_id, n_toks,
                   ((n_toks - 1) // {_LB_WIDTH}) AS bucket
            FROM n WHERE n_toks > 0
        )
        SELECT bucket,
               bucket * {_LB_WIDTH} + 1 AS len_lo,
               (bucket + 1) * {_LB_WIDTH} AS len_hi,
               COUNT(*) AS n_docs,
               (COUNT(*) + {_LB_BATCH} - 1) // {_LB_BATCH} AS n_batches,
               -- pad to the LONGEST sequence in the bucket (what a real
               -- loader does), not the bucket's nominal upper bound
               CAST(COUNT(*) * MAX(n_toks) - SUM(n_toks) AS BIGINT) AS pad_bucketed,
               CAST(SUM(g.max_len - n_toks) AS BIGINT) AS pad_unbucketed
        FROM b CROSS JOIN g
        GROUP BY bucket
    """,
    tags=("training-data", "batching", "packing", "documents"),
)
def length_bucketed_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: bucket documents by token count
    (width 32), batch within buckets (size 8), and report per bucket
    the padding tokens paid when padding to the bucket's LONGEST
    sequence (what a real loader pads to) vs padding everything to the
    global max — the quantified win of bucketed batching for
    seq2seq/fine-tune loaders (complements ``sequence_pack_docs``,
    which eliminates padding by packing instead).

    Scale design: one token-count scan, a 1-row global max broadcast,
    and a |buckets|-row rollup — all integers, map-side combined.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = docs.select("doc_id", F.size(tokens("text")).alias("n_toks"))
    g = n.agg(F.max("n_toks").alias("max_len"))
    b = n.where(F.col("n_toks") > 0).select(
        "doc_id",
        "n_toks",
        ((F.col("n_toks") - 1) / _LB_WIDTH).cast("bigint").alias("bucket"),
    )
    return (
        b.crossJoin(F.broadcast(g))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("n_toks").alias("bmax"),
            F.sum("n_toks").alias("sum_n"),
            F.sum(F.col("max_len") - F.col("n_toks")).alias("pad_unbucketed"),
        )
        .withColumn(
            "pad_bucketed", F.col("n_docs") * F.col("bmax") - F.col("sum_n")
        )
        .select(
            "bucket",
            (F.col("bucket") * _LB_WIDTH + 1).alias("len_lo"),
            ((F.col("bucket") + 1) * _LB_WIDTH).alias("len_hi"),
            "n_docs",
            ((F.col("n_docs") + _LB_BATCH - 1) / _LB_BATCH)
            .cast("bigint")
            .alias("n_batches"),
            "pad_bucketed",
            "pad_unbucketed",
        )
    )
