"""Pipeline batch 28: join-pruning structures as first-class,
oracle-checked operators — a hand-rolled md5 Bloom filter semi-join
(with its false positives COUNTED, not hidden) and a prefix-filtered
exact set-similarity join (the AllPairs/PPJoin family).

Both are pure integer/string computations: the Bloom filter's bits are
md5-derived, and the Jaccard threshold test is the integer cross-
multiplication 5*|A∩B| >= 4*|A∪B| — no floats anywhere in either
decision path.

The set-similarity oracle is deliberately the NAIVE all-pairs join:
if the prefix filter ever pruned a qualifying pair (a lossy-pruning
bug), the hash comparison against the unpruned oracle would catch it —
the oracle checks the pruning theorem, not just the arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table, scaled_broadcast

_BF_BITS = 4096
_BF_K = 3
_BF_PRICE = 480000.0


def _bf_bit_sql(expr: str, i: int) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({expr} AS VARCHAR)), {1 + 4 * i}, 4)) AS BIGINT)"
        f" % {_BF_BITS}"
    )


def _bf_bit(col, i: int):
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1 + 4 * i, 4), 16, 10).cast(
            "bigint"
        )
        % _BF_BITS
    )


@register(
    "bloom_filter_semijoin",
    oracle=f"""
        WITH keys AS (
            SELECT o_orderkey FROM orders WHERE o_totalprice > {_BF_PRICE}
        ),
        bits AS (
            SELECT DISTINCT b FROM keys, UNNEST([
                {", ".join(_bf_bit_sql("o_orderkey", i) for i in range(_BF_K))}
            ]) AS u(b)
        ),
        bitset AS (SELECT list(b ORDER BY b) AS bs FROM bits),
        probe AS (
            SELECT l.l_orderkey,
                   ({" AND ".join(f"list_contains(bitset.bs, {_bf_bit_sql('l.l_orderkey', i)})" for i in range(_BF_K))})
                       AS bloom_pass,
                   (k.o_orderkey IS NOT NULL) AS true_match
            FROM lineitem l
            CROSS JOIN bitset
            LEFT JOIN keys k ON l.l_orderkey = k.o_orderkey
        )
        SELECT COUNT(*) AS n_lineitems,
               COUNT(*) FILTER (WHERE bloom_pass) AS n_bloom_pass,
               COUNT(*) FILTER (WHERE true_match) AS n_true,
               COUNT(*) FILTER (WHERE bloom_pass AND NOT true_match) AS n_false_pos,
               COUNT(*) FILTER (WHERE true_match AND NOT bloom_pass) AS n_false_neg
        FROM probe
    """,
    tags=("join", "bloom-filter", "pruning", "orders", "lineitem"),
)
def bloom_filter_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-rolled Bloom-filter semi-join: 3 md5-derived hash functions
    into a 4096-bit filter built from the selective order keys
    (o_totalprice > 480k, ~2% of orders), probed by every lineitem. The
    output row QUANTIFIES the structure: bloom-pass count, true
    matches, false positives — and a false-negative column the oracle
    proves is zero (the Bloom guarantee, hash-checked cross-engine).

    This is the explicit twin of Spark's own runtime-bloom pruning
    (tests/test_projection_sampling.py): at 100 TB the filter (512
    bytes here; MBs in production) broadcasts to every scan task and
    prunes the shuffle BEFORE the join — the probe is pure map-side
    bit arithmetic in whole-stage codegen.

    Scale design: build side is one aggregate to <=4096 DISTINCT bit
    positions (broadcast); probe side never shuffles; the final count
    is a 5-integer aggregate. The exact semi-join rides along only as
    the audit.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    keys = orders.where(F.col("o_totalprice") > _BF_PRICE).select("o_orderkey")
    bits = (
        keys.select(
            F.explode(
                F.array(*[_bf_bit(F.col("o_orderkey"), i) for i in range(_BF_K)])
            ).alias("b")
        )
        .distinct()
    )
    bitset = bits.agg(F.sort_array(F.collect_list("b")).alias("bs"))
    probe = (
        li.select("l_orderkey")
        .crossJoin(F.broadcast(bitset))
        .join(
            scaled_broadcast(keys.withColumnRenamed("o_orderkey", "k"), sf_dir, "orders"),
            F.col("l_orderkey") == F.col("k"),
            "left",
        )
        .select(
            F.col("l_orderkey"),
            (
                F.array_contains("bs", _bf_bit(F.col("l_orderkey"), 0))
                & F.array_contains("bs", _bf_bit(F.col("l_orderkey"), 1))
                & F.array_contains("bs", _bf_bit(F.col("l_orderkey"), 2))
            ).alias("bloom_pass"),
            F.col("k").isNotNull().alias("true_match"),
        )
    )
    return probe.agg(
        F.count("*").alias("n_lineitems"),
        F.count(F.when(F.col("bloom_pass"), 1)).alias("n_bloom_pass"),
        F.count(F.when(F.col("true_match"), 1)).alias("n_true"),
        F.count(F.when(F.col("bloom_pass") & ~F.col("true_match"), 1)).alias(
            "n_false_pos"
        ),
        F.count(F.when(F.col("true_match") & ~F.col("bloom_pass"), 1)).alias(
            "n_false_neg"
        ),
    )


_PF_T_NUM = 4  # Jaccard threshold 4/5 as an exact rational
_PF_T_DEN = 5


@register(
    "prefix_filter_jaccard_join",
    oracle=f"""
        WITH s AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       list_filter(string_split_regex(text, '[ \t\r\n]'),
                                   t -> t <> ''), t -> lower(t))) AS toks
            FROM documents
        ),
        p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.toks, b.toks)) AS n_inter,
                   len(a.toks) + len(b.toks)
                       - len(list_intersect(a.toks, b.toks)) AS n_union
            FROM s a JOIN s b ON a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, n_inter, n_union
        FROM p
        WHERE {_PF_T_DEN} * n_inter >= {_PF_T_NUM} * n_union
    """,
    tags=("dedup", "set-similarity", "prefix-filter", "documents"),
)
def prefix_filter_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join at Jaccard >= 4/5 using PREFIX
    FILTERING (Chaudhuri et al. SSJoin / Bayardo AllPairs): tokens are
    globally ordered by document frequency (rarest first); a pair can
    reach the threshold ONLY if their first
    p = n - ceil(t*n) + 1 rarest tokens intersect, so candidates come
    from an equi-join on prefix tokens instead of all pairs. Survivors
    are verified with the integer test 5*|A∩B| >= 4*|A∪B|.

    The oracle is the UNPRUNED all-pairs join — so the hash comparison
    proves the pruning lossless on this corpus, not just the arithmetic
    right (module docstring).

    Scale design: candidate generation is an equi-join keyed by rare
    tokens (each doc contributes only its short prefix — the inverted
    index stays skinny because rare tokens have short postings);
    verification touches candidate pairs only. This is the standard
    exact-dedup complement to MinHash: no recall loss, pruned search
    space. Pure integers end to end.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.transform(tokens("text"), lambda t: F.lower(t)))
    s = docs.select("doc_id", toks.alias("toks"))
    # global document frequency -> total order (freq asc, token asc)
    df_tok = (
        s.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    rk = df_tok.select(
        "tok",
        F.row_number()
        .over(Window.orderBy(F.asc("df"), F.asc("tok")))
        .alias("rk"),
    )
    # per-doc tokens with ranks; prefix = p rarest tokens
    tr = (
        s.select("doc_id", F.size("toks").alias("n"), F.explode("toks").alias("tok"))
        .join(F.broadcast(rk), "tok")
    )
    w = Window.partitionBy("doc_id").orderBy(F.asc("rk"))
    p_len = F.col("n") - F.ceil(
        F.col("n") * _PF_T_NUM / F.lit(_PF_T_DEN)
    ).cast("bigint") + 1
    prefix = (
        tr.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= p_len)
        .select("doc_id", "tok")
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    sa = s.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    sb = s.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ta", "tb")).alias("n_inter"),
            (
                F.size("ta") + F.size("tb") - F.size(F.array_intersect("ta", "tb"))
            ).alias("n_union"),
        )
        .where(_PF_T_DEN * F.col("n_inter") >= _PF_T_NUM * F.col("n_union"))
    )
    return verified
