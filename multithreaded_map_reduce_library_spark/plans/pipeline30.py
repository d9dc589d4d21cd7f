"""Pipeline batch 30: entity-resolution blocking (sorted-neighborhood)
and T5-style span-corruption pair generation — one classic data-
integration operator, one self-supervised-objective data generator.
Both pure integer/string computations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_SN_WINDOW = 3
_SN_MAXDIST = 4


@register(
    "sorted_neighborhood_pairs",
    oracle=f"""
        WITH r AS (
            SELECT p_partkey, p_name,
                   ROW_NUMBER() OVER (ORDER BY p_name ASC, p_partkey ASC) AS rk
            FROM part
        ),
        c AS (
            SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
                   a.p_name AS name_a, b.p_name AS name_b,
                   levenshtein(a.p_name, b.p_name) AS dist
            FROM r a JOIN r b
              ON b.rk BETWEEN a.rk + 1 AND a.rk + {_SN_WINDOW}
        )
        SELECT key_a, key_b, name_a, name_b, dist
        FROM c WHERE dist <= {_SN_MAXDIST}
    """,
    tags=("entity-resolution", "blocking", "fuzzy", "part", "global-sort"),
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1995): sort
    records by the blocking key (part name), compare each record only
    with its next 3 neighbors in sort order, and keep pairs within
    Levenshtein distance 4 — the O(n*w) classic that replaces the O(n²)
    all-pairs comparison in entity resolution. Complements the
    token-blocked `fuzzy_blocked_name_pairs` (different blocking
    strategies catch different typo classes).

    Determinism: the sort carries p_partkey as tiebreak, so neighbor
    windows are total-ordered; Levenshtein is the same integer DP in
    both engines.

    Scale design: one global sort (range partitioner) + a rank
    band-join of width 3 that AQE turns into a local band per sorted
    run; comparisons are n*3, never n². Production would sort within
    multiple passes over different keys (multi-pass SN) — same shape.
    """
    part = load_table(spark, sf_dir, "part")
    r = part.select(
        "p_partkey",
        "p_name",
        F.row_number()
        .over(Window.orderBy(F.asc("p_name"), F.asc("p_partkey")))
        .alias("rk"),
    )
    a = r.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.col("rk").alias("rk_a"),
    )
    b = r.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.col("rk").alias("rk_b"),
    )
    c = a.join(
        b,
        (F.col("rk_b") >= F.col("rk_a") + 1)
        & (F.col("rk_b") <= F.col("rk_a") + _SN_WINDOW),
    ).select(
        "key_a",
        "key_b",
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").alias("dist"),
    )
    return c.where(F.col("dist") <= _SN_MAXDIST)


_SC_SPAN = 3  # corrupted span length in tokens


@register(
    "span_corruption_pairs",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '[ \t\r\n]'),
                               x -> x <> '') AS toks
            FROM documents
        ),
        s AS (
            SELECT doc_id, toks, len(toks) AS n,
                   1 + CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                            AS BIGINT) % (len(toks) - {_SC_SPAN} + 1) AS start
            FROM t WHERE len(toks) >= {_SC_SPAN + 1}
        )
        SELECT doc_id, n, start,
               -- COALESCE: DuckDB's array_to_string of an EMPTY slice is
               -- NULL (Spark's array_join is ''); normalize to ''
               COALESCE(array_to_string(toks[1:start-1], ' '), '')
                   || ' <extra_id_0> '
                   || COALESCE(array_to_string(toks[start+{_SC_SPAN}:n], ' '), '')
                   AS corrupted,
               '<extra_id_0> ' || array_to_string(toks[start:start+{_SC_SPAN}-1], ' ')
                   AS target
        FROM s
    """,
    tags=("training-data", "span-corruption", "t5", "documents"),
)
def span_corruption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption data generation: in every document a
    3-token span (position chosen deterministically from md5(doc_id) —
    reproducible across runs AND engines, unlike an RNG) is replaced by
    the `<extra_id_0>` sentinel; the pair (corrupted, target) is the
    denoising training example. The md5-derived position doubles as the
    repo's standard seedless sampling trick.

    Scale design: pure map-side string/array work — no shuffle at all;
    the generator streams 100 TB through whole-stage codegen. A
    multi-span production variant changes the expression, not the plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("toks")).where(
        F.size("toks") >= _SC_SPAN + 1
    )
    s = t.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        (
            1
            + F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("bigint")
            % (F.size("toks") - _SC_SPAN + 1)
        ).alias("start"),
    )
    corrupted = F.concat(
        F.array_join(F.slice("toks", 1, F.col("start") - 1), " "),
        F.lit(" <extra_id_0> "),
        F.array_join(
            F.slice(
                "toks",
                F.col("start") + _SC_SPAN,
                F.col("n") - F.col("start") - F.lit(_SC_SPAN - 1),
            ),
            " ",
        ),
    )
    target = F.concat(
        F.lit("<extra_id_0> "),
        F.array_join(F.slice("toks", F.col("start"), _SC_SPAN), " "),
    )
    return s.select(
        "doc_id", "n", "start", corrupted.alias("corrupted"), target.alias("target")
    )
