"""Pipeline batch 60: code-switching detection (documents carrying
stopword evidence from multiple languages — a corpus-cleaning flag the
single-label lang-ID hides) and Burrows' Delta stylometric distances
between sources (the authorship-attribution classic, here answering
"which feeds write alike").

Delta discipline: per-source relative token frequencies are exact
integer quotients on a 1e6 grid (f * 1e6 // n), z-scores across
sources quantize once to the 1e4 grid, and the pairwise mean absolute
difference is a BIGINT sum divided at display.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.operators import textstats as T
from multithreaded_map_reduce_library_spark.plans.pipeline import (
    _TOKS,
    _duck_stopword_count,
)
from multithreaded_map_reduce_library_spark.functions.grid import grid
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_CS_MIN_EVIDENCE = 2


@register(
    "code_switching_flags",
    oracle=f"""
        SELECT doc_id,
               {" + ".join(f"(CASE WHEN ({_duck_stopword_count(lang)}) >= {_CS_MIN_EVIDENCE} THEN 1 ELSE 0 END)" for lang in T.LANG_STOPWORDS)}
                   AS n_langs_evidenced,
               ({" + ".join(f"(CASE WHEN ({_duck_stopword_count(lang)}) >= {_CS_MIN_EVIDENCE} THEN 1 ELSE 0 END)" for lang in T.LANG_STOPWORDS)})
                   >= 2 AS is_mixed
        FROM documents
    """,
    tags=("quality", "lang-id", "code-switching", "documents"),
)
def code_switching_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switching flags: a document showing >= 2 stopword hits from
    two or more languages is linguistically MIXED — content the
    single-label `lang_id_heuristic` necessarily mislabels and that
    monolingual training mixes usually quarantine or route specially.
    Output: per document, how many languages left evidence and the
    mixed flag. Pure integer stopword counts.

    Scale design: all five evidence counters are one map-side
    expression over the token array (no explode, no shuffle); the
    query is scan-bound — exactly what a 100 TB cleaning flag must be.
    """
    docs = load_table(spark, sf_dir, "documents")
    ev = sum(
        (
            F.when(
                T.stopword_count("text", lang) >= _CS_MIN_EVIDENCE, 1
            ).otherwise(0)
            for lang in T.LANG_STOPWORDS
        ),
        F.lit(0),
    )
    return docs.select(
        "doc_id",
        ev.alias("n_langs_evidenced"),
        (ev >= 2).alias("is_mixed"),
    )


_BD_TOPK = 30


@register(
    "burrows_delta_sources",
    oracle=f"""
        WITH t AS (
            SELECT source, lower(unnest({_TOKS})) AS tok FROM documents
        ),
        ns AS (SELECT source, COUNT(*) AS n FROM t GROUP BY source),
        top AS (
            SELECT tok FROM (
                SELECT tok, COUNT(*) AS c,
                       ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS rk
                FROM t GROUP BY tok
            ) WHERE rk <= {_BD_TOPK}
        ),
        f AS (
            SELECT t.source, t.tok, COUNT(*) AS c
            FROM t JOIN top ON t.tok = top.tok
            GROUP BY t.source, t.tok
        ),
        rel AS (
            SELECT ns.source, top.tok,
                   COALESCE(f.c, 0) * 1000000 // ns.n AS rel_q
            FROM ns CROSS JOIN top
            LEFT JOIN f ON f.source = ns.source AND f.tok = top.tok
        ),
        stats AS (
            SELECT tok, COUNT(*) AS m, SUM(rel_q) AS s, SUM(rel_q * rel_q) AS ss
            FROM rel GROUP BY tok
        ),
        z AS (
            SELECT rel.source, rel.tok,
                   CAST(FLOOR((rel.rel_q - CAST(stats.s AS DOUBLE) / stats.m)
                              / sqrt((CAST(stats.ss AS DOUBLE)
                                      - CAST(stats.s AS DOUBLE) * stats.s / stats.m)
                                     / stats.m)
                              * 10000.0 + 0.5) AS BIGINT) AS z_q
            FROM rel JOIN stats USING (tok)
            WHERE stats.ss * stats.m > stats.s * stats.s
        ),
        pairs AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   SUM(ABS(a.z_q - b.z_q)) AS dsum, COUNT(*) AS m
            FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
            GROUP BY source_a, source_b
        )
        SELECT source_a, source_b,
               CAST(FLOOR(CAST(dsum AS DOUBLE) / m / 10000.0
                          * 1000000.0 + 0.5) AS BIGINT) AS delta_e6
        FROM pairs
    """,
    tags=("stylometry", "sources", "distance", "documents", "topk"),
)
def burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between sources: z-score each source's relative
    frequency of the 30 most common tokens (across the source
    population), and Delta(s1, s2) is the mean absolute z difference —
    the stylometry/authorship classic, here reading "which feeds have
    the same voice" (near-zero Delta pairs are candidate mirrors or
    shared upstreams — a dedup lead the content hashes can't see).

    Determinism: relative frequencies are exact integer-division grid
    quotients; the z-score quantizes once; pair sums are BIGINTs with
    one display division.

    Scale design: token counts map-side combine; everything after the
    top-30 cut lives on a |sources| x 30 relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("source", F.explode(tokens("text")).alias("t0")).select(
        "source", F.lower("t0").alias("tok")
    )
    ns = t.groupBy("source").agg(F.count("*").alias("n"))
    top = (
        t.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("c"), F.asc("tok"))),
        )
        .where(F.col("rk") <= _BD_TOPK)
        .select("tok")
    )
    f = t.join(F.broadcast(top), "tok").groupBy("source", "tok").agg(
        F.count("*").alias("c")
    )
    rel = (
        ns.crossJoin(F.broadcast(top))
        .join(f, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            # exact integral division (div), not a double quotient floor —
            # DuckDB's // floors the exact rational and near-boundary
            # double rounding could disagree
            F.expr(
                "(coalesce(c, 0) * CAST(1000000 AS BIGINT)) div n"
            ).alias("rel_q"),
        )
    )
    stats = rel.groupBy("tok").agg(
        F.count("*").alias("m"),
        F.sum("rel_q").alias("s"),
        F.sum(F.col("rel_q") * F.col("rel_q")).alias("ss"),
    )
    z = (
        rel.join(F.broadcast(stats), "tok")
        .where(F.col("ss") * F.col("m") > F.col("s") * F.col("s"))
        .select(
            "source",
            "tok",
            F.floor(
                (F.col("rel_q") - F.col("s").cast("double") / F.col("m"))
                / F.sqrt(
                    (
                        F.col("ss").cast("double")
                        - F.col("s").cast("double") * F.col("s") / F.col("m")
                    )
                    / F.col("m")
                )
                * 10000.0
                + 0.5
            )
            .cast("bigint")
            .alias("z_q"),
        )
    )
    a = z.select(
        F.col("source").alias("source_a"), "tok", F.col("z_q").alias("za")
    )
    b = z.select(
        F.col("source").alias("source_b"), "tok", F.col("z_q").alias("zb")
    )
    pairs = (
        a.join(b, "tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(F.abs(F.col("za") - F.col("zb"))).alias("dsum"),
            F.count("*").alias("m"),
        )
    )
    return pairs.select(
        "source_a",
        "source_b",
        grid(
            F.col("dsum").cast("double") / F.col("m") / 10000.0, 6
        ).alias("delta_e6"),
    )
