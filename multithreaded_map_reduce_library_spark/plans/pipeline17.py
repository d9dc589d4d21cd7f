"""Pipeline batch 17: statistical language modeling as dataflow —
interpolated Kneser-Ney bigram LM estimation (the classic n-gram
smoother) and per-document perplexity under that model (the quality
filter CCNet actually uses: a real LM, not just unigram
self-information as in ``doc_unigram_logprob``).

Cross-engine exactness: KN probabilities are PURE RATIONAL arithmetic —
integer counts, the discount d = 0.75 (binary-exact), divisions and one
multiply-add per term, no libm — so both engines produce bit-identical
doubles; the displayed value is FLOOR(p*1e6 + 0.5) (pure IEEE ops,
deterministic on identical inputs — NOT ROUND, whose exact-half handling
differs between Spark's BigDecimal path and DuckDB's scaled multiply
even on identical doubles; the pipeline8 lesson). The perplexity query
adds one libm log2 per distinct (a,b) pair, quantized round-to-nearest
on a 1e4 grid before integer summation (pipeline8 discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_KN_D = 0.75  # absolute discount; 3/4 is binary-exact

# Shared SQL: bigram/context/continuation counts from documents.
_DUCK_KN_BASE = r"""
        t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '[ \t\r\n]'), x -> x <> '') AS toks
            FROM documents
        ),
        bg AS (
            SELECT doc_id, toks[i + 1] AS a, toks[i + 2] AS b
            FROM t CROSS JOIN unnest(range(len(toks) - 1)) AS u(i)
            WHERE len(toks) >= 2
        ),
        cab AS (SELECT a, b, COUNT(*) AS c_ab FROM bg GROUP BY a, b),
        ca AS (SELECT a, SUM(c_ab) AS c_a, COUNT(*) AS n1p_fwd FROM cab GROUP BY a),
        cont AS (SELECT b, COUNT(*) AS n1p_rev FROM cab GROUP BY b),
        types AS (SELECT COUNT(*) AS n_types FROM cab)
"""

_DUCK_KN_PROB = (
    "(greatest(CAST(c_ab AS DOUBLE) - {d}, 0.0) / CAST(c_a AS DOUBLE)"
    " + ({d} * CAST(n1p_fwd AS DOUBLE) / CAST(c_a AS DOUBLE))"
    " * (CAST(n1p_rev AS DOUBLE) / CAST(n_types AS DOUBLE)))"
).format(d=_KN_D)


def _spark_kn_tables(docs: DataFrame):
    """(cab, ca, cont, types) count relations mirroring _DUCK_KN_BASE."""
    t = docs.select("doc_id", tokens("text").alias("toks")).filter(F.size("toks") >= 2)
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(
            F.element_at("toks", i).alias("a"),
            F.element_at("toks", i + 1).alias("b"),
        ),
    )
    bg = t.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )
    cab = bg.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    ca = cab.groupBy("a").agg(
        F.sum("c_ab").alias("c_a"), F.count("*").alias("n1p_fwd")
    )
    cont = cab.groupBy("b").agg(F.count("*").alias("n1p_rev"))
    types = cab.agg(F.count("*").alias("n_types"))
    return bg, cab, ca, cont, types


def _spark_kn_prob():
    return (
        F.greatest(F.col("c_ab").cast("double") - _KN_D, F.lit(0.0))
        / F.col("c_a").cast("double")
        + (_KN_D * F.col("n1p_fwd").cast("double") / F.col("c_a").cast("double"))
        * (F.col("n1p_rev").cast("double") / F.col("n_types").cast("double"))
    )


@register(
    "bigram_lm_kneser_ney",
    oracle=f"""
        WITH {_DUCK_KN_BASE}
        SELECT a, b, c_ab,
               CAST(FLOOR({_DUCK_KN_PROB} * 1000000.0 + 0.5) AS BIGINT) AS prob_e6
        FROM cab JOIN ca USING (a) JOIN cont USING (b) CROSS JOIN types
        WHERE c_ab >= 2
    """,
    tags=("language-model", "kneser-ney", "text-analysis", "documents"),
)
def bigram_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM estimated from the corpus:
    p(b|a) = max(c(ab)-d, 0)/c(a) + d·N1+(a·)/c(a) · N1+(·b)/|bigram
    types| with d = 0.75 — the discounted MLE backed off to the
    CONTINUATION unigram (how many contexts a word completes, not how
    often it occurs: the insight that makes KN the standard n-gram
    smoother). Rows: every bigram seen at least twice, with the
    probability on a 1e6 integer grid.

    Scale design: one bigram-keyed count shuffle (map-side combine);
    the context (c_a) and continuation (N1+) tables derive from it with
    two more skinny aggregates; the probability is then map-side
    arithmetic over three joined count relations — context counts join
    on `a`, continuation counts broadcast on `b` (vocabulary-sized),
    the type total is one scalar. No libm anywhere (module docstring),
    so the grid value is bit-exact cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    _bg, cab, ca, cont, types = _spark_kn_tables(docs)
    return (
        cab.join(ca, "a")
        .join(F.broadcast(cont), "b")
        .crossJoin(F.broadcast(types))
        .filter(F.col("c_ab") >= 2)
        .select(
            "a",
            "b",
            "c_ab",
            F.floor(_spark_kn_prob() * 1000000.0 + 0.5).cast("bigint").alias("prob_e6"),
        )
    )


@register(
    "doc_perplexity_bigram",
    oracle=f"""
        WITH {_DUCK_KN_BASE},
        probs AS (
            SELECT a, b,
                   CAST(FLOOR(-(ln({_DUCK_KN_PROB}) / ln(2.0)) * 10000.0 + 0.5)
                        AS BIGINT) AS bits_q
            FROM cab JOIN ca USING (a) JOIN cont USING (b) CROSS JOIN types
        )
        SELECT bg.doc_id, COUNT(*) AS n_bigrams,
               CAST(SUM(probs.bits_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 10000.0
                   AS avg_bits
        FROM bg JOIN probs USING (a, b)
        GROUP BY bg.doc_id
    """,
    tags=("language-model", "perplexity", "quality", "text-analysis", "documents"),
)
def doc_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bits-per-bigram under the corpus's own Kneser-Ney
    bigram LM — the CCNet-style quality filter with a real conditional
    LM: documents whose transitions the corpus model finds surprising
    (high bits) are gibberish or out-of-domain; suspiciously low bits
    means degenerate repetition of the corpus's most stereotyped
    transitions. 2^avg_bits is the document's perplexity.

    Scale design: the model tables are the `bigram_lm_kneser_ney` plan;
    scoring joins each document's bigram STREAM against the model on the
    bigram key (the model side is vocabulary², Zipf-skinny, and
    broadcastable in practice). One libm log2 per distinct MODEL ROW
    (not per occurrence), quantized round-to-nearest at 1e4; per-doc
    sums are integer (order-invariant); the displayed average is the
    raw quotient of two integers (no final ROUND — pipeline8 lesson)."""
    docs = load_table(spark, sf_dir, "documents")
    bg, cab, ca, cont, types = _spark_kn_tables(docs)
    probs = (
        cab.join(ca, "a")
        .join(F.broadcast(cont), "b")
        .crossJoin(F.broadcast(types))
        .select(
            "a",
            "b",
            F.floor(
                -(F.log(_spark_kn_prob()) / F.log(F.lit(2.0))) * 10000.0 + 0.5
            )
            .cast("bigint")
            .alias("bits_q"),
        )
    )
    return (
        bg.join(probs, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (
                F.sum("bits_q").cast("double")
                / F.count("*").cast("double")
                / F.lit(10000.0)
            ).alias("avg_bits"),
        )
    )
