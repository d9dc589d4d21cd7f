"""Pipeline batch 69: two training-data generation / content-policy
operators —

* ``fim_training_splits`` — fill-in-the-middle training examples
  (Bavarian et al., "Efficient Training of Language Models to Fill in
  the Middle", 2022): each document splits into (prefix, middle,
  suffix) at two deterministic md5-derived cut points and re-assembles
  in PSM order ``<PRE> prefix <SUF> suffix <MID> middle`` — the
  sibling objective of pipeline30's T5 span corruption.
* ``blocklist_term_hits`` — content-policy lexicon scan: per document,
  hit counts against a small blocklist (case-insensitive whole-word),
  total hits, and the block decision — the shape of every
  toxicity/safety lexicon filter.

Both pure map-side; both oracles replay the identical md5 arithmetic /
regex counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

#: Small demonstration blocklist (placeholder terms — the operator shape,
#: broadcast-lexicon whole-word counting, is the point).
_BLOCKLIST = ("data", "system", "secret", "error")
_BLOCK_AT = 3  # docs with >= this many total hits are blocked


@register(
    "fim_training_splits",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '[ \t\r\n]'),
                               x -> x <> '') AS toks
            FROM documents
        ),
        s AS (
            SELECT doc_id, toks, len(toks) AS n,
                   1 + CAST(('0x' || substr(md5('fim1-' || CAST(doc_id AS VARCHAR)),
                                            1, 4)) AS BIGINT) % (len(toks) - 1) AS c1r,
                   1 + CAST(('0x' || substr(md5('fim2-' || CAST(doc_id AS VARCHAR)),
                                            1, 4)) AS BIGINT) % (len(toks) - 1) AS c2r
            FROM t WHERE len(toks) >= 3
        ),
        c AS (
            SELECT doc_id, toks, n,
                   LEAST(c1r, c2r) AS c1, GREATEST(c1r, c2r) AS c2
            FROM s
        )
        SELECT doc_id, n,
               CAST(c1 AS BIGINT) AS cut1,
               CAST(c2 AS BIGINT) AS cut2,
               CAST(c1 AS BIGINT) AS n_prefix,
               CAST(c2 - c1 AS BIGINT) AS n_middle,
               CAST(n - c2 AS BIGINT) AS n_suffix,
               '<PRE> ' || COALESCE(array_to_string(toks[1:c1], ' '), '')
                 || ' <SUF> ' || COALESCE(array_to_string(toks[c2+1:n], ' '), '')
                 || ' <MID> ' || COALESCE(array_to_string(toks[c1+1:c2], ' '), '')
                   AS psm_text
        FROM c
    """,
    tags=("training-data", "fim", "objective", "documents"),
)
def fim_training_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (FIM) example generation: two cut points
    c1 <= c2 are drawn per document from independent md5 channels
    (seedless determinism — reproducible across runs, engines, and
    partitionings), the token array splits into prefix [1..c1], middle
    (c1..c2], suffix (c2..n], and the PSM-order training text
    ``<PRE> prefix <SUF> suffix <MID> middle`` is emitted with the
    three segment lengths. Cuts land in [1, n-1] so prefix and the
    prefix+middle boundary are never the whole document; middle may be
    empty when the channels collide (the documented degenerate case a
    trainer filters on n_middle > 0).

    Scale design: pure map-side array/string expressions — zero
    shuffles, streams any corpus size through whole-stage codegen;
    the pipeline30 span-corruption twin with a second cut channel."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("toks")).where(F.size("toks") >= 3)

    def cut(chan: str):
        return F.lit(1) + F.conv(
            F.substring(
                F.md5(F.concat(F.lit(chan), F.col("doc_id").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("bigint") % (F.size("toks") - 1)

    s = t.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        cut("fim1-").alias("c1r"),
        cut("fim2-").alias("c2r"),
    )
    c = s.select(
        "doc_id",
        "toks",
        "n",
        F.least("c1r", "c2r").alias("c1"),
        F.greatest("c1r", "c2r").alias("c2"),
    )
    seg = lambda a, b: F.array_join(  # noqa: E731
        F.slice(F.col("toks"), a, b), " "
    )
    return c.select(
        "doc_id",
        "n",
        F.col("c1").cast("bigint").alias("cut1"),
        F.col("c2").cast("bigint").alias("cut2"),
        F.col("c1").cast("bigint").alias("n_prefix"),
        (F.col("c2") - F.col("c1")).cast("bigint").alias("n_middle"),
        (F.col("n") - F.col("c2")).cast("bigint").alias("n_suffix"),
        F.concat(
            F.lit("<PRE> "),
            F.array_join(F.slice("toks", F.lit(1), F.col("c1")), " "),
            F.lit(" <SUF> "),
            F.array_join(
                F.slice("toks", F.col("c2") + 1, F.col("n") - F.col("c2")), " "
            ),
            F.lit(" <MID> "),
            F.array_join(
                F.slice("toks", F.col("c1") + 1, F.col("c2") - F.col("c1")), " "
            ),
        ).alias("psm_text"),
    )


def _blocklist_oracle() -> str:
    hits = ", ".join(
        f"CAST(len(regexp_extract_all(lower(text), '\\b{t}\\b')) AS BIGINT)"
        f" AS hits_{t}"
        for t in _BLOCKLIST
    )
    total = " + ".join(f"hits_{t}" for t in _BLOCKLIST)
    return f"""
        WITH h AS (SELECT doc_id, {hits} FROM documents)
        SELECT doc_id, {', '.join('hits_' + t for t in _BLOCKLIST)},
               CAST({total} AS BIGINT) AS total_hits,
               CAST(CASE WHEN {total} >= {_BLOCK_AT} THEN 1 ELSE 0 END AS BIGINT)
                   AS blocked
        FROM h
    """


@register(
    "blocklist_term_hits",
    oracle=_blocklist_oracle(),
    tags=("governance", "content-policy", "lexicon", "documents"),
)
def blocklist_term_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-policy lexicon filter: per document, case-insensitive
    whole-word hit counts for each blocklist term, the total, and the
    block decision (total >= 3) — the exact shape of a
    toxicity/safety/PII lexicon gate (the production list is larger;
    the per-term regexp-count expression and threshold plan are
    unchanged).

    Scale design: pure map-side regexp counting over whole-stage
    codegen — zero shuffles; a 10k-term production lexicon compiles to
    one alternation regex or an Aho-Corasick pandas UDF, same plan
    shape either way."""
    docs = load_table(spark, sf_dir, "documents")
    lt = F.lower(F.col("text"))
    cols = [
        F.size(F.regexp_extract_all(lt, F.lit(f"\\b{t}\\b"), F.lit(0)))
        .cast("bigint")
        .alias(f"hits_{t}")
        for t in _BLOCKLIST
    ]
    h = docs.select("doc_id", *cols)
    total = None
    for t in _BLOCKLIST:
        c = F.col(f"hits_{t}")
        total = c if total is None else total + c
    return h.select(
        "doc_id",
        *[f"hits_{t}" for t in _BLOCKLIST],
        total.cast("bigint").alias("total_hits"),
        F.when(total >= _BLOCK_AT, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("blocked"),
    )
