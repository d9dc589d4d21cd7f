"""Pipeline batch 64: corpus-mixing and tokenizer-evaluation operators —
UniMax epoch-capped waterfilling allocation (Chung et al., "UniMax:
Fairer and More Effective Language Sampling for Large-Scale Multilingual
Pretraining", ICLR 2023) and BPE fertility by language (tokens-per-word,
the standard multilingual tokenizer-quality metric).

Float discipline: everything here is exact integer arithmetic — the
waterfilling condition is a product comparison (no division), equal
shares use largest-remainder integer allocation (the pipeline16 money
rule), and fertility displays via int_ratio on the _e4 grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multithreaded_map_reduce_library_spark.functions.grid import (
    duck_int_ratio,
    int_ratio,
)
from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.pipeline22 import (
    _bpe_chain_sql,
    _bpe_learn,
)
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

#: UniMax epoch cap as an exact rational: a language may be repeated at
#: most CAP_NUM/CAP_DEN = 1.5 epochs; cap_tokens = (3*n) DIV 2.
_CAP_NUM, _CAP_DEN = 3, 2

_TOK = "list_filter(string_split_regex(text, '[ \t\r\n]'), x -> x <> '')"


@register(
    "unimax_corpus_allocation",
    oracle=f"""
        WITH lt AS (
            SELECT lang, CAST(SUM(len({_TOK})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY lang
        ),
        base AS (
            SELECT lang, n_tokens,
                   ({_CAP_NUM} * n_tokens) // {_CAP_DEN} AS cap_tokens,
                   ROW_NUMBER() OVER (ORDER BY n_tokens, lang) AS i,
                   COUNT(*) OVER () AS l,
                   SUM(n_tokens) OVER () AS budget
            FROM lt
        ),
        cond AS (
            SELECT *,
                   COALESCE(SUM(cap_tokens) OVER (
                       ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS cumcap_prev
            FROM base
        ),
        mark AS (
            SELECT *,
                   CASE WHEN cap_tokens * (l - i + 1)
                             <= budget - cumcap_prev THEN 1 ELSE 0 END AS ok
            FROM cond
        ),
        kk AS (
            SELECT *,
                   COALESCE(MIN(CASE WHEN ok = 0 THEN i END) OVER (), l + 1) - 1
                       AS k
            FROM mark
        ),
        fin AS (
            SELECT *,
                   CASE WHEN i <= k THEN 1 ELSE 0 END AS capped,
                   budget - COALESCE(SUM(CASE WHEN i <= k THEN cap_tokens END)
                                     OVER (), 0) AS leftover,
                   l - k AS m
            FROM kk
        )
        SELECT lang, n_tokens, cap_tokens,
               CAST(capped AS BIGINT) AS capped,
               CAST(CASE WHEN capped = 1 THEN cap_tokens
                         ELSE leftover // m
                              + CASE WHEN i - k <= leftover % m THEN 1 ELSE 0 END
                    END AS BIGINT) AS alloc_tokens,
               {duck_int_ratio('CASE WHEN capped = 1 THEN cap_tokens ELSE leftover // m + CASE WHEN i - k <= leftover % m THEN 1 ELSE 0 END END', 'n_tokens', 4)}
                   AS epochs_e4
        FROM fin
    """,
    tags=("corpus", "mixing", "unimax", "waterfilling"),
)
def unimax_corpus_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax corpus allocation: spend a total token budget (here one
    epoch of the whole corpus) across languages so that no language is
    repeated beyond the epoch cap (1.5 epochs), and the remaining budget
    is split EQUALLY among the uncapped (larger) languages — the
    waterfilling that maximizes the minimum share without over-repeating
    low-resource languages (UniMax, ICLR 2023).

    Exact-integer construction: languages sort ascending by size; a
    language is capped iff ``cap * langs_remaining <= budget_remaining``
    (a product comparison — capped languages form a prefix of the
    ascending order); the leftover splits by integer division with the
    first ``leftover mod m`` uncapped languages (ascending) taking the
    +1 remainder — largest-remainder exactness, so SUM(alloc) == budget
    whenever any language is uncapped.

    Scale design: the corpus-sized work is ONE map-side token-count
    aggregate by language; the waterfilling itself runs in window
    functions over the |languages|-row relation — no collect, no
    driver-side loop, and the same plan at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    lt = docs.groupBy("lang").agg(
        F.sum(F.size(tokens("text"))).cast("bigint").alias("n_tokens")
    )
    div = lambda a, b: F.call_function("div", a, b)  # noqa: E731
    w_all = Window.partitionBy()
    w_ord = Window.partitionBy().orderBy("n_tokens", "lang")
    base = lt.select(
        "lang",
        "n_tokens",
        div(F.lit(_CAP_NUM).cast("bigint") * F.col("n_tokens"),
            F.lit(_CAP_DEN).cast("bigint")).alias("cap_tokens"),
        F.row_number().over(w_ord).alias("i"),
        F.count("*").over(w_all).alias("l"),
        F.sum("n_tokens").over(w_all).alias("budget"),
    )
    cond = base.withColumn(
        "cumcap_prev",
        F.coalesce(
            F.sum("cap_tokens").over(w_ord.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("bigint"),
        ),
    )
    mark = cond.withColumn(
        "ok",
        F.when(
            F.col("cap_tokens") * (F.col("l") - F.col("i") + 1)
            <= F.col("budget") - F.col("cumcap_prev"),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    kk = mark.withColumn(
        "k",
        F.coalesce(
            F.min(F.when(F.col("ok") == 0, F.col("i"))).over(w_all),
            F.col("l") + 1,
        )
        - 1,
    )
    fin = kk.select(
        "*",
        F.when(F.col("i") <= F.col("k"), F.lit(1)).otherwise(F.lit(0)).alias("capped"),
        (
            F.col("budget")
            - F.coalesce(
                F.sum(F.when(F.col("i") <= F.col("k"), F.col("cap_tokens"))).over(w_all),
                F.lit(0).cast("bigint"),
            )
        ).alias("leftover"),
        (F.col("l") - F.col("k")).alias("m"),
    )
    alloc = F.when(F.col("capped") == 1, F.col("cap_tokens")).otherwise(
        div(F.col("leftover"), F.col("m"))
        + F.when(F.col("i") - F.col("k") <= F.col("leftover") % F.col("m"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    return fin.select(
        "lang",
        "n_tokens",
        "cap_tokens",
        F.col("capped").cast("bigint").alias("capped"),
        alloc.cast("bigint").alias("alloc_tokens"),
        int_ratio(alloc, F.col("n_tokens"), 4).alias("epochs_e4"),
    )


def _fertility_oracle() -> str:
    chain, final, _ = _bpe_chain_sql()
    return f"""
        WITH {chain},
        dw AS (SELECT d.lang,
                      lower(unnest(list_filter(string_split_regex(d.text, '[ \t\r\n]'),
                                               x -> x <> ''))) AS word
               FROM documents d),
        j AS (SELECT dw.lang,
                     len(string_split(trim({final}.rep), ' ')) AS n_bpe
              FROM dw JOIN {final} USING (word)),
        g AS (SELECT lang, COUNT(*) AS n_words,
                     CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens
              FROM j GROUP BY lang)
        SELECT lang, n_words, n_bpe_tokens,
               {duck_int_ratio('n_bpe_tokens', 'n_words', 4)} AS fertility_e4
        FROM g
    """


@register(
    "bpe_fertility_by_lang",
    oracle=_fertility_oracle(),
    tags=("tokenizer", "bpe", "fertility", "composition"),
)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language: BPE tokens emitted per word, the
    standard metric for how well a learned vocabulary serves each
    language (a multilingual tokenizer whose fertility is 1.2 for
    English but 2.8 for German inflates German training cost ~2.3x).
    Composes the pipeline22 learned merges applied over every
    whitespace word (the pipeline23 application join), grouped by the
    document's language; the oracle replays learn+apply+group end to
    end. fertility_e4 is the exact half-up integer ratio.

    Scale design: identical to bpe_tokenize_corpus — the |V|-row vocab
    broadcasts, the corpus streams map-side through the join, and one
    per-language aggregate (|langs| rows) finishes; fertility per
    language costs nothing beyond the tokenization pass itself."""
    vocab, _ = _bpe_learn(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select("lang", F.explode(tokens("text")).alias("w")).select(
        "lang", F.lower("w").alias("word")
    )
    rep = vocab.select(
        "word", F.size(F.split(F.trim(F.col("rep")), " ")).alias("n_bpe")
    )
    g = (
        dw.join(F.broadcast(rep), "word")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
        )
    )
    return g.select(
        "lang",
        "n_words",
        "n_bpe_tokens",
        int_ratio(F.col("n_bpe_tokens"), F.col("n_words"), 4).alias("fertility_e4"),
    )
