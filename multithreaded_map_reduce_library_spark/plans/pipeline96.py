"""Pipeline batch 96 (round 4): UNIGRAM-LM TOKENIZER SEGMENTATION — the
SentencePiece-style tokenizer primitive the BPE family was missing. BPE
(``bpe_learn_merges`` / ``bpe_tokenize_corpus``) tokenizes by greedy
merges; a unigram LM tokenizer instead picks the segmentation of each
word that MINIMIZES total piece cost (-log piece probability) — a
shortest path over the word's character positions (Viterbi).

``unigram_lm_segmentation``:
1. Build the piece vocabulary from the corpus token stream: every
   character, the top-64 character bigrams, the top-32 trigrams
   (deterministic (count DESC, gram ASC) cut).
2. Cost of a piece = -ln(count / total_char_count), e6-quantized — the
   integer-grid form of the unigram LM negative log-likelihood.
3. For the top-40 most frequent words (length ≤ 16) run the exact DP:
   dist(pos) = min over pieces ending at pos of dist(start) + cost,
   one left-to-right ``aggregate`` fold over each word's positions;
   costs are packed as cost_e6*32 + n_pieces, so the argmin also
   tie-breaks deterministically toward fewer pieces.

Everything after the e6 cost grid is integer arithmetic, with no UDF.
The DuckDB oracle replays the DP as 16 unrolled relaxation rounds (a
length-16 word uses ≤ 16 pieces); rounds past the topological pass are
no-ops, so both give the same minimum.

Reference parity anchor: the reference engine (mapreduce.h:44-83) has no
tokenizer tier; this extends the driver-mandated superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_TOP_BIGRAMS = 64
_TOP_TRIGRAMS = 32
_TOP_WORDS = 40
_MAX_WLEN = 16
_PACK = 32  # packed = cost_e6 * 32 + n_pieces (n_pieces <= 16 < 32)

_DUCK_TOKS = """
        toks AS (
            SELECT tok FROM documents,
                 UNNEST(list_filter(string_split_regex(text, '[ \t\r\n]'), t -> t <> '')) AS u(tok)
        ),
        wf AS MATERIALIZED (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM toks GROUP BY tok
        )"""


def _duck_grams(n: int) -> str:
    # gram counts over the word-frequency rollup, weighted by freq —
    # exactly the token-stream counts at a fraction of the explode volume
    return f"""(
            SELECT substr(tok, CAST(p AS INTEGER), {n}) AS gram, freq
            FROM (SELECT tok, freq, UNNEST(range(1, len(tok) - {n - 1} + 1)) AS p FROM wf)
        )"""


def duck_dp_ctes() -> tuple[str, str]:
    """The unrolled optimal-segmentation DP as a CTE block (needs the
    :func:`duck_vocab_ctes` block in scope): returns (ctes, final_name).
    Shared with the WordPiece-greedy regret query (pipeline97)."""
    rounds = [
        "dp0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS v FROM words)"
    ]
    prev = "dp0"
    for t in range(1, _MAX_WLEN + 1):
        # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
        # round references the previous one twice — unmaterialized, dp16
        # would expand to 2^16 copies of the corpus scan subtree (observed
        # as an EMFILE blowup before any result).
        rounds.append(
            f"""
        dp{t} AS MATERIALIZED (
            SELECT word, pos, MIN(v) AS v FROM (
                SELECT word, pos, v FROM {prev}
                UNION ALL
                SELECT g.word, g.pos_to AS pos, d.v + g.w32 AS v
                FROM {prev} d JOIN eg g ON g.word = d.word AND g.pos_from = d.pos
            ) GROUP BY word, pos
        )"""
        )
        prev = f"dp{t}"
    return ",".join(rounds), prev


def duck_vocab_ctes() -> str:
    """toks/wf/gram-count/piece-cost/words/eg CTE block (no WITH keyword) —
    the unigram-LM piece graph, shared with pipeline97."""
    return f"""{_DUCK_TOKS},
        g1 AS (SELECT gram, CAST(SUM(freq) AS BIGINT) AS cnt FROM {_duck_grams(1)} GROUP BY gram),
        g2 AS (SELECT gram, CAST(SUM(freq) AS BIGINT) AS cnt FROM {_duck_grams(2)} GROUP BY gram),
        g3 AS (SELECT gram, CAST(SUM(freq) AS BIGINT) AS cnt FROM {_duck_grams(3)} GROUP BY gram),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM g1),
        pieces AS (
            SELECT gram, cnt FROM g1
            UNION ALL
            SELECT gram, cnt FROM (
                SELECT gram, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, gram) AS rn FROM g2
            ) WHERE rn <= {_TOP_BIGRAMS}
            UNION ALL
            SELECT gram, cnt FROM (
                SELECT gram, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, gram) AS rn FROM g3
            ) WHERE rn <= {_TOP_TRIGRAMS}
        ),
        costs AS (
            SELECT gram,
                   CAST(FLOOR(ln(CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS cost_e6
            FROM pieces CROSS JOIN tot
        ),
        words AS MATERIALIZED (
            SELECT word, freq FROM (
                SELECT tok AS word, freq,
                       ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rn
                FROM wf WHERE len(tok) <= {_MAX_WLEN}
            ) WHERE rn <= {_TOP_WORDS}
        ),
        eg AS MATERIALIZED (
            SELECT w.word, CAST(e.pos_to - e.l AS BIGINT) AS pos_from,
                   CAST(e.pos_to AS BIGINT) AS pos_to,
                   c.cost_e6 * {_PACK} + 1 AS w32
            FROM words w,
                 LATERAL (
                     SELECT CAST(p AS BIGINT) AS pos_to, CAST(l AS BIGINT) AS l,
                            substr(w.word, CAST(p - l + 1 AS INTEGER), CAST(l AS INTEGER)) AS piece
                     FROM (SELECT UNNEST(range(1, len(w.word) + 1)) AS p),
                          (SELECT UNNEST([1, 2, 3]) AS l)
                     WHERE l <= p
                 ) e
            JOIN costs c ON c.gram = e.piece
        )"""


def _unigram_oracle() -> str:
    dp_ctes, dp_final = duck_dp_ctes()
    return f"""
        WITH {duck_vocab_ctes()},
        {dp_ctes}
        SELECT w.word, w.freq, CAST(len(w.word) AS BIGINT) AS word_len,
               CAST(d.v // {_PACK} AS BIGINT) AS seg_cost_e6,
               CAST(d.v % {_PACK} AS BIGINT) AS n_pieces
        FROM words w JOIN {dp_final} d ON d.word = w.word AND d.pos = len(w.word)
    """


@register(
    "unigram_lm_segmentation",
    oracle=_unigram_oracle(),
    tags=("tokenizer", "unigram-lm", "viterbi", "documents", "topk", "global-sort"),
    bench=True,
)
def unigram_lm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) optimal segmentation cost of the
    corpus's top-40 words: piece vocabulary = every character + top-64
    bigrams + top-32 trigrams of the token stream, piece cost =
    e6-quantized -ln(count/total_chars), and per word the exact minimal
    total cost over all segmentations plus the piece count of that
    optimum (fewest-pieces tie-break via cost*32+pieces packing) — one
    left-to-right fold over the word's positions (:func:`optimal_dp_sql`).

    Scale design: see :func:`piece_graph`. The corpus-sized work is the
    word frequency rollup and one gram-count shuffle; the DP runs on 40
    words against one broadcast piece→cost map, whatever the corpus size.
    Building the plan runs no Spark job."""
    return piece_graph(
        spark,
        sf_dir,
        f"""word, freq, CAST(length(word) AS BIGINT) AS word_len,
            {optimal_dp_sql("word", "w32")} AS v""",
        f"""word, freq, word_len, v div {_PACK} AS seg_cost_e6,
            CAST(v % {_PACK} AS BIGINT) AS n_pieces""",
    )


def piece_graph(spark: SparkSession, sf_dir: str, per_word: str, final: str) -> DataFrame:
    """The unigram-LM piece graph as ONE SQL statement, shared with the
    WordPiece-greedy regret query (pipeline97): ``per_word`` is a select
    list over each top-40 word's (``word``, ``freq``, ``w32``), where
    ``w32`` maps every piece to cost_e6*32 + 1, and ``final`` a select
    list over ``per_word``'s columns.

    One statement is analysed once; the DataFrame-step form re-analysed
    the growing plan after every step, which was most of its build time.
    The documents table enters as a temp view that ``spark.sql`` drops again
    before it returns.

    Plan at any scale: two corpus-sized shuffles (the word-frequency
    rollup and one gram count over all three orders), one window
    partitioned by gram order for both top cuts, one global window for
    the top words. The pieces then fold to one row (their struct list and
    the character total in one aggregate), which becomes the cost map and
    broadcasts onto the 40 words: at most (distinct characters + 96)
    entries, so no shuffle past the window. Building it launches no Spark
    job."""
    from multithreaded_map_reduce_library_spark.functions.text import tokens_sql

    # Gram counting runs over the word-frequency rollup weighted by freq,
    # the token-stream counts at a fraction of the explode volume. Every
    # gram order is one explode and one aggregate: grams of different
    # orders differ in length, so (n, gram) keys never collide. Long words
    # rank last in the top-words window and are cut after it: a cut below
    # it is pushed under the rollup, which then no longer reuses the gram
    # count's. The n = 1 counts sum to the corpus's character count.
    return spark.sql(
        f"""
        WITH wf AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT explode({tokens_sql("text")}) AS tok FROM {{docs}})
            GROUP BY tok
        ),
        grams AS (
            SELECT n, gram, CAST(sum(freq) AS BIGINT) AS cnt FROM (
                SELECT n, substring(tok, p, n) AS gram, freq FROM (
                    SELECT tok, freq, n, explode(sequence(1, length(tok) - n + 1)) AS p
                    FROM (SELECT tok, freq, explode(array(1, 2, 3)) AS n FROM wf)
                    WHERE length(tok) >= n
                )
            ) GROUP BY n, gram
        ),
        pieces AS (
            SELECT n, gram, cnt FROM (
                SELECT n, gram, cnt,
                       row_number() OVER (PARTITION BY n ORDER BY cnt DESC, gram) AS rn
                FROM grams
            ) WHERE n = 1 OR rn <= IF(n = 2, {_TOP_BIGRAMS}, {_TOP_TRIGRAMS})
        ),
        cost_map AS (
            SELECT map_from_entries(transform(ps, x -> struct(x.gram,
                       CAST(floor(ln(CAST(total AS DOUBLE) / CAST(x.cnt AS DOUBLE))
                                  * 1000000.0D + 0.5D) AS BIGINT) * {_PACK} + 1))) AS w32
            FROM (
                SELECT collect_list(struct(gram, cnt)) AS ps,
                       CAST(sum(IF(n = 1, cnt, 0)) AS BIGINT) AS total
                FROM pieces
            )
        ),
        words AS (
            SELECT word, freq FROM (
                SELECT tok AS word, freq,
                       row_number() OVER (ORDER BY length(tok) > {_MAX_WLEN}, freq DESC, tok) AS rn
                FROM wf
            ) WHERE rn <= {_TOP_WORDS} AND length(word) <= {_MAX_WLEN}
        )
        SELECT {final} FROM (
            SELECT /*+ BROADCAST(cost_map) */ {per_word} FROM words CROSS JOIN cost_map
        )""",
        docs=load_table(spark, sf_dir, "documents"),
    )


def optimal_dp_sql(word: str, w32: str) -> str:
    """The optimal-segmentation DP over one word as a SQL fold: the packed
    minimal cost (cost_e6*32 + n_pieces) of segmenting ``word`` into
    pieces of the ``w32`` map.

    The piece graph is a DAG whose positions 0..len are already in
    topological order, so one left-to-right pass computes the exact
    minimum — the round-3 form ran the same recurrence as a 16-round
    unrolled Bellman-Ford (the oracle still replays that unrolled form;
    extra relaxation rounds past the topological pass are no-ops, so the
    results are identical). acc holds dist for positions 0..p-1, and
    dist[p] = min over l in 1..min(3, p) of dist[p-l] + w32[piece], all
    exact BIGINTs; ``try_element_at`` is NULL for a substring that is no
    piece, and ``array_min`` skips it. Every character is a piece, so
    the min never sees an empty set."""
    return (
        f"element_at(aggregate(sequence(1, length({word})), array(CAST(0 AS BIGINT)),"
        f" (acc, p) -> concat(acc, array(array_min(transform(sequence(1, least(3, p)),"
        f" l -> acc[p - l] + try_element_at({w32}, substring({word}, p - l + 1, l))))))),"
        f" -1)"
    )
