"""Pipeline batch 22: two genuinely ITERATIVE training-pipeline
algorithms, fully unrolled so the DuckDB oracle replays every step —
distributed BPE merge learning (the tokenizer-training primitive) and a
full-batch gradient-descent logistic-regression quality classifier.

Both are driver-loop-free on the Spark side: each iteration's scalar
state (the argmax pair / the weight vector) is a 1-row DataFrame
cross-joined (broadcast) into the next step, so the whole computation
is one declarative plan and nothing is collected.

Shared merge-apply semantics (both engines, by construction): a learned
pair (a,b) is applied to the space-separated representation by the
literal replacement ``' a b ' -> ' ab '`` run THREE times, which
resolves overlapping runs of the same pair up to length 8 (each pass
halves the remaining run). Plain ``replace`` scans left-to-right
non-overlapping in both engines, so the triple-pass result is
bit-identical cross-engine — a documented, deterministic variant of
greedy BPE application.

Float discipline (pipeline8 rule): logistic gradients are quantized
per-document onto a 1e6 integer grid and summed as BIGINT
(aggregation-order-invariant); weight updates are the identical IEEE
expression tree in both engines; only displayed weights are rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.grid import grid
from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_BPE_MERGES = 8


def _bpe_chain_sql() -> tuple[str, str, list[str]]:
    """The shared CTE chain learning the merges: returns (chain_body,
    final_vocab_cte_name, per-step merge selects). Reused by
    pipeline23's tokenizer-application query so both oracles replay the
    IDENTICAL training."""
    steps = []
    prev = "w0"
    selects = []
    for k in range(1, _BPE_MERGES + 1):
        steps.append(f"""
        pc{k} AS (
            SELECT l[i] AS a, l[i+1] AS b, SUM(freq) AS cnt
            FROM (SELECT freq, string_split(trim(rep), ' ') AS l FROM {prev}),
                 UNNEST(generate_series(1, len(l) - 1)) AS u(i)
            GROUP BY a, b
        ),
        m{k} AS (SELECT a, b, cnt FROM pc{k} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
        w{k} AS (
            SELECT word, freq,
                   replace(replace(replace(rep,
                       ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' '),
                       ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' '),
                       ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' ') AS rep
            FROM {prev} CROSS JOIN m{k} m
        )""")
        selects.append(
            f"SELECT {k} AS rank, a AS tok_a, b AS tok_b, CAST(cnt AS BIGINT) AS pair_count FROM m{k}"
        )
        prev = f"w{k}"
    chain = f"""
        t AS (SELECT lower(unnest(list_filter(string_split_regex(text, '[ \t\r\n]'),
                                              x -> x <> ''))) AS word
              FROM documents),
        wf AS (SELECT word, COUNT(*) AS freq FROM t GROUP BY word),
        w0 AS (SELECT word, freq,
                      ' ' || array_to_string(regexp_extract_all(word, '.'), ' ') || ' ' AS rep
               FROM wf),
        {",".join(steps)}
    """
    return chain, prev, selects


def _bpe_oracle() -> str:
    chain, _, selects = _bpe_chain_sql()
    return f"""
        WITH {chain}
        {" UNION ALL ".join(selects)}
    """


@register(
    "bpe_learn_merges",
    oracle=_bpe_oracle(),
    tags=("tokenizer", "bpe", "iterative", "documents"),
    bench=True,
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed byte-pair-encoding merge learning (Sennrich et al.
    2016), the tokenizer-training primitive: build the word-frequency
    table, then for 8 rounds count adjacent symbol pairs (weighted by
    word frequency, overlapping occurrences included) and merge the most
    frequent pair everywhere (ties: lexicographically smallest). Output
    is the learned merge table — rank, pair, and its count at selection
    time.

    Scale design: this is the textbook distributed BPE layout — after
    the one corpus-sized aggregate (word → freq, map-side combined), ALL
    iteration state lives on the vocabulary table (|V| rows, ~anything
    from 31 here to a few million at 100 TB — never corpus-sized). Each
    round is a pair-count aggregate over the vocab plus a broadcast of
    the single winning pair; the corpus is scanned exactly once, ever.
    The Spark side never collects: the per-round argmax is a 1-row
    DataFrame folded back in via broadcast cross-join, and each round is
    localCheckpoint-ed (the kmeans/connected-components precedent) so
    lineage stays flat across the 8 rounds; nothing reaches the driver.
    """
    _, merges = _bpe_learn(spark, sf_dir)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


def _bpe_learn(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list[DataFrame]]:
    """Spark twin of _bpe_chain_sql: returns (final vocab with merged
    reps, the per-round 1-row merge DataFrames)."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .select(F.lower("w").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    w = wf.select(
        "word",
        "freq",
        F.concat(
            F.lit(" "),
            F.array_join(F.regexp_extract_all("word", F.lit("."), 0), " "),
            F.lit(" "),
        ).alias("rep"),
    ).localCheckpoint()  # corpus scanned exactly once; rounds run on |V| rows
    merges = []
    for k in range(1, _BPE_MERGES + 1):
        toks_k = F.split(F.trim(F.col("rep")), " ")
        n = F.size(toks_k)
        pairs = w.select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.slice(toks_k, 1, n - 1).alias("a"),
                    F.slice(toks_k, 2, n - 1).alias("b"),
                )
            ).alias("p"),
        ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "freq")
        pc = pairs.groupBy("a", "b").agg(F.sum("freq").alias("cnt"))
        m = pc.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b")).limit(1)
        pat = F.concat(F.lit(" "), F.col("a"), F.lit(" "), F.col("b"), F.lit(" "))
        rpl = F.concat(F.lit(" "), F.col("a"), F.col("b"), F.lit(" "))
        rep3 = F.replace(F.replace(F.replace("rep", pat, rpl), pat, rpl), pat, rpl)
        # The winning pair's constants RIDE IN the round's checkpoint
        # (three short strings + a bigint per |V| row): the round-4 form
        # kept the argmax lazy, so materializing the 8 merge rows at
        # output time re-ran all 8 pair-count shuffles a second time
        # (16 total per bench run). Reading them back as limit(1) on the
        # in-memory checkpoint costs one row fetch and halves the
        # pair-count work; values are identical by construction (same
        # broadcast row the merge was applied from).
        w = (
            w.crossJoin(F.broadcast(m))
            .select(
                "word",
                "freq",
                rep3.alias("rep"),
                F.col("a").alias("_ma"),
                F.col("b").alias("_mb"),
                F.col("cnt").alias("_mc"),
            )
            .localCheckpoint()
        )
        merges.append(
            w.select(
                F.lit(k).cast("int").alias("rank"),
                F.col("_ma").alias("tok_a"),
                F.col("_mb").alias("tok_b"),
                F.col("_mc").alias("pair_count"),
            ).limit(1)
        )
        w = w.select("word", "freq", "rep")
    return w, merges


_LR_ITERS = 3
_LR_RATE = 0.25  # dyadic learning rate: 0.25*x is exact scaling
_LR_GRID = 1_000_000.0


def _logreg_chain_sql() -> tuple[str, str]:
    """Shared CTE chain training the classifier: (chain_body,
    final_iteration_cte). Reused by pipeline26's decile-lift evaluation
    so both oracles replay the IDENTICAL training."""
    # features: exact dyadic scalings of integer counts (module docstring)
    feat = """
        feat AS (
            SELECT doc_id,
                   CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                   CAST(n_chars AS DOUBLE) / 1024 AS x1,
                   CAST(len(list_filter(string_split_regex(text, '[ \t\r\n]'),
                                        t -> t <> '')) AS DOUBLE) / 64 AS x2,
                   CAST(len(regexp_extract_all(text, '[aeiou]')) AS DOUBLE) / 256 AS x3
            FROM documents
        ),
        n AS (SELECT COUNT(*) AS n FROM feat),
        it0 AS (SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1,
                       CAST(0 AS DOUBLE) AS w2, CAST(0 AS DOUBLE) AS w3)
    """
    steps = []
    prev = "it0"
    for k in range(1, _LR_ITERS + 1):
        steps.append(f"""
        g{k} AS (
            SELECT SUM(CAST(FLOOR((1.0/(1.0 + exp(-((({prev}.w0 + {prev}.w1*x1)
                                                    + {prev}.w2*x2) + {prev}.w3*x3))) - y)
                                  * {_LR_GRID} + 0.5) AS BIGINT)) AS g0,
                   SUM(CAST(FLOOR((1.0/(1.0 + exp(-((({prev}.w0 + {prev}.w1*x1)
                                                    + {prev}.w2*x2) + {prev}.w3*x3))) - y)
                                  * x1 * {_LR_GRID} + 0.5) AS BIGINT)) AS g1,
                   SUM(CAST(FLOOR((1.0/(1.0 + exp(-((({prev}.w0 + {prev}.w1*x1)
                                                    + {prev}.w2*x2) + {prev}.w3*x3))) - y)
                                  * x2 * {_LR_GRID} + 0.5) AS BIGINT)) AS g2,
                   SUM(CAST(FLOOR((1.0/(1.0 + exp(-((({prev}.w0 + {prev}.w1*x1)
                                                    + {prev}.w2*x2) + {prev}.w3*x3))) - y)
                                  * x3 * {_LR_GRID} + 0.5) AS BIGINT)) AS g3
            FROM feat CROSS JOIN {prev}
        ),
        it{k} AS (
            SELECT {prev}.w0 - {_LR_RATE} * ((CAST(g0 AS DOUBLE) / {_LR_GRID}) / n.n) AS w0,
                   {prev}.w1 - {_LR_RATE} * ((CAST(g1 AS DOUBLE) / {_LR_GRID}) / n.n) AS w1,
                   {prev}.w2 - {_LR_RATE} * ((CAST(g2 AS DOUBLE) / {_LR_GRID}) / n.n) AS w2,
                   {prev}.w3 - {_LR_RATE} * ((CAST(g3 AS DOUBLE) / {_LR_GRID}) / n.n) AS w3
            FROM g{k} CROSS JOIN {prev} CROSS JOIN n
        )""")
        prev = f"it{k}"
    chain = f"""
        {feat},
        {",".join(steps)}
    """
    return chain, prev


def _logreg_oracle() -> str:
    chain, prev = _logreg_chain_sql()
    return f"""
        WITH {chain}
        SELECT n.n AS n_docs,
               CAST(FLOOR(w0 * 1000000.0 + 0.5) AS BIGINT) AS w0_e6,
               CAST(FLOOR(w1 * 1000000.0 + 0.5) AS BIGINT) AS w1_e6,
               CAST(FLOOR(w2 * 1000000.0 + 0.5) AS BIGINT) AS w2_e6,
               CAST(FLOOR(w3 * 1000000.0 + 0.5) AS BIGINT) AS w3_e6,
               (SELECT COUNT(*) FROM feat CROSS JOIN {prev}
                WHERE (CAST(FLOOR((((w0 + w1*x1) + w2*x2) + w3*x3)
                                  * {_LR_GRID} + 0.5) AS BIGINT) >= 0) = (y = 1.0))
                   AS n_correct
        FROM {prev} CROSS JOIN n
    """


@register(
    "logreg_quality_classifier",
    oracle=_logreg_oracle(),
    tags=("classifier", "quality", "iterative", "gradient-descent", "documents"),
)
def logreg_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-batch gradient-descent logistic regression predicting
    lang='en' from three cheap document statistics — the fastText-style
    quality/language classifier every corpus pipeline trains, here as a
    pure DataFrame computation with the 3 GD iterations unrolled.

    Determinism: features are integer counts with dyadic (power-of-two)
    scalings, so they are EXACT doubles; the sigmoid z uses one fixed
    association order both engines; per-document gradient contributions
    are quantized to a 1e6 grid and summed as BIGINT (order-invariant);
    the weight update is the identical IEEE expression. The oracle
    replays all three iterations as chained CTEs.

    Scale design: each iteration is ONE corpus aggregate producing 4
    integers (map-side combined), with the current weight vector
    broadcast via a 1-row cross-join — no collect, no driver loop state.
    At 100 TB this is 3 scans; caching ``feat`` makes it 1 scan + 3
    cheap re-reads. Output: one row (n_docs, trained weights, training
    accuracy).
    """
    feat, n, w = _logreg_train(spark, sf_dir)
    final = feat.crossJoin(F.broadcast(w))
    acc = final.agg(
        F.count(
            F.when(
                (F.floor(_z_expr() * _LR_GRID + 0.5).cast("bigint") >= 0)
                == (F.col("y") == 1.0),
                1,
            )
        ).alias("n_correct")
    )
    return (
        w.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(acc))
        .select(
            F.col("n").alias("n_docs"),
            grid(F.col("w0"), 6).alias("w0_e6"),
            grid(F.col("w1"), 6).alias("w1_e6"),
            grid(F.col("w2"), 6).alias("w2_e6"),
            grid(F.col("w3"), 6).alias("w3_e6"),
            "n_correct",
        )
    )


def _z_expr():
    """The sigmoid argument with the FIXED association order shared by
    both engines (module docstring)."""
    return (
        (F.col("w0") + F.col("w1") * F.col("x1")) + F.col("w2") * F.col("x2")
    ) + F.col("w3") * F.col("x3")


def _logreg_train(spark: SparkSession, sf_dir: str):
    """Spark twin of _logreg_chain_sql: returns (feat, n, trained w) —
    all lazy DataFrames; w is the 1-row weight vector after the unrolled
    GD iterations."""
    docs = load_table(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        (F.col("n_chars").cast("double") / 1024).alias("x1"),
        (F.size(tokens("text")).cast("double") / 64).alias("x2"),
        (F.size(F.regexp_extract_all("text", F.lit("[aeiou]"), 0)).cast("double") / 256).alias(
            "x3"
        ),
    )
    n = feat.agg(F.count("*").alias("n"))
    # initial weights derived FROM the count aggregate so every broadcast
    # build side in the plan is structurally a one-row aggregate (the
    # shape tools/plan_audit.py exempts from the BNLJ flag by walking the
    # physical plan, not by an allowlist entry)
    w = n.select(
        F.lit(0.0).alias("w0"), F.lit(0.0).alias("w1"),
        F.lit(0.0).alias("w2"), F.lit(0.0).alias("w3"),
    )

    for _ in range(_LR_ITERS):
        scored = feat.crossJoin(F.broadcast(w))
        p_minus_y = 1.0 / (1.0 + F.exp(-_z_expr())) - F.col("y")

        def gq(x):
            return F.sum(
                F.floor(p_minus_y * x * _LR_GRID + 0.5).cast("bigint")
            )

        g = scored.agg(
            gq(F.lit(1.0)).alias("g0"), gq(F.col("x1")).alias("g1"),
            gq(F.col("x2")).alias("g2"), gq(F.col("x3")).alias("g3"),
        )
        upd = g.crossJoin(F.broadcast(w)).crossJoin(F.broadcast(n))

        def new_w(wj, gj):
            return F.col(wj) - _LR_RATE * (
                (F.col(gj).cast("double") / _LR_GRID) / F.col("n")
            )

        w = upd.select(
            new_w("w0", "g0").alias("w0"), new_w("w1", "g1").alias("w1"),
            new_w("w2", "g2").alias("w2"), new_w("w3", "g3").alias("w3"),
        )
    return feat, n, w
