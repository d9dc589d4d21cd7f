"""Pipeline batch 3: training-data hygiene and interval analytics —
benchmark decontamination (n-gram overlap), consecutive-day streaks
(gaps-and-islands), Markov event transitions, peak interval concurrency
via a partitioned sweep-line, and a deterministic training-order
shuffle.

Reference parity note: none of these exist in the reference (its whole
surface is the five functions in ``mapreduce.h:44-83``); they are
driver-mandated large-pipeline extensions. Each query keeps every
intermediate an exact integer (counts) or a once-rounded quotient so
the DuckDB twin hash-matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.grid import int_ratio
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table, spread

#: decontamination n-gram width — 8 contiguous tokens, the width used by
#: GPT-3/PaLM-style training-set decontamination.
_NGRAM_N = 8


def _token_ngrams(docs: DataFrame, n: int = _NGRAM_N) -> DataFrame:
    """(doc_id, gram) for every contiguous ``n``-token window.

    Pure map over each document (split -> transform over an index
    sequence -> explode): no shuffle, no UDF — the n-gram enumeration
    runs inside whole-stage codegen at parquet-scan speed. Documents
    shorter than ``n`` tokens contribute no rows.
    """
    t = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= n
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
        lambda i: F.array_join(F.slice(F.col("toks"), i, F.lit(n)), " "),
    )
    return t.select("doc_id", F.explode(grams).alias("gram"))


@register(
    "decontamination_ngram_overlap",
    bench=True,
    oracle=f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        g AS (SELECT doc_id,
                     unnest(list_transform(
                         generate_series(1, len(toks) - {_NGRAM_N - 1}),
                         i -> array_to_string(toks[i:i + {_NGRAM_N - 1}], ' '))) AS gram
              FROM t WHERE len(toks) >= {_NGRAM_N}),
        ev AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 10 = 0),
        tr AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 10 <> 0),
        hit AS (SELECT ev.doc_id AS eval_doc,
                       COUNT(DISTINCT tr.doc_id) AS n_train_docs,
                       COUNT(DISTINCT ev.gram) AS n_grams_hit
                FROM ev JOIN tr ON ev.gram = tr.gram
                GROUP BY ev.doc_id)
        SELECT d.doc_id AS eval_doc,
               COALESCE(h.n_train_docs, 0) AS n_train_docs,
               COALESCE(h.n_grams_hit, 0) AS n_grams_hit
        FROM documents d LEFT JOIN hit h ON h.eval_doc = d.doc_id
        WHERE d.doc_id % 10 = 0
    """,
    tags=("decontamination", "ngram", "documents", "text-analysis"),
)
def decontamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    contiguous 8-token n-gram with a held-out eval set (here the
    deterministic 10% ``doc_id % 10 = 0`` slice stands in for the
    benchmark suite). Output is one row per eval doc with the count of
    contaminated training docs and of its own n-grams that leak.

    Scale design: the eval side is a fixed benchmark suite — tiny
    relative to a 100 TB corpus — so its distinct n-gram set is
    broadcast and the contamination check is a map-side broadcast join
    over the training scan: no shuffle of the big side. The n-gram
    enumeration itself is a no-shuffle codegen'd map (see
    ``_token_ngrams``). The same shape extends to a Bloom filter of
    eval n-grams when even the exact set outgrows the broadcast limit.
    """
    docs = load_table(spark, sf_dir, "documents")
    g = _token_ngrams(spread(docs))
    ev = g.filter(F.col("doc_id") % 10 == 0).distinct()
    tr = g.filter(F.col("doc_id") % 10 != 0).distinct()
    hits = (
        tr.join(F.broadcast(ev.withColumnRenamed("doc_id", "eval_doc")), "gram")
        .groupBy("eval_doc")
        .agg(
            F.count_distinct("doc_id").alias("n_train_docs"),
            F.count_distinct("gram").alias("n_grams_hit"),
        )
    )
    base = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("eval_doc")
    )
    # hits is bounded by the eval suite (the same rationale that already
    # broadcasts the eval n-gram set above), so hint the final left join
    # too instead of leaving it to a sort-merge (guide §3.1).
    return base.join(F.broadcast(hits), "eval_doc", "left").select(
        "eval_doc",
        F.coalesce("n_train_docs", F.lit(0)).alias("n_train_docs"),
        F.coalesce("n_grams_hit", F.lit(0)).alias("n_grams_hit"),
    )


@register(
    "corpus_build_end_to_end",
    bench=True,
    oracle=f"""
        WITH q AS (
            SELECT doc_id, lang, source, md5(text) AS h,
                   len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
            FROM documents
            WHERE n_chars >= 100
              AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 20
        ),
        kept AS (SELECT * FROM q
                 QUALIFY ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) = 1),
        train AS (SELECT * FROM kept WHERE doc_id % 10 <> 0),
        tq AS (SELECT d.doc_id, string_split(d.text, ' ') AS toks
               FROM documents d JOIN train USING (doc_id)),
        g_tr AS (SELECT doc_id,
                        unnest(list_transform(
                            generate_series(1, len(toks) - {_NGRAM_N - 1}),
                            i -> array_to_string(toks[i:i + {_NGRAM_N - 1}], ' '))) AS gram
                 FROM tq WHERE len(toks) >= {_NGRAM_N}),
        te AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents WHERE doc_id % 10 = 0),
        g_ev AS (SELECT DISTINCT
                        unnest(list_transform(
                            generate_series(1, len(toks) - {_NGRAM_N - 1}),
                            i -> array_to_string(toks[i:i + {_NGRAM_N - 1}], ' '))) AS gram
                 FROM te WHERE len(toks) >= {_NGRAM_N}),
        contam AS (SELECT DISTINCT g_tr.doc_id FROM g_tr JOIN g_ev USING (gram)),
        clean AS (SELECT * FROM train
                  WHERE doc_id NOT IN (SELECT doc_id FROM contam))
        SELECT lang, source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               CAST((CAST(SUM(n_tok) AS BIGINT) * 1000000
                     + CAST(SUM(SUM(n_tok)) OVER () AS BIGINT) // 2)
                    // CAST(SUM(SUM(n_tok)) OVER () AS BIGINT) AS BIGINT)
                   AS token_share_e6
        FROM clean
        GROUP BY lang, source
    """,
    tags=("pipeline", "dedup", "decontamination", "corpus-stats", "documents"),
)
def corpus_build_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-corpus build — the flagship shape every
    stage-query in this repo exists to serve, run end to end in one
    Catalyst plan: quality gate (length + token floor) -> exact dedup
    (keep lowest doc_id per md5) -> eval-set decontamination (drop any
    training doc sharing an 8-gram with the doc_id%10 eval slice) ->
    per-(lang, source) corpus mix report with token shares.

    Scale design: each stage keeps the narrow projection of the one
    before it — the quality gate pushes n_chars to the parquet scan,
    dedup is one md5-key shuffle (QUALIFY keep-first), decontamination
    broadcasts the eval-suite n-gram set against the training scan
    (no shuffle of the big side), and the final mix report is a tiny
    (lang x source) aggregate. Nothing rescans documents more than the
    two passes (text hash + n-grams) the semantics require."""
    from pyspark.sql import Window

    from multithreaded_map_reduce_library_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    q = (
        docs.withColumn("n_tok", F.size(tokens("text")))
        .filter((F.col("n_chars") >= 100) & (F.col("n_tok") >= 20))
        .withColumn("h", F.md5("text"))
    )
    wdup = Window.partitionBy("h").orderBy("doc_id")
    kept = q.withColumn("_rn", F.row_number().over(wdup)).filter(F.col("_rn") == 1)
    train = kept.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", "lang", "source", "n_tok"
    )
    tr_grams = _token_ngrams(docs.join(train.select("doc_id"), "doc_id"))
    ev_grams = (
        _token_ngrams(docs.filter(F.col("doc_id") % 10 == 0))
        .select("gram")
        .distinct()
    )
    contaminated = (
        tr_grams.join(F.broadcast(ev_grams), "gram").select("doc_id").distinct()
    )
    clean = train.join(contaminated, "doc_id", "left_anti")
    mix = clean.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("total_tokens")
    )
    return mix.select(
        "lang",
        "source",
        "n_docs",
        "total_tokens",
        int_ratio(
            F.col("total_tokens"),
            F.sum("total_tokens").over(Window.partitionBy()),
            6,
        ).alias("token_share_e6"),
    )


@register(
    "user_day_streaks",
    oracle="""
        WITH d AS (SELECT DISTINCT user_id,
                          CAST(date_trunc('day', ts) AS DATE) AS day
                   FROM events),
        s AS (SELECT user_id, day,
                     day - CAST(ROW_NUMBER() OVER
                         (PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
              FROM d),
        st AS (SELECT user_id, grp, COUNT(*) AS len FROM s GROUP BY user_id, grp)
        SELECT user_id,
               MAX(len) AS longest_streak,
               COUNT(*) AS n_streaks,
               CAST(SUM(len) AS BIGINT) AS n_active_days
        FROM st GROUP BY user_id
    """,
    tags=("window", "gaps-and-islands", "events"),
)
def user_day_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands shape: ``day - row_number()`` is constant within a
    run of consecutive days, so one window plus two aggregations finds
    every streak without self-joins.

    Scale design: the window and both groupBys all hash-partition on
    ``user_id``, so after the first shuffle everything is co-located —
    Catalyst reuses the one exchange. Per-user day counts are bounded
    (days in the time range), so no partition can blow up.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    s = d.select("user_id", "day", F.date_sub("day", rn).alias("grp"))
    st = s.groupBy("user_id", "grp").agg(F.count("*").alias("len"))
    return st.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
        F.sum("len").alias("n_active_days"),
    )


@register(
    "event_markov_transitions",
    oracle="""
        WITH s AS (SELECT user_id, event_type,
                          LEAD(event_type) OVER
                              (PARTITION BY user_id ORDER BY ts, event_id)
                              AS next_type
                   FROM events),
        p AS (SELECT event_type, next_type, COUNT(*) AS n
              FROM s WHERE next_type IS NOT NULL
              GROUP BY event_type, next_type)
        SELECT event_type, next_type, n,
               CAST((n * 1000000 + CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) // 2)
                    // CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS BIGINT)
                   AS prob_e6
        FROM p
    """,
    tags=("window", "markov", "events", "sessionization"),
)
def event_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current type), with ``(ts,
    event_id)`` as a total order so the lag pairing is deterministic.
    The probability is a quotient of exact integer counts rounded once.

    Scale design: the lead() window partitions by ``user_id`` (parallel
    across users); the pair count then reduces to ~|types|^2 rows, so
    the final per-type normalization window runs on a trivially small
    frame. No driver-side work.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    p = s.groupBy("event_type", "next_type").agg(F.count("*").alias("n"))
    tot = Window.partitionBy("event_type")
    return p.select(
        "event_type",
        "next_type",
        "n",
        int_ratio(F.col("n"), F.sum("n").over(tot), 6).alias("prob_e6"),
    )


@register(
    "events_peak_concurrency",
    oracle="""
        WITH pts AS (
            SELECT ts AS pt, 1 AS delta, event_id FROM events
            UNION ALL
            SELECT ts + INTERVAL 5 MINUTE, -1, event_id FROM events
        ),
        dpts AS (SELECT CAST(date_trunc('day', pt) AS DATE) AS day,
                        pt, delta, event_id
                 FROM pts),
        run AS (SELECT day,
                       SUM(delta) OVER (PARTITION BY day
                                        ORDER BY pt, delta, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS s
                FROM dpts),
        mx AS (SELECT day, MAX(s) AS maxp FROM run GROUP BY day),
        carry AS (SELECT d.day, COUNT(*) AS c
                  FROM (SELECT DISTINCT day FROM dpts) d
                  JOIN events e
                    ON e.ts < CAST(d.day AS TIMESTAMP)
                   AND e.ts + INTERVAL 5 MINUTE >= CAST(d.day AS TIMESTAMP)
                  GROUP BY d.day)
        SELECT m.day,
               CAST(COALESCE(c.c, 0) + GREATEST(m.maxp, 0) AS BIGINT)
                   AS peak_concurrency
        FROM mx m LEFT JOIN carry c ON c.day = m.day
    """,
    tags=("interval", "sweep-line", "window", "events"),
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak number of simultaneously-open 5-minute event windows per
    day — the interval-overlap sweep-line: every interval contributes a
    +1 point at its start and a -1 at its end, and the running sum of
    deltas in time order is the concurrency curve; its per-day max is
    the answer. Ends sort before starts at the same instant (delta
    ascending), giving half-open ``[ts, ts+5min)`` semantics, with
    ``event_id`` as the final tiebreak so the prefix sums are fully
    deterministic in both engines.

    Scale design: a single global ordered prefix sum would serialize on
    one reducer, so the sweep is PARTITIONED BY DAY and each day gets a
    carry-in — the count of intervals that start before midnight and
    are still open at it (a broadcast range join against the tiny day
    list). Days then sweep in parallel; the same pattern shards by hour
    at higher event rates.
    """
    e = load_table(spark, sf_dir, "events")
    end = F.col("ts") + F.expr("INTERVAL 5 MINUTE")
    pts = e.select(
        F.col("ts").alias("pt"), F.lit(1).alias("delta"), "event_id"
    ).unionAll(e.select(end.alias("pt"), F.lit(-1).alias("delta"), "event_id"))
    dpts = pts.withColumn("day", F.date_trunc("day", "pt").cast("date"))
    w = (
        Window.partitionBy("day")
        .orderBy("pt", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mx = (
        dpts.select("day", F.sum("delta").over(w).alias("s"))
        .groupBy("day")
        .agg(F.max("s").alias("maxp"))
    )
    days = dpts.select("day").distinct()
    day_start = F.col("day").cast("timestamp")
    carry = (
        F.broadcast(days)
        .join(e, (e.ts < day_start) & (end >= day_start))
        .groupBy("day")
        .agg(F.count("*").alias("c"))
    )
    return mx.join(carry, "day", "left").select(
        "day",
        (F.coalesce("c", F.lit(0)) + F.greatest("maxp", F.lit(0))).alias(
            "peak_concurrency"
        ),
    )


@register(
    "training_shuffle_order",
    oracle="""
        WITH h AS (SELECT doc_id,
                          md5('42-' || CAST(doc_id AS VARCHAR)) AS hx
                   FROM documents)
        SELECT doc_id,
               CAST(instr('0123456789abcdef', substr(hx, 2, 1)) - 1
                    AS BIGINT) AS shard,
               ROW_NUMBER() OVER (PARTITION BY substr(hx, 2, 1)
                                  ORDER BY hx, doc_id) AS pos
        FROM h
    """,
    tags=("sampling", "deterministic", "shuffle", "corpus"),
)
def training_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets
    a salt-keyed md5 hash; one hex digit of it picks one of 16 output
    shards and the hash order within the shard is the read order. A
    pure function of (seed, doc_id) — stable across runs, engines, and
    cluster sizes, unlike ``rand()`` or ``repartition`` round-robin.

    Scale design: this is how you shuffle 100 TB without a global sort —
    shard assignment is a map-side expression, and the within-shard
    ORDER BY is a window partitioned by shard, so the 16 (or 4096)
    shards sort independently in parallel. No single-reducer global
    row_number anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        F.md5(F.concat(F.lit("42-"), F.col("doc_id").cast("string"))).alias("hx"),
    ).withColumn("hexd", F.substring("hx", 2, 1))
    w = Window.partitionBy("hexd").orderBy("hx", "doc_id")
    return h.select(
        "doc_id",
        (F.expr("instr('0123456789abcdef', hexd)") - 1).cast("long").alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )
