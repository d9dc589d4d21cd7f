"""Pipeline batch 108 (round 4): HDR SKETCH AS STREAMING STATE +
MEMORIZATION-RISK AUDIT — the streaming twin of pipeline107's quantile
sketch, and the classic "does the corpus memorize itself" text audit:

* ``stream_hdr_quantiles_daily`` — per-day HDR-histogram bucket counts
  held in ``applyInPandasWithState`` (a fixed 1024-slot integer vector:
  bid ≤ 64·msb+63 with cents ≤ 2^16 ⇒ ≤ 1024 — bounded however large
  the day's traffic). The state is ADDITIVE, so the final streaming
  state equals the batch sketch whatever the micro-batch cut; the
  emitted p50/p95 bucket lower bounds plus the position-weighted
  checksum Σ cnt[bid]·(bid+1) (which folds to a per-event expression)
  pin it against the SQL replay.
* ``repeated_ngram_audit`` — per-document maximum repeated word-n-gram
  length over the doubling ladder n ∈ {2,4,8,16} (a doc repeating any
  16-gram also repeats an 8-gram — the CASE descends monotonically),
  aggregated to a histogram of documents by memorization level. The
  screen dedup pipelines run before training (long intra-doc repeats
  inflate memorization; cf. the dedup literature's repeated-substring
  analyses), over the tokens of functions/text.py::split_tokens and the
  word n-grams the dedup tier hashes — the oracle replays them with
  pipeline.py::_duck_shingles.

Reference parity anchor: the reference engine (mapreduce.h:44-83) has no
streaming or text-audit tier; these extend the driver-mandated superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.plans.pipeline import _duck_shingles
from multithreaded_map_reduce_library_spark.plans.pipeline107 import (
    _DUCK_BID,
    _DUCK_LO,
)
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_NBUCKETS = 1024
_NS = (2, 4, 8, 16)


@register(
    "stream_hdr_quantiles_daily",
    oracle=f"""
        WITH e AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v
            FROM events WHERE value IS NOT NULL
        ),
        b AS (SELECT day, CAST({_DUCK_BID} AS BIGINT) AS bid FROM e),
        base AS (
            SELECT day, CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(bid + 1) AS BIGINT) AS hdr_checksum
            FROM b GROUP BY day
        ),
        sk AS (SELECT day, bid, COUNT(*) AS cnt FROM b GROUP BY day, bid),
        cum AS (
            SELECT day, bid,
                   CAST(SUM(cnt) OVER (PARTITION BY day ORDER BY bid) AS BIGINT) AS c
            FROM sk
        ),
        est AS (
            SELECT q.q, base.day, MIN(cum.bid) AS bid
            FROM (VALUES (50), (95)) AS q(q)
            CROSS JOIN base
            JOIN cum ON cum.day = base.day
                    AND cum.c >= (q.q * base.n_events + 99) // 100
            GROUP BY q.q, base.day
        ),
        lohi AS (
            SELECT day,
                   MAX(CASE WHEN q = 50 THEN CAST({_DUCK_LO} AS BIGINT) END) AS p50_lo,
                   MAX(CASE WHEN q = 95 THEN CAST({_DUCK_LO} AS BIGINT) END) AS p95_lo
            FROM est GROUP BY day
        )
        SELECT base.day, base.n_events, base.hdr_checksum, lohi.p50_lo, lohi.p95_lo
        FROM base JOIN lohi USING (day)
    """,
    tags=("streaming", "stateful", "sketch", "quantile", "applyInPandasWithState"),
)
def stream_hdr_quantiles_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-day HDR quantile sketch: GroupState holds the
    1024-slot bucket-count vector (8 KB per day key, bounded regardless
    of throughput), updated additively per micro-batch — so the final
    state equals the batch sketch for ANY micro-batch boundary placement
    and the DuckDB twin replays it exactly: p50/p95 bucket lower bounds
    from the cumulative walk plus the checksum Σ cnt[bid]·(bid+1)
    (matrix-free in SQL — it folds to Σ(bid+1) per event).

    Scale design: this is how a latency/value dashboard tails quantiles
    at unbounded event cardinality — exact per-value state grows without
    bound; the sketch is 1024 ints per day, and the walk is O(1024) at
    emit time. RocksDB-backed state on a real cluster."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import Window

    from multithreaded_map_reduce_library_spark.streaming.windows import (
        events_stream,
        run_stream_to_df,
    )

    out_schema = (
        "day date, nb bigint, n_events bigint, hdr_checksum bigint,"
        " p50_lo bigint, p95_lo bigint"
    )
    state_schema = "counters array<bigint>, nb bigint"

    def _bid(v: int) -> int:
        if v < 32:
            return v
        msb = v.bit_length() - 1
        return 64 * msb + (v >> (msb - 5))

    def _lo(bid: int) -> int:
        if bid < 32:
            return bid
        msb, r = divmod(bid, 64)
        return r << (msb - 5)

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            counters, nb = list(state.get[0]), state.get[1]
        else:
            counters, nb = [0] * _NBUCKETS, 0
        for pdf in pdf_iter:
            for v in pdf["v"]:
                counters[_bid(int(v))] += 1
        nb += 1
        state.update((counters, nb))
        n = sum(counters)
        checksum = sum(c * (bid + 1) for bid, c in enumerate(counters) if c)
        los = {}
        for q in (50, 95):
            t = (q * n + 99) // 100
            cum = 0
            for bid, c in enumerate(counters):
                cum += c
                if cum >= t:
                    los[q] = _lo(bid)
                    break
        yield pd.DataFrame(
            {
                "day": [key[0]],
                "nb": [nb],
                "n_events": [n],
                "hdr_checksum": [checksum],
                "p50_lo": [los[50]],
                "p95_lo": [los[95]],
            }
        )

    ev = (
        events_stream(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .withColumn("day", F.to_date("ts"))
        .withColumn("v", F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("bigint"))
    )
    updates = run_stream_to_df(
        spark,
        ev.groupBy("day").applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        ),
        "update",
    )
    w = Window.partitionBy("day").orderBy(F.desc("nb"))
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("day", "n_events", "hdr_checksum", "p50_lo", "p95_lo")
    )


def _duck_has_rep(n: int) -> str:
    sh = _duck_shingles(n)
    return f"(len({sh}) > len(list_distinct({sh})))"


@register(
    "repeated_ngram_audit",
    oracle=f"""
        WITH per_doc AS (
            SELECT CASE WHEN {_duck_has_rep(16)} THEN 16
                        WHEN {_duck_has_rep(8)} THEN 8
                        WHEN {_duck_has_rep(4)} THEN 4
                        WHEN {_duck_has_rep(2)} THEN 2
                        ELSE 0 END AS max_rep_n
            FROM documents
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM per_doc)
        SELECT max_rep_n, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST((COUNT(*) * 1000000 + n_total // 2) // n_total AS BIGINT)
                   AS share_e6
        FROM per_doc CROSS JOIN tot
        GROUP BY max_rep_n, n_total
        ORDER BY max_rep_n
    """,
    tags=("text", "dedup", "memorization", "documents"),
    bench=True,
)
def repeated_ngram_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of documents by maximum repeated word-n-gram length
    over the doubling ladder n ∈ {2,4,8,16}: a doc whose shingle
    multiset at size n exceeds its distinct count contains an intra-doc
    repeat of length ≥ n (monotone in n — a repeated 16-gram implies a
    repeated 8-gram — so the descending CASE is the argmax). The
    memorization-risk screen run before training data ships; tokenizes
    with functions/text.py::split_tokens, like every dedup sketch.

    Scale design: per-document Arrow-kernel work only (tokenize once,
    one set-based pass per ladder size over token tuples — adopted
    after an expression form's four concat_ws/array_distinct shingle
    arrays measured 21 s at sf0.1 vs 0.4 s for the kernel), then a
    5-row histogram aggregate — no shuffle carries text. Shingles are
    compared as exact token tuples, not as 32-bit shingle hashes, so a
    hash collision cannot report a repeat the string-comparing oracle
    does not.

    Documents without tokens get level 0 here but 16 in the DuckDB
    oracle: their one ``_duck_shingles(16)`` shingle is NULL, and
    ``len([NULL]) = 1 > len(list_distinct([NULL])) = 0`` reads as a
    repeat. The corpus tables hold no such document."""
    import pandas as pd

    from multithreaded_map_reduce_library_spark.functions.text import split_tokens

    docs = load_table(spark, sf_dir, "documents")

    def kernel(it):
        for pdf in it:
            out = []
            for text in pdf["text"]:
                toks = split_tokens(text)
                level = 0
                for n in (2, 4, 8, 16):
                    if len(toks) < n:
                        # the short-doc fallback: one whole-doc shingle,
                        # which cannot repeat
                        continue
                    seen = set()
                    rep = False
                    tt = tuple(toks)
                    for i in range(len(toks) - n + 1):
                        s = tt[i : i + n]
                        if s in seen:
                            rep = True
                            break
                        seen.add(s)
                    if rep:
                        level = n
                    else:
                        break  # monotone: no repeat at n => none at 2n
                out.append(level)
            yield pd.DataFrame({"max_rep_n": pd.Series(out, dtype="int64")})

    per_doc = docs.select("text").mapInPandas(kernel, "max_rep_n bigint")
    tot = per_doc.agg(F.count("*").cast("bigint").alias("n_total"))
    half_div = F.call_function(
        "div",
        F.count("*").cast("bigint") * 1000000
        + F.call_function("div", F.col("n_total"), F.lit(2).cast("bigint")),
        F.col("n_total"),
    ).cast("bigint")
    return (
        per_doc.crossJoin(F.broadcast(tot))
        .groupBy("max_rep_n", "n_total")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            half_div.alias("share_e6"),
        )
        .drop("n_total")
        .orderBy("max_rep_n")
    )
