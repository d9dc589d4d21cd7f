"""Pipeline batch 10: containment similarity, corpus drift monitoring,
and bounded-state streaming dedup — the remaining production corners of
the dedup/quality family: asymmetric containment catches quote/subset
duplication that Jaccard under-scores, KL drift is the monitoring signal
that a corpus slice's token distribution is shifting, and
``dropDuplicatesWithinWatermark`` is the 100 TB streaming dedup (state
evicted at the watermark instead of growing forever).

Reference parity note: none of this exists in the reference (public
surface = ``mapreduce.h:44-83``); driver-mandated LLM-pipeline superset.

Cross-engine float discipline (SCALING.md): ratios p and q are IEEE
divisions of identical integers (bit-exact cross-engine); the single
libm ``ln`` per token is quantized round-to-nearest onto a 1e6 integer
grid before any aggregation (the pipeline8 lesson: FLOOR boundaries and
ROUND half-cells are systematically reachable; half-cell boundaries are
not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.pipeline import (
    _SHINGLE_N,
    _duck_h32,
    _duck_shingles,
    _shingle_hash_index,
)
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

_CONTAIN_T = 0.4


@register(
    "ngram_containment_pairs",
    oracle=f"""
        WITH sh AS (SELECT doc_id, {_duck_shingles(_SHINGLE_N)} AS s FROM documents),
        hs AS (SELECT doc_id, list_transform(s, x -> {_duck_h32("x")}) AS hv FROM sh),
        d AS (SELECT doc_id, unnest(list_distinct(hv)) AS shingle FROM hs),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM d GROUP BY doc_id),
        inter AS (SELECT da.doc_id AS id_a, db.doc_id AS id_b, COUNT(*) AS i
                  FROM d da JOIN d db ON da.shingle = db.shingle AND da.doc_id < db.doc_id
                  GROUP BY 1, 2)
        SELECT id_a, id_b, containment_e4 FROM (
            SELECT id_a, id_b,
                   CAST((i * 10000 + least(sa.n, sb.n) // 2) // least(sa.n, sb.n)
                        AS BIGINT) AS containment_e4,
                   CAST(i AS DOUBLE) / least(sa.n, sb.n) AS c_raw
            FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b)
        WHERE c_raw >= {_CONTAIN_T}
    """,
    tags=("dedup", "containment", "documents"),
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-containment near-dup pairs: |A∩B| / min(|A|,|B|) over distinct
    3-gram shingles. The asymmetric cousin of Jaccard — a short document
    fully quoted inside a long one scores ~1.0 here but low on Jaccard
    (union-dominated), which is exactly the subset-duplication case
    corpus dedup must catch (boilerplate-wrapped reposts, quote farms).

    Scale design: identical plan shape to ``ngram_jaccard_pairs`` —
    inverted-index self-join on the shingle hash, so only pairs sharing
    a shingle ever meet; sizes join is skinny. The same hot-shingle cap
    documented for MinHash banding applies (drop shingles shared by > K
    docs: they add candidates, not evidence)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingle_hash_index(docs)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n"))
    da = sh.select(F.col("doc").alias("id_a"), "shingle")
    db = sh.select(F.col("doc").alias("id_b"), "shingle")
    inter = (
        da.join(db, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n").alias("nb"))
    from multithreaded_map_reduce_library_spark.functions.grid import int_ratio

    c_raw = F.col("i").cast("double") / F.least("na", "nb")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(c_raw >= _CONTAIN_T)
        .select(
            "id_a",
            "id_b",
            int_ratio(F.col("i"), F.least("na", "nb"), 4).alias("containment_e4"),
        )
    )


@register(
    "token_kl_drift",
    oracle="""
        WITH t AS (
            SELECT lang = 'en' AS is_en,
                   unnest(list_filter(string_split_regex(text, '[ \t\r\n]'),
                                      x -> x <> '')) AS tok
            FROM documents
        ),
        c AS (
            SELECT tok,
                   SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS c_en,
                   SUM(CASE WHEN is_en THEN 0 ELSE 1 END) AS c_rest
            FROM t GROUP BY tok
        ),
        tot AS (
            SELECT SUM(c_en) AS n_en, SUM(c_rest) AS n_rest,
                   COUNT(*) AS v
            FROM c
        )
        SELECT tok, CAST(c_en AS BIGINT) AS c_en, CAST(c_rest AS BIGINT) AS c_rest,
               CAST(FLOOR(
                   ((c_en + 1.0) / (n_en + v))
                   * (ln(((c_en + 1.0) / (n_en + v))
                         / ((c_rest + 1.0) / (n_rest + v))) / ln(2.0))
                   * 1000000.0 + 0.5) AS BIGINT) AS kl_e6
        FROM c CROSS JOIN tot
    """,
    tags=("monitoring", "drift", "kl-divergence", "text-analysis", "documents"),
)
def token_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift: per-token contribution to
    KL(P_en || P_rest) with add-1 smoothing — the corpus-monitoring
    signal for "this ingest slice's language mix is shifting" (positive
    kl_e6 = token over-represented in English docs). Summing kl_e6/1e6
    gives the total divergence; per-token rows name the drivers — the
    actionable half of a drift alarm.

    Scale design: one token-keyed aggregate with map-side partial
    conditional counts (vocabulary-sized output, Zipf-small); the three
    corpus scalars broadcast. p and q are divisions of identical
    integers (IEEE-exact); the one libm ln per VOCAB ENTRY (not per
    token instance) is quantized round-to-nearest at 1e6 —
    contributions may be negative, and FLOOR(x + 0.5) is the same
    round-half-toward-+inf on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        (F.col("lang") == "en").alias("is_en"),
        F.explode(tokens("text")).alias("tok"),
    )
    c = t.groupBy("tok").agg(
        F.sum(F.when(F.col("is_en"), 1).otherwise(0)).alias("c_en"),
        F.sum(F.when(F.col("is_en"), 0).otherwise(1)).alias("c_rest"),
    )
    tot = c.agg(
        F.sum("c_en").alias("n_en"),
        F.sum("c_rest").alias("n_rest"),
        F.count("*").alias("v"),
    )
    p = (F.col("c_en") + 1.0) / (F.col("n_en") + F.col("v"))
    q = (F.col("c_rest") + 1.0) / (F.col("n_rest") + F.col("v"))
    kl = p * (F.log(p / q) / F.log(F.lit(2.0)))
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            "c_en",
            "c_rest",
            F.floor(kl * 1000000.0 + 0.5).cast("bigint").alias("kl_e6"),
        )
    )


def _duck_zkey(xe: str, ye: str, bits: int = 16) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({xe} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ye} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


@register(
    "zorder_locality_events",
    oracle=f"""
        WITH k AS (
            SELECT user_id,
                   CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS h,
                   ({_duck_zkey("(user_id % 65536)",
                                "(CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) % 65536)")})
                       AS z
            FROM events
        )
        SELECT z >> 20 AS z_bucket, COUNT(*) AS n,
               MIN(user_id) AS u_min, MAX(user_id) AS u_max,
               MIN(h) AS h_min, MAX(h) AS h_max
        FROM k GROUP BY 1
    """,
    tags=("layout", "zorder", "pruning", "events"),
)
def zorder_locality_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, event-hour): bit
    interleaving maps the 2-D key space onto a 1-D curve such that sorting
    files by ``z`` makes BOTH user-range and time-range predicates prune —
    the data-layout technique behind multi-dimensional file skipping
    (min/max zone maps stay tight on both columns simultaneously, where a
    plain sort is tight on one and useless on the other). Output: per
    z-bucket row counts and per-dimension min/max — the zone-map ranges a
    writer laying out 100 TB by ``z`` would record.

    Scale design: the key is a pure-integer map-side expression (32
    shift/mask terms in whole-stage codegen, no Python, no libm); the
    bucket rollup is one skinny shuffle with map-side combine. At 100 TB
    this runs as ``df.repartitionByRange(N, "z").sortWithinPartitions("z")
    .write...`` — the aggregate here is the verification view of that
    layout."""
    e = load_table(spark, sf_dir, "events")
    x = F.col("user_id") % 65536
    h = F.floor(F.unix_timestamp("ts") / 3600).cast("bigint")
    y = h % 65536
    z = None
    for i in range(16):
        tx = F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        ty = F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        z = tx.bitwiseOR(ty) if z is None else z.bitwiseOR(tx).bitwiseOR(ty)
    k = e.select("user_id", h.alias("h"), z.alias("z"))
    return (
        k.groupBy(F.shiftright("z", 20).alias("z_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("user_id").alias("u_min"),
            F.max("user_id").alias("u_max"),
            F.min("h").alias("h_min"),
            F.max("h").alias("h_max"),
        )
    )


@register(
    "stream_dedup_bounded_state",
    oracle="""
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY 1
    """,
    tags=("streaming", "dropDuplicatesWithinWatermark", "stateful", "events"),
)
def stream_dedup_bounded_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` on (user_id, day) evicts each key's
    state once the watermark passes its event time + delay — the 100 TB
    fix for ``stream_dedup_user_days``'s plain dropDuplicates, whose
    state grows with the number of distinct keys forever.

    Determinism: duplicates of one (user_id, day) key span < 24 h of
    event time; the 48 h delay keeps the key's state alive strictly
    longer than any duplicate can lag, so each key emits exactly once
    regardless of micro-batch boundaries and the drained result equals
    the batch DISTINCT — same invariant the oracle checks."""
    from multithreaded_map_reduce_library_spark.streaming.windows import (
        events_stream,
        run_stream_to_df,
    )

    ev = events_stream(spark, sf_dir)
    pairs = (
        ev.select("user_id", "ts", F.date_trunc("day", "ts").alias("day"))
        .withWatermark("ts", "48 hours")
        .dropDuplicatesWithinWatermark(["user_id", "day"])
    )
    drained = run_stream_to_df(spark, pairs, "append")
    return drained.groupBy(F.col("day").cast("timestamp_ntz").alias("day")).agg(
        F.countDistinct("user_id").alias("n_users")
    )
