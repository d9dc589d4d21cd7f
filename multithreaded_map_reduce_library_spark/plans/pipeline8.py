"""Pipeline batch 8: corpus-cleaning operators a production LLM data
pipeline runs before training — PII detection/redaction, URL/domain
blocklist filtering, line-level dedup with boilerplate removal
(the C4/RefinedWeb cleaning steps), a unigram-LM "perplexity proxy"
quality score (the CCNet-style filter), and an error-bounded
approx-quantile sketch check.

Reference parity note: none of these exist in the reference (its whole
public surface is the five functions in ``mapreduce.h:44-83``); they are
the driver-mandated LLM-pipeline superset.

Fixture note: the driver's ``documents.text`` is synthetic word-salad
with no natural PII or URLs, so the PII/URL operators append a
DETERMINISTIC synthetic footer derived from ``doc_id`` (identical
expression in plan and oracle). The OPERATOR — regex detection,
extraction, redaction, blocklist join — is the thing under test and is
exactly what would run on real text; the footer is only the fixture.

Cross-engine float discipline (SCALING.md): libm ``ln`` may differ in
the last ulp between the JVM and DuckDB, so the logprob query quantizes
each per-term contribution to an integer grid (round-to-nearest at 1e4,
via FLOOR(x + 0.5)) and sums BIGINTs — run-to-run the sum is
order-invariant (integer), and cross-engine a mismatch needs a term to
land within one ulp of a HALF-grid boundary. Round-to-nearest, not
FLOOR: when n/c is an exact power of two, -log2(n/c) is a near-exact
integer that the two libms can place on either side of the FLOOR
boundary (observed at sf0.001); half-cell boundaries are unreachable by
those systematic near-integer values. Everything else is +,*,/ only
(IEEE-exact cross-engine) or integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.functions.text import tokens
from multithreaded_map_reduce_library_spark.plans.pipeline import _TOKS
from multithreaded_map_reduce_library_spark.plans.registry import register
from multithreaded_map_reduce_library_spark.sources.catalog import load_table, spread

# --- PII patterns: shared RE2/Java-regex subset (no lookaround, ASCII \b)
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}-\d{4}\b"
_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# Deterministic synthetic PII footer, same expression both engines:
#   ' contact u<id>@example.com call 555-<id%10000 lpad 4> from 10.a.b.c'
_DUCK_FOOTER = (
    "' contact u' || CAST(doc_id AS VARCHAR) || '@example.com call 555-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) "
    "|| '.' || CAST((doc_id * 13) % 256 AS VARCHAR)"
)


def _spark_footer() -> F.Column:
    d = F.col("doc_id")
    return F.concat(
        F.lit(" contact u"),
        d.cast("string"),
        F.lit("@example.com call 555-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (d % 256).cast("string"),
        F.lit("."),
        ((d * 7) % 256).cast("string"),
        F.lit("."),
        ((d * 13) % 256).cast("string"),
    )


@register(
    "pii_redaction_stats",
    oracle=f"""
        WITH body AS (
            SELECT doc_id, text || {_DUCK_FOOTER} AS s FROM documents
        ),
        red AS (
            SELECT doc_id, s,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(s, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                       '{_IP_RE}', '[IP]', 'g'),
                     '{_PHONE_RE}', '[PHONE]', 'g') AS r
            FROM body
        )
        SELECT doc_id,
               len(regexp_extract_all(s, '{_EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(s, '{_PHONE_RE}')) AS n_phones,
               len(regexp_extract_all(s, '{_IP_RE}'))    AS n_ips,
               length(r) AS redacted_len,
               CAST(length(s) - length(r) AS BIGINT) AS chars_removed
        FROM red
    """,
    tags=("pii", "redaction", "text-cleaning", "documents"),
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — detect and redact emails, phone numbers, and IPv4
    addresses, reporting per-document match counts and the redacted
    length. The standard pre-training privacy pass (emails/phones/IPs →
    '[EMAIL]'/'[PHONE]'/'[IP]').

    Order matters and is pinned: emails first (their local parts contain
    digits), then IPs (dotted digits), then phones — both engines apply
    the same sequence so counts and lengths agree byte-for-byte.

    Scale design: pure map-side — three regex scans per document inside
    whole-stage codegen, no shuffle, no Python. At 100 TB this is a
    single pass over the text column with full predicate/column pruning;
    counts are integers so the output hash is exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    body = docs.select("doc_id", F.concat(F.col("text"), _spark_footer()).alias("s"))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("s"), _EMAIL_RE, "[EMAIL]"), _IP_RE, "[IP]"
        ),
        _PHONE_RE,
        "[PHONE]",
    )
    out = body.select(
        "doc_id",
        F.size(F.regexp_extract_all("s", F.lit(_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("s", F.lit(_PHONE_RE), F.lit(0))).alias("n_phones"),
        F.size(F.regexp_extract_all("s", F.lit(_IP_RE), F.lit(0))).alias("n_ips"),
        F.length(red).alias("redacted_len"),
        (F.length("s") - F.length(red)).cast("bigint").alias("chars_removed"),
    )
    return out


_DOMAINS = (
    "example.com",
    "ads.tracker.net",
    "docs.python.org",
    "github.com",
    "spam.click",
    "news.site.io",
    "cdn.assets.net",
    "blog.example.com",
)
_BLOCKED = ("tracker.net", "spam.click")
_HOST_RE = r"https?://([^/]+)/"
_REG_RE = r"([A-Za-z0-9-]+\.[A-Za-z]+)$"


@register(
    "url_domain_stats",
    oracle=f"""
        WITH u AS (
            SELECT doc_id, n_chars,
                   'https://' || {" ".join(["CASE doc_id % 8"] + [f"WHEN {i} THEN '{d}'" for i, d in enumerate(_DOMAINS)] + ["END"])}
                   || '/d/' || CAST(doc_id AS VARCHAR) AS url
            FROM documents
        ),
        h AS (
            SELECT doc_id, n_chars,
                   regexp_extract(url, '{_HOST_RE}', 1) AS host,
                   regexp_extract(regexp_extract(url, '{_HOST_RE}', 1),
                                  '{_REG_RE}', 1) AS reg_domain
            FROM u
        )
        SELECT host, reg_domain,
               reg_domain IN ('tracker.net', 'spam.click') AS blocked,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM h
        GROUP BY host, reg_domain, blocked
    """,
    tags=("url", "blocklist", "text-cleaning", "documents"),
)
def url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL → host → registered-domain extraction with blocklist tagging —
    the C4-style source filter (drop docs whose registered domain is on a
    badlist). The URL column is a deterministic fixture (see module note);
    the extraction regexes and the broadcast blocklist join are the
    operator.

    Scale design: host/domain extraction is map-side regex in codegen;
    the blocklist is a broadcast hash join against a tiny dim (never a
    shuffle); the final rollup groups on ~#domains keys with map-side
    partial aggregation. At 100 TB the only shuffle is the skinny
    per-domain aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    dom = _DOMAINS
    url = F.concat(
        F.lit("https://"),
        F.element_at(F.array(*[F.lit(d) for d in dom]), (F.col("doc_id") % 8 + 1).cast("int")),
        F.lit("/d/"),
        F.col("doc_id").cast("string"),
    )
    h = docs.select("doc_id", "n_chars", url.alias("url")).select(
        "doc_id",
        "n_chars",
        F.regexp_extract("url", _HOST_RE, 1).alias("host"),
    )
    h = h.withColumn("reg_domain", F.regexp_extract("host", _REG_RE, 1))
    block = spark.createDataFrame([(d,) for d in _BLOCKED], "reg_domain string").withColumn(
        "blocked_flag", F.lit(True)
    )
    return (
        h.join(F.broadcast(block), "reg_domain", "left")
        .withColumn("blocked", F.coalesce("blocked_flag", F.lit(False)))
        .groupBy("host", "reg_domain", "blocked")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


_LINE_W = 3  # tokens per "line" (miniature so the word-salad fixture collides)
_BOILER_MIN_DOCS = 3


@register(
    "line_dedup_boilerplate",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        l AS (
            SELECT doc_id,
                   list_transform(range(len(toks) // {_LINE_W}),
                       i -> array_to_string(list_slice(toks, i * {_LINE_W} + 1,
                                                       i * {_LINE_W} + {_LINE_W}), ' ')) AS lines
            FROM t
        ),
        e AS (SELECT doc_id, unnest(lines) AS line FROM l),
        freq AS (
            SELECT line FROM e GROUP BY line
            HAVING COUNT(DISTINCT doc_id) >= {_BOILER_MIN_DOCS}
        )
        SELECT e.doc_id,
               COUNT(*) AS n_lines,
               CAST(SUM(CASE WHEN freq.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_boiler,
               CAST({_LINE_W} * (COUNT(*)
                         - SUM(CASE WHEN freq.line IS NOT NULL THEN 1 ELSE 0 END))
                    AS BIGINT) AS n_kept_tokens
        FROM e LEFT JOIN freq USING (line)
        GROUP BY e.doc_id
    """,
    tags=("dedup", "boilerplate", "text-cleaning", "documents"),
    bench=True,
)
def line_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level dedup / boilerplate removal — the C4/RefinedWeb step
    that drops lines occurring verbatim across many documents (nav bars,
    cookie banners, license footers). A "line" here is a non-overlapping
    3-token chunk (the fixture is single-line word salad; real text would
    split on '\\n'); a line is boilerplate when it appears in >=
    3 distinct documents. Per document: total lines, boilerplate lines,
    and tokens kept after removal (tail tokens shorter than one chunk are
    out of scope on both sides).

    Scale design: chunking is a pure map-side array expression (no
    explode-regroup round trip — the token array is sliced in place).
    The global line-frequency table shuffles once on the line (in
    production: on a 64-bit line hash, same plan shape as exact dedup,
    map-side partial counts); the membership join back is a skinny
    (line) -> () semi-style join. No Python anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Materialize the token array in its own projection: referencing the
    # column (instead of repeating the tokens() expression tree inside the
    # transform lambda) guarantees split() runs once per document, not once
    # per line slice — measured 4.5x on the explode stage at sf0.1.
    t = spread(docs).select("doc_id", tokens("text").alias("toks"))
    n_full = (F.size("toks") / _LINE_W).cast("bigint")
    lines = F.transform(
        F.sequence(F.lit(0), n_full - 1),
        lambda i: F.array_join(F.slice("toks", (i * _LINE_W + 1).cast("int"), _LINE_W), " "),
    )
    # sequence(0, -1) yields [0, -1] descending — guard empty docs explicitly.
    lines = F.when(n_full > 0, lines).otherwise(F.array().cast("array<string>"))
    e = t.select("doc_id", F.explode(lines).alias("line"))
    freq = (
        e.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= _BOILER_MIN_DOCS)
        .select("line", F.lit(1).alias("is_boiler"))
    )
    return (
        e.join(freq, "line", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.coalesce("is_boiler", F.lit(0))).alias("n_boiler"),
            (
                F.lit(_LINE_W).cast("bigint")
                * (F.count("*") - F.sum(F.coalesce("is_boiler", F.lit(0))))
            ).alias("n_kept_tokens"),
        )
    )


@register(
    "doc_unigram_logprob",
    oracle=f"""
        WITH t AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
        tf AS (SELECT doc_id, tok, COUNT(*) AS f FROM t GROUP BY doc_id, tok),
        uni AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
        tot AS (SELECT COUNT(*) AS n FROM t),
        q AS (
            SELECT tf.doc_id, tf.f,
                   CAST(FLOOR(tf.f * (ln(CAST(tot.n AS DOUBLE) / uni.c) / ln(2.0))
                              * 10000.0 + 0.5) AS BIGINT) AS bits_q
            FROM tf JOIN uni USING (tok) CROSS JOIN tot
        )
        SELECT doc_id, CAST(SUM(f) AS BIGINT) AS n_tokens,
               CAST(SUM(bits_q) AS DOUBLE) / CAST(SUM(f) AS DOUBLE) / 10000.0
                   AS avg_bits
        FROM q GROUP BY doc_id
    """,
    tags=("quality", "language-model", "text-analysis", "documents"),
    bench=True,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity proxy — per document, the mean
    self-information (bits/token, -log2 p) under the corpus's own unigram
    distribution. The CCNet-style quality filter: unusually high
    bits/token = rare-token gibberish, unusually low = degenerate
    repetition; pipelines keep the middle band.

    Float discipline: each (doc, term) contribution tf * -log2(p) is
    rounded to the nearest 1e-4 grid cell (FLOOR(x*1e4 + 0.5)) and summed
    as BIGINT, so the sum is partial-aggregation-order-invariant
    (run-stable); see the module docstring for why round-to-nearest (not
    FLOOR) is required for cross-engine stability. The displayed
    ``avg_bits`` is the RAW quotient of two integers (two IEEE-exact
    divisions, bit-identical cross-engine) with no final ROUND: an
    integer-grid sum frequently lands on exact half-cells, where Spark's
    ROUND (BigDecimal, half-up on the decimal string) and DuckDB's
    (scaled-double) disagree — observed at sf0.001 (sum 488965 over 10
    tokens -> 4.88965, rounded 4.8897 vs 4.8896).

    Scale design: the unigram table is one token-keyed aggregate with
    map-side combine (vocabulary-sized, i.e. tiny relative to the corpus
    — Zipf guarantees it); the corpus total is one scalar broadcast; the
    tf join on token broadcasts the unigram side at any realistic
    vocabulary. One wide shuffle total (doc-term tf), same as tf-idf.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = t.groupBy("doc_id", "tok").agg(F.count("*").alias("f"))
    uni = t.groupBy("tok").agg(F.count("*").alias("c"))
    tot = t.select(F.count("*").alias("n"))
    bits = F.log(F.col("n").cast("double") / F.col("c")) / F.log(F.lit(2.0))
    q = (
        tf.join(F.broadcast(uni), "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "f",
            F.floor(F.col("f") * bits * 10000.0 + 0.5).cast("bigint").alias("bits_q"),
        )
    )
    return q.groupBy("doc_id").agg(
        F.sum("f").alias("n_tokens"),
        (F.sum("bits_q").cast("double") / F.sum("f").cast("double") / F.lit(10000.0))
        .alias("avg_bits"),
    )


_AQ_ACC = 1000  # approx_percentile accuracy: rank error <= n / accuracy


@register(
    "approx_quantile_error",
    oracle="""
        SELECT event_type,
               CAST(FLOOR(quantile_cont(value, 0.5) * 10000.0 + 0.5) AS BIGINT) AS p50_exact_e4,
               CAST(FLOOR(quantile_cont(value, 0.9) * 10000.0 + 0.5) AS BIGINT) AS p90_exact_e4,
               TRUE AS within_bound
        FROM events GROUP BY event_type
    """,
    tags=("approx", "sketch", "quantile", "events"),
)
def approx_quantile_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-bounded approximate quantiles — approx_percentile (the
    Greenwald-Khanna sketch, the 100 TB path: bounded memory, mergeable
    partials) checked against its contract: the returned value's RANK is
    within n/accuracy of the target rank. Like ``hll_distinct_users_daily``,
    the sketch value itself is not cross-engine comparable, so the hash
    row carries the exact quantiles plus the verified bound flag.

    Scale design: the sketch aggregates with mergeable per-partition
    state (no sort); exact quantile_cont is computed here only to anchor
    the oracle hash — at 100 TB you'd ship only the sketch. The rank
    check is one extra pass with map-side combine.
    """
    e = load_table(spark, sf_dir, "events")
    ap = e.groupBy("event_type").agg(
        F.percentile_approx("value", F.lit(0.5), F.lit(_AQ_ACC)).alias("a50"),
        F.percentile_approx("value", F.lit(0.9), F.lit(_AQ_ACC)).alias("a90"),
        F.percentile("value", F.lit(0.5)).alias("p50_exact_raw"),
        F.percentile("value", F.lit(0.9)).alias("p90_exact_raw"),
        F.count("*").alias("n"),
    )
    ranked = (
        e.join(F.broadcast(ap), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("value") <= F.col("a50"), 1).otherwise(0)).alias("r50"),
            F.sum(F.when(F.col("value") <= F.col("a90"), 1).otherwise(0)).alias("r90"),
            F.first("p50_exact_raw").alias("p50x"),
            F.first("p90_exact_raw").alias("p90x"),
            F.first("n").alias("n"),
        )
    )
    # GK bound: |rank(approx) - ceil(p*n)| <= n/accuracy (+1 for the
    # <=-vs-< rank convention at duplicate values).
    tol = F.col("n") / _AQ_ACC + 1
    ok = (
        (F.abs(F.col("r50") - 0.5 * F.col("n")) <= tol)
        & (F.abs(F.col("r90") - 0.9 * F.col("n")) <= tol)
    )
    from multithreaded_map_reduce_library_spark.functions.grid import grid

    return ranked.select(
        "event_type",
        grid(F.col("p50x"), 4).alias("p50_exact_e4"),
        grid(F.col("p90x"), 4).alias("p90_exact_e4"),
        ok.alias("within_bound"),
    )
