from __future__ import annotations

import hashlib
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from multithreaded_map_reduce_library_spark.functions.text import (
    shingle_h32,
    shingle_hash32_pandas_udf,
    split_tokens,
    tokens,
)
from multithreaded_map_reduce_library_spark.operators.dedup import (
    exact_dedup_groups,
    lsh_band_keys,
    minhash_lsh_pairs,
    minhash_signature,
    simhash_pandas_udf,
    winnowing_stats_pandas_udf,
)
from multithreaded_map_reduce_library_spark.plans.registry import all_queries
from multithreaded_map_reduce_library_spark.sources.catalog import TABLES, load_table

from .conftest import SF_SMALL
from .oracle_util import compare_query


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again today"),
        (1, "the quick brown fox jumps over the lazy dog again and again tonight"),  # near-dup of 0
        (2, "completely different text about spark catalyst optimizer internals"),
        (3, "the quick brown fox jumps over the lazy dog again and again today"),  # exact dup of 0
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup(spark, docs):
    groups = {r["keep_id"]: r["n_copies"] for r in exact_dedup_groups(docs).collect()}
    assert groups[0] == 2  # docs 0 and 3 collapse
    assert groups[1] == 1 and groups[2] == 1


def test_minhash_identical_docs_identical_sigs(spark, docs):
    sig = minhash_signature(3, 16)
    out = {r["doc_id"]: tuple(r["s"]) for r in docs.select("doc_id", sig("text").alias("s")).collect()}
    assert out[0] == out[3]
    assert out[0] != out[2]


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, shingle_n=3).collect()}
    assert (0, 3) in pairs  # exact dup always collides
    assert (0, 1) in pairs or (1, 3) in pairs  # near-dup should band-collide
    assert (0, 2) not in pairs


def test_connected_components_known_graph(spark):
    """Path 1-2-3, pair 10-11, chain 20-21-22-23 (diameter 3): components
    labeled by their minimum vertex."""
    from multithreaded_map_reduce_library_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)], ["id_a", "id_b"]
    )
    got = {r["doc"]: r["cluster"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_simhash_near_dups_have_small_hamming(spark, docs):
    sh = simhash_pandas_udf(64)
    out = {r["doc_id"]: r["s"] for r in docs.select("doc_id", sh("text").alias("s")).collect()}
    assert all(len(v) == 64 and set(v) <= {"0", "1"} for v in out.values())
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert ham(out[0], out[3]) == 0
    assert ham(out[0], out[1]) < ham(out[0], out[2])


# --- large-star/small-star connected components (round-2) -----------------


def test_star_cc_equals_minlabel_on_lsh_graph(spark):
    from multithreaded_map_reduce_library_spark.operators.dedup import (
        connected_components,
        connected_components_star,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    cand = minhash_lsh_pairs(docs, num_hashes=16, bands=4, shingle_n=3)
    a = {(r["doc"], r["cluster"]) for r in connected_components(cand).collect()}
    b = {(r["doc"], r["cluster"]) for r in connected_components_star(cand).collect()}
    assert a == b
    assert len(a) > 0


def test_star_cc_long_chain(spark):
    """Adversarial high-diameter graph: a 200-edge path. Min-label needs
    ~200 rounds (its max_iter would truncate); star rounds contract it in
    O(log^2 n) — must still produce the exact component labeling."""
    from multithreaded_map_reduce_library_spark.operators.dedup import (
        connected_components_star,
    )

    chain = spark.range(0, 200).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    got = {(r["doc"], r["cluster"]) for r in connected_components_star(chain, max_iter=20).collect()}
    assert got == {(i, 0) for i in range(201)}


def test_band_cap_bounds_bucket_pairs(spark, docs):
    """With band_cap=1 no band can produce any pair; with a generous cap
    the candidate set equals the uncapped one."""
    capped1 = minhash_lsh_pairs(docs, shingle_n=3, band_cap=1)
    assert capped1.count() == 0
    uncapped = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, shingle_n=3).collect()}
    big_cap = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, shingle_n=3, band_cap=1000).collect()
    }
    assert big_cap == uncapped and len(uncapped) > 0


# --- the shingle decision: split_tokens / shingle_h32 ----------------------

#: Hand-built texts the sf0.001 corpus lacks: delimiter runs, fewer than and
#: exactly n tokens, leading/trailing delimiters, non-ASCII, one long doc.
PIN_TEXTS = [
    (900001, "alpha\tbeta\r\ngamma  delta\n\n\tepsilon\r\rzeta eta\t\t\ttheta"),
    (900002, "one two"),
    (900003, "solo"),
    (900004, "one two three"),
    (900005, "  \t leading and trailing  \n"),
    (900006, "naïve café déjà vu — 東京 タワー \U0001f680 ünïcödé"),
    (900007, "a b c d e f"),
    (900008, " ".join(f"tok{(i * 7919) % 1009}" for i in range(6000))),
    (900009, "\r\n\t dup dup dup dup dup dup dup \r\n"),
]

#: sha256 of each kernel's per-document output over sf0.001 documents plus
#: PIN_TEXTS (see _pin_digest), recorded before the JVM MinHash chain
#: (word-shingle hash -> signature -> band keys), the fused band-key UDF and
#: the JVM SimHash were deleted; the JVM and Python forms agreed on all of
#: them. Every one of these texts has at least one token.
SKETCH_PINS = {
    "shingle_h32_n3": "8dc4eb9b012c67565855da44c64d3fc0d727b5b1ff11f78d2102c64693eab8f8",
    "shingle_h32_n5": "28ccbe349e17ff23c0d0489aa3f68839d830de263a8faab07d5fc3e5cbee3ef5",
    "minhash_sig_n3_k16": "888e26786b9574594663c4adf8faf65ef5b2ba9296fa744e114d6a59d37c672b",
    "band_keys_n3_k16_b4": "5288010306ad7b90bcdfc374a1ff505687ba47fd9be3ffb0af3e1775ae67efb8",
    "simhash_64": "422cb20a1a33420b1c6414f0eab274afb99175245fa7ff63331fd6983878e5b3",
    "winnowing_n3_w4": "1ca88086b15b830a539c7a1fbba9d45b788961a68f6c7623ac75f122ae4b5fe1",
}


def _pin_digest(rows) -> str:
    """sha256 over 'doc_id<TAB>value' lines in doc_id order; arrays render
    comma-joined, winnowing structs as 'm,nf'."""
    h = hashlib.sha256()
    for doc_id, v in sorted(rows, key=lambda r: r[0]):
        if isinstance(v, (list, tuple)):
            v = ",".join(str(x) for x in v)
        h.update(f"{doc_id}\t{v}\n".encode("utf-8"))
    return h.hexdigest()


@pytest.fixture(scope="module")
def sketch_rows(spark):
    corpus = load_table(spark, SF_SMALL, "documents").select("doc_id", "text").unionByName(
        spark.createDataFrame(pd.DataFrame(PIN_TEXTS, columns=["doc_id", "text"]))
    )
    signed = corpus.select(
        "doc_id",
        shingle_hash32_pandas_udf(3)("text").alias("shingle_h32_n3"),
        shingle_hash32_pandas_udf(5)("text").alias("shingle_h32_n5"),
        minhash_signature(3, 16)("text").alias("minhash_sig_n3_k16"),
        simhash_pandas_udf(64)("text").alias("simhash_64"),
        winnowing_stats_pandas_udf(3, 4)("text").alias("w"),
    )
    out = signed.select(
        "*",
        lsh_band_keys(F.col("minhash_sig_n3_k16"), 4, 4).alias("band_keys_n3_k16_b4"),
        F.array("w.m", "w.nf").alias("winnowing_n3_w4"),
    ).drop("w")
    return out.collect()


@pytest.mark.parametrize("kind", sorted(SKETCH_PINS))
def test_sketch_byte_pins(sketch_rows, kind):
    assert _pin_digest([(r["doc_id"], r[kind]) for r in sketch_rows]) == SKETCH_PINS[kind]


def test_split_tokens_matches_jvm_tokens(spark):
    """The Python tokenizer the sketch kernels use and the JVM ``tokens()``
    the token-count columns use split every pin and edge text alike."""
    texts = [t for _, t in PIN_TEXTS] + ["", " \t\r\n ", "x"]
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    for r in df.select("text", tokens("text").alias("t")).collect():
        assert split_tokens(r["text"]) == list(r["t"]), repr(r["text"])
    assert split_tokens(None) == []


def test_shingle_h32_short_and_empty_texts():
    md5_32 = lambda s: int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)
    for text in ("", " \t\r\n ", None):
        assert shingle_h32(text, 3).size == 0
    assert shingle_h32("a\tb", 3).tolist() == [md5_32("a b")]
    assert shingle_h32("a b c d", 3).tolist() == [md5_32("a b c"), md5_32("b c d")]


# --- oracle parity of every query that reaches the sketch kernels -----------

DEDUP_QUERIES = [
    "minhash_lsh_candidates",
    "simhash_fingerprint",
    "winnowing_fingerprints",
    "repeated_ngram_audit",
    "minhash_signatures",
    "minhash_lsh_candidates_capped",
    "minhash_estimate_error",
    "dedup_clusters",
    "dedup_clusters_star",
    "dedup_keep_best_quality",
    "duplicate_ngram_coverage",
    "ngram_jaccard_pairs",
    "doc_ngram_novelty",
    "ngram_containment_pairs",
    "pagerank_dedup_graph",
    "bbit_minhash_agreement",
    "incremental_dedup_new_docs",
]


@pytest.mark.parametrize("name", DEDUP_QUERIES)
def test_dedup_query_oracle_parity(spark, name):
    q = all_queries()[name]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


@pytest.fixture(scope="module")
def no_token_dir(tmp_path_factory):
    """A documents table with one empty, one whitespace-only and one null
    text next to an exact and a near duplicate; every other table is
    sf0.001's."""
    d = tmp_path_factory.mktemp("no_token_docs")
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "the quick brown fox jumps over the lazy dog again and again tonight"),
        (3, "completely different text about spark catalyst optimizer internals"),
        (4, "the quick brown fox jumps over the lazy dog again and again today"),
        (5, ""),
        (6, "  \t\r\n "),
        (7, None),
        (8, "short doc"),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows)),
                "source": pa.array(["web"] * len(rows)),
                "n_chars": pa.array([len(r[1] or "") for r in rows], pa.int64()),
            }
        ),
        d / "documents.parquet",
    )
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{SF_SMALL}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


@pytest.mark.parametrize(
    "name",
    [
        "minhash_signatures",
        "minhash_lsh_candidates",
        "minhash_lsh_candidates_capped",
        "duplicate_ngram_coverage",
        "simhash_fingerprint",
        "dedup_clusters",
        "ngram_jaccard_pairs",
        "winnowing_fingerprints",
        "mr_api_wordcount",
        "mr_api_wordcount_combined",
    ],
)
def test_no_token_documents_follow_oracles(spark, no_token_dir, name):
    """Documents without tokens get no shingle hash: no signature (their
    band keys are the empty-slice keys, so they band-collide with each
    other exactly as in the oracles), no shingle-index row, no SimHash;
    and no word-count pair in the MapReduce facade's mappers."""
    q = all_queries()[name]
    compare_query(spark, q.fn, q.oracle, no_token_dir)
