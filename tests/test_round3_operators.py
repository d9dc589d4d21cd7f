"""Property/behavior tests for the round-3 breadth operators:
audio VAD + silence runs, video keyframes, UniMax allocation, BPE
fertility/OOV, b-bit minhash, winnowing, k-anonymity."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.operators.multimodal import (
    embeddings_as_video_assets,
    embeddings_as_wav_assets,
    video_frame_deltas,
    wav_frame_features,
)
from multithreaded_map_reduce_library_spark.plans.registry import all_queries
from tests.conftest import SF_SMALL

_Q = all_queries()


def _emb(spark, n=30):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").limit(n)


def test_wav_vad_features_match_numpy_reference(spark):
    """The decoded ZCR/peak/energy must equal a shared-nothing numpy
    recomputation from the raw embeddings (same int16 quantization)."""
    emb_rows = {r["vec_id"]: r["embedding"] for r in _emb(spark, 20).collect()}
    got = {}
    for r in wav_frame_features(embeddings_as_wav_assets(_emb(spark, 20))).collect():
        got[(r["asset_id"], r["frame_idx"])] = (r["energy"], r["zcr"], r["peak"])
    assert len(got) == 20 * 4
    for vid, vec in emb_rows.items():
        s = np.floor(np.clip(np.array(vec, dtype=np.float64), -1, 1) * 32767.0 + 0.5
                     ).astype(np.int64)
        for f in range(4):
            w = s[f * 16 : (f + 1) * 16]
            neg = w < 0
            ref = (int((w * w).sum()), int((neg[:-1] != neg[1:]).sum()),
                   int(np.abs(w).max()))
            assert got[(vid, f)] == ref, (vid, f)


def test_wav_silence_runs_invariants(spark):
    """n_silent == sum of run lengths is not emitted directly, but the
    reported (n_silent, n_runs, max_run) must be mutually consistent:
    n_runs==0 iff n_silent==0; max_run <= n_silent <= n_runs*max_run."""
    rows = _Q["multimodal_wav_silence_runs"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r["n_frames"] == 4
        if r["n_silent"] == 0:
            assert r["n_runs"] == 0 and r["max_run"] == 0
        else:
            assert 1 <= r["n_runs"] <= r["n_silent"]
            assert r["max_run"] <= r["n_silent"] <= r["n_runs"] * r["max_run"]
        # not every frame can be strictly below the asset mean
        assert r["n_silent"] < r["n_frames"]


def test_video_keyframe_is_argmax_of_deltas(spark):
    deltas = {}
    for r in video_frame_deltas(embeddings_as_video_assets(_emb(spark, 25))).collect():
        deltas.setdefault(r["asset_id"], {})[r["frame_idx"]] = r["l1_delta"]
    out = {r["asset_id"]: r for r in
           _Q["multimodal_keyframe_select"].fn(spark, SF_SMALL).collect()}
    for aid, by_frame in deltas.items():
        assert set(by_frame) == {1, 2, 3}
        best = max(by_frame.values())
        expect_idx = min(f for f, d in by_frame.items() if d == best)
        r = out[aid]
        assert (r["keyframe_idx"], r["max_delta"]) == (expect_idx, best)
        assert r["total_delta"] == sum(by_frame.values())


def test_video_kernel_rejects_garbage(spark):
    df = spark.createDataFrame([(1, bytearray(b"nope"))], "asset_id long, payload binary")
    with pytest.raises(Exception, match="RAWV"):
        video_frame_deltas(df).collect()


def test_video_kernel_odd_body_names_asset(spark):
    """A 4x4x4 header needs 128 body bytes; 127 is truncated, not a
    numpy buffer-size error."""
    import struct

    raw = b"RAWV" + struct.pack("<HHI", 4, 4, 4) + bytes(127)
    df = spark.createDataFrame([(7, bytearray(raw))], "asset_id long, payload binary")
    with pytest.raises(Exception, match="asset 7: truncated RAWV body"):
        video_frame_deltas(df).collect()


def test_unimax_budget_conservation_and_caps(spark):
    rows = _Q["unimax_corpus_allocation"].fn(spark, SF_SMALL).collect()
    total = sum(r["n_tokens"] for r in rows)
    assert sum(r["alloc_tokens"] for r in rows) == total  # budget spent exactly
    for r in rows:
        assert r["cap_tokens"] == (3 * r["n_tokens"]) // 2
        assert r["alloc_tokens"] <= r["cap_tokens"]
        if r["capped"]:
            assert r["alloc_tokens"] == r["cap_tokens"]
    # uncapped languages all receive within 1 token of each other
    unc = sorted(r["alloc_tokens"] for r in rows if not r["capped"])
    if unc:
        assert unc[-1] - unc[0] <= 1


def test_bpe_fertility_and_oov_consistency(spark):
    fert = {r["lang"]: r for r in _Q["bpe_fertility_by_lang"].fn(spark, SF_SMALL).collect()}
    oov = {r["lang"]: r for r in _Q["bpe_oov_rate_by_lang"].fn(spark, SF_SMALL).collect()}
    assert set(fert) == set(oov)
    for lang, fr in fert.items():
        ov = oov[lang]
        # fertility counts only vocab-covered words; OOV counts the rest
        assert fr["n_words"] == ov["n_words"] - ov["n_oov"]
        # a BPE word is at least 1 token
        assert fr["n_bpe_tokens"] >= fr["n_words"]
        assert fr["fertility_e4"] >= 10000


def test_bbit_estimator_bounds(spark):
    rows = _Q["bbit_minhash_agreement"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        # the 1-bit agreement can only exceed-or-match full agreement:
        # equal components agree in their low bit too
        assert r["n_agree_b1"] >= r["n_agree_full"]
        assert 0 <= r["est_b1_e6"] <= 1_000_000
        assert 0 <= r["est_full_e6"] <= 1_000_000


def test_winnowing_shared_run_guarantee(spark, tmp_path):
    """Two docs sharing a >= w+n-1 = 6 word run MUST share a fingerprint
    (the winnowing paper's detection floor)."""
    shared = "alpha beta gamma delta epsilon zeta"  # 6 words
    rows = [
        (1, f"one two three {shared} four five six", "en", "w", 1),
        (2, f"{shared} seven eight nine ten eleven twelve", "en", "w", 1),
        (3, "completely different words entirely here now also more", "en", "w", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    from multithreaded_map_reduce_library_spark.functions.text import (
        shingle_hash32_pandas_udf,
    )
    from pyspark.sql.window import Window

    docs = spark.read.parquet(f"{tmp_path}/documents.parquet")
    hashed = docs.select("doc_id", shingle_hash32_pandas_udf(3)("text").alias("_h"))
    pos = hashed.select(
        "doc_id", F.posexplode("_h").alias("p0", "h")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "h")
    n = pos.groupBy("doc_id").agg(F.count("*").alias("n_pos"))
    w = Window.partitionBy("doc_id").orderBy("p").rowsBetween(Window.currentRow, 3)
    fp = (
        pos.join(n, "doc_id")
        .withColumn("fp", F.min("h").over(w))
        .filter(F.col("p") <= F.col("n_pos") - 3)
        .select("doc_id", "fp")
        .distinct()
        .collect()
    )
    sets: dict[int, set] = {}
    for r in fp:
        sets.setdefault(r["doc_id"], set()).add(r["fp"])
    assert sets[1] & sets[2], "shared 6-word run must share a fingerprint"
    assert not (sets[1] & sets[3])
    assert not (sets[2] & sets[3])


def test_winnowing_density_near_theory(spark):
    """Expected winnowing density is 2/(w+1) = 0.4 for random hashes;
    corpus-wide mean should sit near it (loose band)."""
    rows = _Q["winnowing_fingerprints"].fn(spark, SF_SMALL).collect()
    dens = [r["density_e4"] for r in rows if r["n_windows"] >= 20]
    assert dens
    mean = sum(dens) / len(dens)
    assert 3000 < mean < 5500, mean


def test_k_anonymity_never_releases_small_cells(spark):
    rows = _Q["k_anonymity_release"].fn(spark, SF_SMALL).collect()
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    cells = (
        ev.select("event_type", F.col("ts").cast("timestamp").cast("date").alias("day"),
                  "user_id")
        .groupBy("event_type", "day")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .collect()
    )
    small = {(r["event_type"], r["day"]) for r in cells if r["n_users"] < 5}
    released = {(r["event_type"], r["day"]) for r in rows}
    assert not (small & released)
    n_suppressed = {r["n_suppressed"] for r in rows}
    assert n_suppressed == {len(small)} or (not rows and not small)


def test_curriculum_order_properties(spark):
    rows = _Q["curriculum_order_docs"].fn(spark, SF_SMALL).collect()
    n = len(rows)
    assert n == spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    # quartiles are balanced within 1 and ordered by quality
    from collections import defaultdict
    by_bucket = defaultdict(list)
    for r in rows:
        by_bucket[r["bucket"]].append(r["quality_e4"])
    sizes = sorted(len(v) for v in by_bucket.values())
    assert set(by_bucket) == {1, 2, 3, 4}
    assert sizes[-1] - sizes[0] <= 1
    assert min(by_bucket[1]) >= max(by_bucket[4])
    # per-shard pos is 1..len(shard) and bucket-monotone in pos
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r["shard"]].append((r["pos"], r["bucket"]))
    for shard, items in by_shard.items():
        items.sort()
        assert [p for p, _ in items] == list(range(1, len(items) + 1))
        buckets = [b for _, b in items]
        assert buckets == sorted(buckets), f"shard {shard} not curriculum-ordered"


def test_merkle_roots_sum_to_corpus_signature(spark):
    shards = _Q["merkle_shard_roots"].fn(spark, SF_SMALL).collect()
    sig = _Q["corpus_content_signature"].fn(spark, SF_SMALL).collect()[0]
    assert sum(r["n_docs"] for r in shards) == sig["n_docs"]
    assert sum(r["n_bytes"] for r in shards) == sig["n_bytes"]
    assert sum(r["shard_sig"] for r in shards) % (1 << 48) == sig["content_sig"]
    # single-doc edit flips exactly one shard digest: simulate by
    # recomputing over a corpus with one doc dropped
    import duckdb
    con = duckdb.connect()
    one = con.execute(
        f"""SELECT CAST(instr('0123456789abcdef',
                   substr(md5('42-' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS BIGINT)
            FROM '{SF_SMALL}/documents.parquet' LIMIT 1"""
    ).fetchone()[0]
    assert any(r["shard"] == one for r in shards)


def test_fim_splits_reassemble_exactly(spark):
    rows = _Q["fim_training_splits"].fn(spark, SF_SMALL).collect()
    docs = {r["doc_id"]: r["text"] for r in
            spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()}
    assert rows
    for r in rows:
        toks = [t for t in docs[r["doc_id"]].replace("\t", " ").replace("\n", " ")
                .replace("\r", " ").split(" ") if t]
        assert r["n"] == len(toks)
        assert 1 <= r["cut1"] <= r["cut2"] <= r["n"] - 1
        assert r["n_prefix"] + r["n_middle"] + r["n_suffix"] == r["n"]
        pre = " ".join(toks[: r["cut1"]])
        mid = " ".join(toks[r["cut1"]: r["cut2"]])
        suf = " ".join(toks[r["cut2"]:])
        assert r["psm_text"] == f"<PRE> {pre} <SUF> {suf} <MID> {mid}"


def test_blocklist_whole_word_only(spark, tmp_path):
    rows = [
        (1, "data DATA database", "en", "w", 1),   # 2 whole-word hits, not 'database'
        (2, "secret error system data", "en", "w", 1),  # 4 hits -> blocked
        (3, "nothing to see", "en", "w", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in
           _Q["blocklist_term_hits"].fn(spark, str(tmp_path)).collect()}
    assert out[1]["hits_data"] == 2 and out[1]["total_hits"] == 2 and out[1]["blocked"] == 0
    assert out[2]["total_hits"] == 4 and out[2]["blocked"] == 1
    assert out[3]["total_hits"] == 0 and out[3]["blocked"] == 0


def test_winnowing_kernel_matches_expression_definition(spark):
    """The kernel's NumPy sliding minima must equal a higher-order
    expression over the same shingle hashes (the windows the oracle's
    list_slice/list_aggregate replays), per doc."""
    from multithreaded_map_reduce_library_spark.functions.text import (
        shingle_hash32_pandas_udf,
    )
    from multithreaded_map_reduce_library_spark.operators.dedup import (
        winnowing_stats_pandas_udf,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(60)
    stats = winnowing_stats_pandas_udf(3, 4)
    got = {r["doc_id"]: (r["s"]["m"], r["s"]["nf"])
           for r in docs.select("doc_id", stats("text").alias("s")).collect()}
    hv = docs.select("doc_id", shingle_hash32_pandas_udf(3)("text").alias("h"),
                     ).select("doc_id", "h", F.size("h").alias("m"))
    fps_arr = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.col("m") - F.lit(3)),
        lambda i: F.array_min(F.slice(F.col("h"), i, 4)),
    ))
    ref = {r["doc_id"]: (r["m"], r["nf"]) for r in hv.select(
        "doc_id", "m",
        F.when(F.col("m") >= 4, F.size(fps_arr)).otherwise(F.lit(0)).alias("nf"),
    ).collect()}
    assert got == ref


def test_session_overlap_bucketing_is_equijoin(spark):
    """The interval join must be a bucket equi-join (SortMergeJoin or
    shuffled hash on 'bucket'), never a cartesian/BNLJ all-pairs."""
    import contextlib, io
    df = _Q["session_overlap_pairs"].fn(spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = df.collect()
    for r in rows:
        assert r["n_pairs"] > 0
        assert r["total_overlap_us"] >= 0


def test_incremental_dedup_flags_known_duplicates(spark, tmp_path):
    """A new-batch doc that is a verbatim copy of an existing doc must
    collide on ALL 4 bands; a unique new doc on none. doc_ids are chosen
    so md5('inc-'||id) puts 1,2 in 'existing' (<'d') and the copies in
    'new' (>='d')."""
    import hashlib
    existing_ids = [i for i in range(1, 200)
                    if hashlib.md5(f"inc-{i}".encode()).hexdigest()[0] < "d"]
    new_ids = [i for i in range(1, 200)
               if hashlib.md5(f"inc-{i}".encode()).hexdigest()[0] >= "d"]
    dup_src = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq = "totally different words never seen anywhere else at all ever"
    rows = [
        (existing_ids[0], dup_src, "en", "w", 1),
        (new_ids[0], dup_src, "en", "w", 1),   # verbatim copy -> 4 collisions
        (new_ids[1], uniq, "en", "w", 1),      # novel
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in
           _Q["incremental_dedup_new_docs"].fn(spark, str(tmp_path)).collect()}
    assert set(out) == {new_ids[0], new_ids[1]}
    assert out[new_ids[0]]["n_colliding_bands"] == 4
    assert out[new_ids[0]]["is_novel"] == 0
    assert out[new_ids[1]]["n_colliding_bands"] == 0
    assert out[new_ids[1]]["is_novel"] == 1


def test_semantic_decontamination_invariants(spark):
    rows = _Q["semantic_decontamination"].fn(spark, SF_SMALL).collect()
    assert rows
    import hashlib
    n_emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").count()
    expect_eval = sum(
        1 for r in spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .select("vec_id").collect()
        if hashlib.md5(f"semdecon-{r['vec_id']}".encode()).hexdigest()[0] >= "d"
    )
    assert len(rows) == expect_eval < n_emb
    for r in rows:
        if r["n_candidates"] == 0:
            assert r["max_sim_e6"] == 0 and r["contaminated"] == 0
        assert -1_000_000 <= r["max_sim_e6"] <= 1_000_000
        # the flag thresholds the raw double; the display is half-up
        # rounded, so exactly-at-the-grid-boundary values are ambiguous
        if r["max_sim_e6"] != 500_000:
            assert r["contaminated"] == (1 if r["max_sim_e6"] > 500_000 else 0)
