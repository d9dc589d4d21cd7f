"""Round-4 session-3 operator invariants: exact Python replays of the
ranking-metric, distribution-stat, community, valuation, and hashing
queries (pipelines 91-94) — properties independent of the DuckDB oracle,
so a cross-engine coincidence can't mask a shared logic bug.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import pytest
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.plans.registry import all_queries
from multithreaded_map_reduce_library_spark.sources.catalog import load_table

from .conftest import SF_SMALL
from .oracle_util import compare_query


def _docs_scored(spark):
    """(score, is_en) per document, replayed with plain Python."""
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text", "lang").collect()
    out = []
    for r in sorted(docs, key=lambda r: r["doc_id"]):
        out.append((r["doc_id"], r["text"].count(" the "), r["lang"] == "en"))
    return out


def _ir(num: int, den: int, k: int) -> int:
    """Half-up integer ratio, truncating div (mirrors functions/grid.py)."""
    q = (num * 10**k + den // 2) // den
    return q


# --------------------------------------------------------------------------
# classifier_auc_exact (pipeline91)
# --------------------------------------------------------------------------


def test_auc_matches_pairwise_definition(spark):
    row = all_queries()["classifier_auc_exact"].fn(spark, SF_SMALL).collect()[0]
    scored = _docs_scored(spark)
    pos = [s for _, s, en in scored if en]
    neg = [s for _, s, en in scored if not en]
    assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)
    # doubled Mann-Whitney U straight from the pairwise definition:
    # 2U = 2*#(pos>neg) + #(pos==neg)
    u2 = sum(2 for p in pos for n in neg if p > n) + sum(
        1 for p in pos for n in neg if p == n
    )
    assert row["u2_stat"] == u2
    assert row["auc_e6"] == _ir(u2, 2 * len(pos) * len(neg), 6)


# --------------------------------------------------------------------------
# average_precision_ranking (pipeline91)
# --------------------------------------------------------------------------


def test_average_precision_exact_replay(spark):
    row = all_queries()["average_precision_ranking"].fn(spark, SF_SMALL).collect()[0]
    scored = _docs_scored(spark)
    ranked = sorted(scored, key=lambda t: (-t[1], t[0]))
    terms, cum = [], 0
    for i, (_, _, en) in enumerate(ranked, start=1):
        if en:
            cum += 1
            terms.append(_ir(cum, i, 6))
    assert row["n_docs"] == len(scored)
    assert row["n_pos"] == len(terms)
    assert row["ap_e6"] == _ir(sum(terms), len(terms), 0)
    # AP of a ranking is never worse than the base rate floor of 0 and
    # never exceeds 1
    assert 0 <= row["ap_e6"] <= 1_000_000


# --------------------------------------------------------------------------
# retrieval_mrr_eval (pipeline91)
# --------------------------------------------------------------------------


def test_mrr_exact_replay(spark):
    row = all_queries()["retrieval_mrr_eval"].fn(spark, SF_SMALL).collect()[0]
    ev = load_table(spark, SF_SMALL, "events").select(
        "user_id", "event_id", "event_type", "value"
    ).collect()
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    rrs, p1 = [], 0
    for rows in by_user.values():
        rows.sort(
            key=lambda r: (
                r["value"] is None,  # NULLS LAST under DESC
                -(r["value"] if r["value"] is not None else 0.0),
                r["event_id"],
            )
        )
        first = next(
            (i for i, r in enumerate(rows, 1) if r["event_type"] == "purchase"), None
        )
        if first is not None:
            rrs.append(_ir(1, first, 6))
            p1 += first == 1
    assert row["n_users"] == len(rrs)
    assert row["mrr_e6"] == _ir(sum(rrs), len(rrs), 0)
    assert row["p_at_1_e6"] == _ir(p1, len(rrs), 6)


# --------------------------------------------------------------------------
# histogram_emd_drift (pipeline92)
# --------------------------------------------------------------------------


def test_emd_exact_replay_and_bounds(spark):
    row = all_queries()["histogram_emd_drift"].fn(spark, SF_SMALL).collect()[0]
    ev = load_table(spark, SF_SMALL, "events").select("ts", "event_type", "value").collect()
    import math

    from datetime import date

    epoch = date(1970, 1, 1)
    wd, we = Counter(), Counter()
    for r in ev:
        if r["event_type"] != "purchase" or r["value"] is None:
            continue
        b = math.floor(r["value"] * 100.0 + 0.5) // 1000
        if ((r["ts"].date() - epoch).days % 7) in (2, 3):
            we[b] += 1
        else:
            wd[b] += 1
    n1, n2 = sum(wd.values()), sum(we.values())
    assert (row["n_weekday"], row["n_weekend"]) == (n1, n2)
    bins = sorted(set(wd) | set(we))
    assert row["n_bins"] == len(bins)
    c1 = c2 = emd = 0
    for b in bins:
        c1 += wd[b]
        c2 += we[b]
        emd += abs(c1 * n2 - c2 * n1)
    assert row["emd_num"] == emd
    # EMD in bin units is bounded by the bin span
    assert 0 <= row["emd_bins_e6"] <= (bins[-1] - bins[0]) * 1_000_000


# --------------------------------------------------------------------------
# spearman_daily_rank_corr (pipeline92)
# --------------------------------------------------------------------------


def test_spearman_exact_replay(spark):
    row = all_queries()["spearman_daily_rank_corr"].fn(spark, SF_SMALL).collect()[0]
    ev = load_table(spark, SF_SMALL, "events").select("ts", "event_type", "value").collect()
    import math

    days: dict = {}
    for r in ev:
        d = r["ts"].date()
        cents, cnt = days.get(d, (0, 0))
        if r["event_type"] == "purchase" and r["value"] is not None:
            cents += math.floor(r["value"] * 100.0 + 0.5)
        days[d] = (cents, cnt + 1)
    xs = [c for c, _ in days.values()]
    ys = [n for _, n in days.values()]

    def r2(vals):
        return [
            2 * sum(1 for o in vals if o < v) + sum(1 for o in vals if o == v) + 1
            for v in vals
        ]

    rx, ry = r2(xs), r2(ys)
    n = len(xs)
    sx, sy = sum(rx), sum(ry)
    sxx = sum(v * v for v in rx)
    syy = sum(v * v for v in ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    assert row["n_days"] == n
    assert row["spearman_num"] == n * sxy - sx * sy
    assert row["var_x"] == n * sxx - sx * sx
    assert row["var_y"] == n * syy - sy * sy
    rho = (n * sxy - sx * sy) / math.sqrt(
        float(n * sxx - sx * sx) * float(n * syy - sy * sy)
    )
    assert row["rho_e6"] == math.floor(rho * 1e6 + 0.5)
    assert -1_000_000 <= row["rho_e6"] <= 1_000_000


# --------------------------------------------------------------------------
# label_propagation_communities (pipeline93)
# --------------------------------------------------------------------------


def _copurchase_adj(spark):
    ev = load_table(spark, SF_SMALL, "events").select("ts", "event_type", "user_id").collect()
    slots: dict = {}
    for r in ev:
        if r["event_type"] != "purchase":
            continue
        slots.setdefault((r["ts"].date(), r["ts"].hour), set()).add(r["user_id"])
    adj: dict = {}
    for users in slots.values():
        us = sorted(users)
        for i, a in enumerate(us):
            for b in us[i + 1 :]:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
    return adj


def test_label_propagation_exact_replay(spark):
    rows = all_queries()["label_propagation_communities"].fn(spark, SF_SMALL).collect()
    adj = _copurchase_adj(spark)
    labels = {u: u for u in adj}
    for _ in range(3):  # 3 synchronous rounds, majority-then-min
        labels = {
            u: min(
                Counter(labels[v] for v in nbrs).items(),
                key=lambda kv: (-kv[1], kv[0]),
            )[0]
            for u, nbrs in adj.items()
        }
    got = {r["user_id"]: r["community"] for r in rows}
    assert got == labels
    sizes = Counter(labels.values())
    for r in rows:
        assert r["community_size"] == sizes[r["community"]]


# --------------------------------------------------------------------------
# knn_shapley_valuation (pipeline94)
# --------------------------------------------------------------------------


def test_knn_shapley_exact_replay(spark):
    rows = all_queries()["knn_shapley_valuation"].fn(spark, SF_SMALL).collect()
    emb = load_table(spark, SF_SMALL, "embeddings").collect()
    import math

    def cos(a, b):
        d = na = nb = 0.0
        for x, y in zip(a, b):
            d += float(x) * float(y)
        for x in a:
            na += float(x) * float(x)
        for y in b:
            nb += float(y) * float(y)
        return d / (math.sqrt(na) * math.sqrt(nb))

    # Round-5 cap (VERDICT r4 item 3): first 64 test ids by vec_id — the
    # broadcast side is constant-bounded, corpus-independent.
    tests = sorted(
        (r for r in emb if r["vec_id"] % 20 == 0), key=lambda r: r["vec_id"]
    )[:64]
    train = [r for r in emb if r["vec_id"] % 20 != 0]
    SCALE, K = 10**9, 3

    def tdiv(a, b):  # truncate toward zero, like both engines' integer div
        q = abs(a) // b
        return q if a >= 0 else -q

    totals = Counter()
    for q in tests:
        ranked = sorted(
            train,
            key=lambda t: (-cos(q["embedding"], t["embedding"]), t["vec_id"]),
        )
        nn = len(ranked)
        m = [1 if t["label"] == q["label"] else 0 for t in ranked]
        s = [0] * nn
        acc = tdiv(m[-1] * SCALE, nn)
        s[-1] = acc
        for i in range(nn - 1, 0, -1):  # 1-based index i of the earlier point
            acc += tdiv((m[i - 1] - m[i]) * min(K, i) * SCALE, K * i)
            s[i - 1] = acc
        for t, v in zip(ranked, s):
            totals[t["vec_id"]] += v
    got = {r["train_id"]: r["shapley_sum_e9"] for r in rows}
    assert got == dict(totals)
    assert all(r["n_tests"] == len(tests) for r in rows)


# --------------------------------------------------------------------------
# feature_hash_collision_audit (pipeline94)
# --------------------------------------------------------------------------


def test_feature_hash_audit_exact_replay(spark):
    row = all_queries()["feature_hash_collision_audit"].fn(spark, SF_SMALL).collect()[0]
    docs = load_table(spark, SF_SMALL, "documents").select("text").collect()
    vocab = set()
    for r in docs:
        for tok in r["text"].replace("\t", " ").replace("\r", " ").replace("\n", " ").split(" "):
            if tok:
                vocab.add(tok)
    buckets = Counter(
        int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 4096 for t in vocab
    )
    assert row["vocab_size"] == len(vocab)
    assert row["buckets_used"] == len(buckets)
    assert row["colliding_tokens"] == sum(n for n in buckets.values() if n > 1)
    assert row["max_bucket_load"] == max(buckets.values())
    assert row["collision_rate_e6"] == _ir(len(vocab) - len(buckets), len(vocab), 6)
    assert row["load_factor_e6"] == _ir(len(vocab), 4096, 6)


# --------------------------------------------------------------------------
# consistent_hash_ring_churn (pipeline95)
# --------------------------------------------------------------------------


def test_ring_churn_exact_replay(spark):
    row = all_queries()["consistent_hash_ring_churn"].fn(spark, SF_SMALL).collect()[0]
    docs = load_table(spark, SF_SMALL, "documents").select("doc_id").collect()
    ring8 = sorted(
        int(hashlib.md5(f"ring{s}#{v}".encode()).hexdigest()[:8], 16) * 64 + s
        for s in range(8)
        for v in range(16)
    )
    ring7 = [p for p in ring8 if p % 64 != 7]

    def assign(kpos, ring):
        at_or_after = [p for p in ring if p >= kpos * 64]
        return (at_or_after[0] if at_or_after else ring[0]) % 64

    moved = 0
    loads = Counter()
    for r in docs:
        kpos = int(hashlib.md5(f"k{r['doc_id']}".encode()).hexdigest()[:8], 16)
        s8, s7 = assign(kpos, ring8), assign(kpos, ring7)
        loads[s8] += 1
        moved += s8 != s7
    assert row["n_keys"] == len(docs)
    assert row["n_moved"] == moved
    assert row["moved_rate_e6"] == _ir(moved, len(docs), 6)
    assert row["max_shard_load"] == max(loads.values())
    assert row["min_shard_load"] == min(loads.values())
    # the consistent-hashing contract: only the removed shard's keys move
    assert moved == loads[7]


# --------------------------------------------------------------------------
# harmonic_centrality_bounded (pipeline95)
# --------------------------------------------------------------------------


def test_harmonic_centrality_exact_replay(spark):
    rows = all_queries()["harmonic_centrality_bounded"].fn(spark, SF_SMALL).collect()
    adj = _copurchase_adj(spark)
    got = {r["user_id"]: r for r in rows}
    assert set(got) == set(adj)
    for u in adj:
        # exact BFS distances from u, capped at 3
        dist = {u: 0}
        frontier = [u]
        for d in (1, 2, 3):
            nxt = []
            for x in frontier:
                for v in adj[x]:
                    if v not in dist:
                        dist[v] = d
                        nxt.append(v)
            frontier = nxt
        c = Counter(d for v, d in dist.items() if v != u)
        r = got[u]
        assert (r["n_dist1"], r["n_dist2"], r["n_dist3"]) == (c[1], c[2], c[3])
        assert r["harmonic_e6"] == c[1] * 1_000_000 + c[2] * 500_000 + c[3] * 333_333


# --------------------------------------------------------------------------
# unigram_lm_segmentation (pipeline96)
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name",
    [
        "unigram_lm_segmentation",
        "wordpiece_greedy_regret",
        "psi_value_drift",
        "hash_partition_balance_audit",
    ],
)
def test_pipeline96_97_oracle_parity(spark, name):
    """DuckDB oracle parity at sf0.001 for the tokenizer queries (one
    gram shuffle, no checkpoints) and the two ``events`` readers, which
    read through the memoized ``nanosAsLong`` schema."""
    q = all_queries()[name]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


def test_unigram_segmentation_exact_replay(spark):
    import math

    rows = all_queries()["unigram_lm_segmentation"].fn(spark, SF_SMALL).collect()
    docs = load_table(spark, SF_SMALL, "documents").select("text").collect()
    toks = []
    for r in docs:
        for t in r["text"].replace("\t", " ").replace("\r", " ").replace("\n", " ").split(" "):
            if t:
                toks.append(t)
    gcnt = {1: Counter(), 2: Counter(), 3: Counter()}
    for t in toks:
        for n in (1, 2, 3):
            for i in range(len(t) - n + 1):
                gcnt[n][t[i : i + n]] += 1
    total = sum(gcnt[1].values())
    pieces = dict(gcnt[1])
    for n, k in ((2, 64), (3, 32)):
        top = sorted(gcnt[n].items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        pieces.update(dict(top))
    cost = {
        g: math.floor(math.log(total / c) * 1e6 + 0.5) for g, c in pieces.items()
    }
    wcnt = Counter(t for t in toks if len(t) <= 16)
    words = sorted(wcnt.items(), key=lambda kv: (-kv[1], kv[0]))[:40]
    got = {r["word"]: r for r in rows}
    assert set(got) == {w for w, _ in words}
    for w, freq in words:
        # exact DP over (cost*32 + pieces) packed values
        INF = float("inf")
        dp = [0] + [INF] * len(w)
        for pos in range(1, len(w) + 1):
            for l in (1, 2, 3):
                if l <= pos and w[pos - l : pos] in cost:
                    cand = dp[pos - l] + cost[w[pos - l : pos]] * 32 + 1
                    if cand < dp[pos]:
                        dp[pos] = cand
        r = got[w]
        assert r["freq"] == freq and r["word_len"] == len(w)
        assert r["seg_cost_e6"] == dp[len(w)] // 32
        assert r["n_pieces"] == dp[len(w)] % 32
        assert 1 <= r["n_pieces"] <= len(w)


# --------------------------------------------------------------------------
# wordpiece_greedy_regret (pipeline97)
# --------------------------------------------------------------------------


def test_wordpiece_regret_exact_replay(spark):
    import math

    rows = all_queries()["wordpiece_greedy_regret"].fn(spark, SF_SMALL).collect()
    opt = {
        r["word"]: r
        for r in all_queries()["unigram_lm_segmentation"].fn(spark, SF_SMALL).collect()
    }
    docs = load_table(spark, SF_SMALL, "documents").select("text").collect()
    toks = []
    for r in docs:
        for t in r["text"].replace("\t", " ").replace("\r", " ").replace("\n", " ").split(" "):
            if t:
                toks.append(t)
    gcnt = {1: Counter(), 2: Counter(), 3: Counter()}
    for t in toks:
        for n in (1, 2, 3):
            for i in range(len(t) - n + 1):
                gcnt[n][t[i : i + n]] += 1
    total = sum(gcnt[1].values())
    pieces = dict(gcnt[1])
    for n, k in ((2, 64), (3, 32)):
        pieces.update(dict(sorted(gcnt[n].items(), key=lambda kv: (-kv[1], kv[0]))[:k]))
    cost = {g: math.floor(math.log(total / c) * 1e6 + 0.5) for g, c in pieces.items()}
    got = {r["word"]: r for r in rows}
    assert set(got) == set(opt)
    for w, r in got.items():
        # greedy longest-match walk
        pos, gcost, gp = 0, 0, 0
        while pos < len(w):
            for l in (3, 2, 1):
                if pos + l <= len(w) and w[pos : pos + l] in cost:
                    gcost += cost[w[pos : pos + l]]
                    gp += 1
                    pos += l
                    break
        assert (r["greedy_cost_e6"], r["greedy_pieces"]) == (gcost, gp)
        o = opt[w]
        assert (r["opt_cost_e6"], r["opt_pieces"]) == (o["seg_cost_e6"], o["n_pieces"])
        assert r["regret_e6"] == gcost - o["seg_cost_e6"]
        assert r["regret_e6"] >= 0  # greedy can never beat the DP optimum


# --------------------------------------------------------------------------
# psi_value_drift (pipeline97)
# --------------------------------------------------------------------------


def test_psi_exact_replay_and_nonnegative(spark):
    import math

    from datetime import date

    row = all_queries()["psi_value_drift"].fn(spark, SF_SMALL).collect()[0]
    ev = load_table(spark, SF_SMALL, "events").select("ts", "event_type", "value").collect()
    epoch = date(1970, 1, 1)
    wd, we = Counter(), Counter()
    for r in ev:
        if r["event_type"] != "purchase" or r["value"] is None:
            continue
        b = math.floor(r["value"] * 100.0 + 0.5) // 1000
        (we if ((r["ts"].date() - epoch).days % 7) in (2, 3) else wd)[b] += 1
    bins = sorted(set(wd) | set(we))
    t1, t2, nb = sum(wd.values()), sum(we.values()), len(bins)
    psi = 0
    for b in bins:
        p1 = (wd[b] + 1) / (t1 + nb)
        p2 = (we[b] + 1) / (t2 + nb)
        psi += math.floor((p1 - p2) * math.log(p1 / p2) * 1e9 + 0.5)
    assert (row["n_weekday"], row["n_weekend"], row["n_bins"]) == (t1, t2, nb)
    assert row["psi_e9"] == psi
    # every (p1-p2)ln(p1/p2) term is >= 0, so the quantized sum can dip
    # below zero only by rounding — bounded by half a unit per bin
    assert row["psi_e9"] >= -nb


# --------------------------------------------------------------------------
# hash_partition_balance_audit (pipeline97)
# --------------------------------------------------------------------------


def test_partition_balance_exact_replay(spark):
    from multithreaded_map_reduce_library_spark.functions.hashing import djb2

    row = all_queries()["hash_partition_balance_audit"].fn(spark, SF_SMALL).collect()[0]
    ev = load_table(spark, SF_SMALL, "events").select("user_id").distinct().collect()
    loads = Counter(djb2(str(r["user_id"])) % 32 for r in ev)
    n = sum(loads.values())
    assert row["n_keys"] == n
    assert row["n_partitions_used"] == len(loads)
    assert row["max_load"] == max(loads.values())
    assert row["min_load"] == min(loads.values())
    assert row["max_over_avg_e6"] == _ir(max(loads.values()) * 32, n, 6)
    assert row["min_over_avg_e6"] == _ir(min(loads.values()) * 32, n, 6)


# --------------------------------------------------------------------------
# ndcg_at_k_ranking (pipeline98)
# --------------------------------------------------------------------------


def test_ndcg_exact_replay(spark):
    import math

    row = all_queries()["ndcg_at_k_ranking"].fn(spark, SF_SMALL).collect()[0]
    ev = load_table(spark, SF_SMALL, "events").select(
        "user_id", "event_id", "event_type", "value"
    ).collect()
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    rel = {"purchase": 3, "signup": 2, "click": 1}
    ndcgs = []
    for rows in by_user.values():
        gains = [(1 << rel.get(r["event_type"], 0)) - 1 for r in rows]
        order = sorted(
            range(len(rows)),
            key=lambda i: (
                rows[i]["value"] is None,
                -(rows[i]["value"] if rows[i]["value"] is not None else 0.0),
                rows[i]["event_id"],
            ),
        )

        def dcg(seq):
            return sum(
                math.floor(g / math.log2(i + 2) * 1e9 + 0.5)
                for i, g in enumerate(seq[:10])
            )

        d = dcg([gains[i] for i in order])
        ideal = dcg(sorted(gains, reverse=True))
        if ideal > 0:
            ndcgs.append(_ir(d, ideal, 6))
    assert row["n_users"] == len(ndcgs)
    assert row["mean_ndcg_e6"] == _ir(sum(ndcgs), len(ndcgs), 0)
    assert row["min_ndcg_e6"] == min(ndcgs)
    assert row["max_ndcg_e6"] == max(ndcgs)
    assert 0 < row["mean_ndcg_e6"] <= 1_000_001  # half-up rounding headroom


# --------------------------------------------------------------------------
# dictionary_encoding_audit (pipeline98)
# --------------------------------------------------------------------------


def test_dictionary_encoding_exact_replay(spark):
    import math

    rows = {r["column_name"]: r for r in
            all_queries()["dictionary_encoding_audit"].fn(spark, SF_SMALL).collect()}
    ev = load_table(spark, SF_SMALL, "events").select("event_type").collect()
    docs = load_table(spark, SF_SMALL, "documents").select("lang", "source").collect()
    for cname, vals in (
        ("events.event_type", [r["event_type"] for r in ev]),
        ("documents.lang", [r["lang"] for r in docs]),
        ("documents.source", [r["source"] for r in docs]),
    ):
        vals = [v for v in vals if v is not None]
        distinct = set(vals)
        bits = max(1, math.ceil(math.log2(len(distinct))))
        raw = sum(len(v) for v in vals)
        dictb = sum(len(v) + 4 for v in distinct)
        payload = (len(vals) * bits + 7) // 8
        r = rows[cname]
        assert (r["n_rows"], r["n_distinct"], r["bits_per_code"]) == (
            len(vals), len(distinct), bits,
        )
        assert (r["raw_bytes"], r["dict_bytes"], r["payload_bytes"]) == (
            raw, dictb, payload,
        )
        assert r["compression_e6"] == _ir(raw, payload + dictb, 6)
        assert r["compression_e6"] > 1_000_000  # encoding must actually win here


# --------------------------------------------------------------------------
# hodges_lehmann_daily (pipeline98)
# --------------------------------------------------------------------------


def test_hodges_lehmann_exact_replay(spark):
    row = all_queries()["hodges_lehmann_daily"].fn(spark, SF_SMALL).collect()[0]
    y = _daily_cents(spark)
    walsh = sorted(y[i] + y[j] for i in range(len(y)) for j in range(i, len(y)))
    m = len(walsh)
    assert row["n_days"] == len(y)
    assert row["n_pairs"] == m
    assert row["hl_x4_cents"] == walsh[(m + 1) // 2 - 1] + walsh[(m + 2) // 2 - 1]
    # HL sits between the min and max daily revenue (location estimator)
    assert 4 * min(y) <= row["hl_x4_cents"] <= 4 * max(y)


def _daily_cents(spark):
    import math

    ev = load_table(spark, SF_SMALL, "events").select("ts", "event_type", "value").collect()
    days: dict = {}
    for r in ev:
        if r["event_type"] == "purchase" and r["value"] is not None:
            d = r["ts"].date()
            days[d] = days.get(d, 0) + math.floor(r["value"] * 100.0 + 0.5)
    return [days[d] for d in sorted(days)]


# --------------------------------------------------------------------------
# anova_value_by_type (pipeline99)
# --------------------------------------------------------------------------


def test_anova_exact_replay(spark):
    import math

    row = all_queries()["anova_value_by_type"].fn(spark, SF_SMALL).collect()[0]
    ev = load_table(spark, SF_SMALL, "events").select("event_type", "value").collect()
    groups: dict = {}
    for r in ev:
        if r["value"] is not None:
            groups.setdefault(r["event_type"], []).append(
                math.floor(r["value"] * 100.0 + 0.5)
            )
    k = len(groups)
    n = sum(len(v) for v in groups.values())
    s = sum(sum(v) for v in groups.values())
    q = sum(x * x for v in groups.values() for x in v)
    sg2n = sum(float(sum(v)) * float(sum(v)) / float(len(v)) for v in groups.values())
    ssb = sg2n - float(s) * float(s) / float(n)
    ssw = float(q) - sg2n
    sst = float(q) - float(s) * float(s) / float(n)
    assert (row["n"], row["k"]) == (n, k)
    assert row["f_e6"] == math.floor(ssb / ssw * (n - k) / (k - 1) * 1e6 + 0.5)
    assert row["eta2_e6"] == math.floor(ssb / sst * 1e6 + 0.5)
    assert 0 <= row["eta2_e6"] <= 1_000_000 and row["f_e6"] >= 0


# --------------------------------------------------------------------------
# theil_index_inequality (pipeline99)
# --------------------------------------------------------------------------


def test_theil_exact_replay_and_bounds(spark):
    import math

    row = all_queries()["theil_index_inequality"].fn(spark, SF_SMALL).collect()[0]
    y = _daily_cents(spark)
    n, s = len(y), sum(y)
    theil = sum(
        math.floor(x / s * math.log(x * n / s) * 1e9 + 0.5) for x in y if x > 0
    )
    assert row["n_days"] == n
    assert row["theil_e9"] == theil
    # 0 <= T <= ln(n), up to per-term half-unit rounding
    assert -n <= row["theil_e9"] <= math.log(n) * 1e9 + n


# --------------------------------------------------------------------------
# did_weekend_effect (pipeline99)
# --------------------------------------------------------------------------


def test_did_exact_replay(spark):
    import math

    from datetime import date, timedelta

    row = all_queries()["did_weekend_effect"].fn(spark, SF_SMALL).collect()[0]
    ev = load_table(spark, SF_SMALL, "events").select("ts", "event_type", "value").collect()
    epoch = date(1970, 1, 1)
    pts = [
        (
            math.floor(r["value"] * 100.0 + 0.5),
            ((r["ts"].date() - epoch).days % 7) in (2, 3),
            r["ts"].date(),
        )
        for r in ev
        if r["event_type"] == "purchase" and r["value"] is not None
    ]
    lo, hi = min(d for _, _, d in pts), max(d for _, _, d in pts)
    cut = lo + timedelta(days=(hi - lo).days // 2)
    cells: dict = {}
    for c, we, d in pts:
        key = (d > cut, we)
        s, n = cells.get(key, (0, 0))
        cells[key] = (s + c, n + 1)
    assert row["n_events"] == len(pts)
    for (post, we), col in (
        ((False, False), "pre_wd_mean_e2"),
        ((False, True), "pre_we_mean_e2"),
        ((True, False), "post_wd_mean_e2"),
        ((True, True), "post_we_mean_e2"),
    ):
        s, n = cells[(post, we)]
        assert row[col] == _ir(s, n, 2)


# --------------------------------------------------------------------------
# multimodal_png_downscale2 (pipeline100)
# --------------------------------------------------------------------------


def test_png_downscale2_exact_replay(spark):
    import math

    rows = all_queries()["multimodal_png_downscale2"].fn(spark, SF_SMALL).collect()
    emb = load_table(spark, SF_SMALL, "embeddings").collect()
    got = {r["asset_id"]: r for r in rows}
    assert set(got) == {r["vec_id"] for r in emb}
    for e in emb:
        px = [
            math.floor(min(max((float(x) + 1.0) / 2.0, 0.0), 1.0) * 255.0)
            for x in e["embedding"]
        ]
        img = [px[r * 8 : (r + 1) * 8] for r in range(8)]
        ds = []
        for y in range(4):
            for x in range(4):
                blk = (
                    img[2 * y][2 * x]
                    + img[2 * y][2 * x + 1]
                    + img[2 * y + 1][2 * x]
                    + img[2 * y + 1][2 * x + 1]
                )
                ds.append((blk + 2) // 4)
        r = got[e["vec_id"]]
        assert (r["out_w"], r["out_h"]) == (4, 4)
        assert r["ds_sum"] == sum(ds)
        assert r["ds_wsum"] == sum(v * (k + 1) for k, v in enumerate(ds))
        # box means stay inside the source range
        assert all(0 <= v <= 255 for v in ds)


def test_png_downscale2_small_grid_through_real_codec(spark):
    """Hand-built 2x2 PNG through encode->kernel: one output pixel, the
    half-up mean — and odd dimensions must raise, not guess."""
    import pandas as pd

    from multithreaded_map_reduce_library_spark.functions.png import encode_png
    from multithreaded_map_reduce_library_spark.operators.multimodal import (
        image_downscale2,
    )

    png = encode_png([[10, 11], [12, 14]])
    assets = spark.createDataFrame(
        pd.DataFrame({"asset_id": [1], "payload": [png]})
    )
    row = image_downscale2(assets).collect()[0]
    assert (row["out_w"], row["out_h"]) == (1, 1)
    assert row["ds_sum"] == (10 + 11 + 12 + 14 + 2) // 4  # 12 (half-up of 11.75)
    assert row["ds_wsum"] == row["ds_sum"]

    odd = encode_png([[1, 2, 3], [4, 5, 6]])
    assets_odd = spark.createDataFrame(
        pd.DataFrame({"asset_id": [2], "payload": [odd]})
    )
    with pytest.raises(Exception, match="even dimensions"):
        image_downscale2(assets_odd).collect()


# --------------------------------------------------------------------------
# markov_removal_attribution (pipeline101)
# --------------------------------------------------------------------------


def test_markov_removal_exact_replay(spark):
    import math

    rows = all_queries()["markov_removal_attribution"].fn(spark, SF_SMALL).collect()
    ev = load_table(spark, SF_SMALL, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    journeys: dict = {}
    for r in ev:
        journeys.setdefault(r["user_id"], []).append(r)
    trans = Counter()
    for rs in journeys.values():
        rs.sort(key=lambda r: (r["ts"], r["event_id"]))
        seq = [r["event_type"] for r in rs]
        trans[("START", seq[0])] += 1
        for a, b in zip(seq, seq[1:]):
            if a != "purchase":
                trans[(a, b)] += 1
        if seq[-1] != "purchase":
            trans[(seq[-1], "NULL")] += 1

    states = {s for pair in trans for s in pair}

    def reach(removed):
        t = Counter()
        for (a, b), c in trans.items():
            if a == removed:
                continue
            t[(a, "NULL" if b == removed else b)] += c
        tot = Counter()
        for (a, _), c in t.items():
            tot[a] += c
        p = {s: (1.0 if s == "purchase" else 0.0) for s in states}
        for _ in range(12):
            p = {
                s: (
                    1.0
                    if s == "purchase"
                    else sum(
                        c / tot[a] * p[b] for (a, b), c in t.items() if a == s
                    )
                )
                for s in states
            }
        return math.floor(p["START"] * 1e9 + 0.5)

    got = {r["variant"]: r for r in rows}
    full = reach("")
    assert got["full"]["p_conv_e9"] == full
    assert got["full"]["removal_effect_e6"] == 0
    for c in ("click", "error", "signup", "view"):
        pv = reach(c)
        r = got[f"rm_{c}"]
        assert r["p_conv_e9"] == pv
        assert r["removal_effect_e6"] == _ir(full - pv, full, 6)
        assert r["removal_effect_e6"] >= 0  # removing a channel never helps


# --------------------------------------------------------------------------
# shapley_channel_attribution (pipeline101)
# --------------------------------------------------------------------------


def test_shapley_channels_exact_replay_and_efficiency(spark):
    rows = all_queries()["shapley_channel_attribution"].fn(spark, SF_SMALL).collect()
    ev = load_table(spark, SF_SMALL, "events").select("user_id", "event_type").collect()
    chans = ("click", "error", "signup", "view")
    users: dict = {}
    for r in ev:
        mask, conv = users.get(r["user_id"], (0, 0))
        if r["event_type"] in chans:
            mask |= 1 << chans.index(r["event_type"])
        if r["event_type"] == "purchase":
            conv = 1
        users[r["user_id"]] = (mask, conv)

    def v(s):
        members = [(m, c) for m, c in users.values() if m & ~s & 15 == 0]
        if not members:
            return 0
        return _ir(sum(c for _, c in members), len(members), 9)

    w24 = {0: 6, 1: 2, 2: 2, 3: 6}
    got = {r["channel"]: r["shapley_x24_e9"] for r in rows}
    total = 0
    for i, c in enumerate(chans):
        bit = 1 << i
        sh = sum(
            w24[bin(s).count("1")] * (v(s + bit) - v(s))
            for s in range(16)
            if not s & bit
        )
        assert got[c] == sh
        total += sh
    # efficiency axiom: Shapley values sum to v(grand) - v(empty), x24
    assert total == 24 * (v(15) - v(0))


# --------------------------------------------------------------------------
# decision_stump_quality (pipeline102)
# --------------------------------------------------------------------------


def test_decision_stump_exact_replay(spark):
    import math

    row = all_queries()["decision_stump_quality"].fn(spark, SF_SMALL).collect()[0]
    docs = load_table(spark, SF_SMALL, "documents").select("n_chars", "lang").collect()
    pts = sorted((r["n_chars"], r["lang"] == "en") for r in docs)
    n = len(pts)
    p = sum(1 for _, e in pts if e)
    xs = sorted({x for x, _ in pts})
    best = None
    for thr in xs:
        nl = sum(1 for x, _ in pts if x <= thr)
        pl = sum(1 for x, e in pts if x <= thr and e)
        if nl == n:
            continue
        nr, pr = n - nl, p - pl
        g = math.floor(
            (2.0 * pl * (nl - pl) / (float(nl) * n)
             + 2.0 * pr * (nr - pr) / (float(nr) * n)) * 1e9 + 0.5
        )
        if best is None or (g, thr) < best:
            best = (g, thr, nl, pl, nr, pr)
    g, thr, nl, pl, nr, pr = best
    root = math.floor(2.0 * p * (n - p) / (float(n) * n) * 1e9 + 0.5)
    assert row["best_threshold"] == thr
    assert (row["n_left"], row["pos_left"], row["n_right"], row["pos_right"]) == (
        nl, pl, nr, pr,
    )
    assert row["split_gini_e9"] == g
    assert row["root_gini_e9"] == root
    assert row["gain_e9"] == root - g
    assert row["gain_e9"] >= 0  # a best split never increases impurity


# --------------------------------------------------------------------------
# cramer_von_mises_drift (pipeline102)
# --------------------------------------------------------------------------


def test_cvm_exact_replay(spark):
    import math

    from datetime import date

    row = all_queries()["cramer_von_mises_drift"].fn(spark, SF_SMALL).collect()[0]
    ev = load_table(spark, SF_SMALL, "events").select("ts", "event_type", "value").collect()
    epoch = date(1970, 1, 1)
    wd, we = Counter(), Counter()
    for r in ev:
        if r["event_type"] != "purchase" or r["value"] is None:
            continue
        v = math.floor(r["value"] * 100.0 + 0.5)
        (we if ((r["ts"].date() - epoch).days % 7) in (2, 3) else wd)[v] += 1
    n, m = sum(wd.values()), sum(we.values())
    c1 = c2 = t = 0
    for v in sorted(set(wd) | set(we)):
        c1 += wd[v]
        c2 += we[v]
        d = float(c1 * m - c2 * n)
        t += math.floor(
            (wd[v] + we[v]) * d * d / (float(n) * m * (n + m) * (n + m)) * 1e9 + 0.5
        )
    assert (row["n_weekday"], row["n_weekend"]) == (n, m)
    assert row["cvm_t_e9"] == t
    assert row["cvm_t_e9"] >= 0


# --------------------------------------------------------------------------
# stream_cms_user_counts_daily (pipeline103)
# --------------------------------------------------------------------------


def test_stream_cms_matches_batch_sketch(spark):
    rows = all_queries()["stream_cms_user_counts_daily"].fn(spark, SF_SMALL).collect()
    ev = load_table(spark, SF_SMALL, "events").select("ts", "user_id").collect()
    days: dict = {}
    for r in ev:
        counters = days.setdefault(r["ts"].date(), [0] * 128)
        for d in range(4):
            c = int(hashlib.md5(f"{d}|{r['user_id']}".encode()).hexdigest()[:8], 16) % 32
            counters[d * 32 + c] += 1
    got = {r["day"]: r for r in rows}
    assert set(got) == set(days)
    for day, counters in days.items():
        r = got[day]
        n = sum(counters) // 4
        assert r["n_events"] == n
        assert r["cms_checksum"] == sum(v * (i + 1) for i, v in enumerate(counters))
        assert r["sum_row_max"] == sum(
            max(counters[d * 32 : (d + 1) * 32]) for d in range(4)
        )
        # conservation law: every row's counters sum to n_events
        for d in range(4):
            assert sum(counters[d * 32 : (d + 1) * 32]) == n


# --------------------------------------------------------------------------
# capture_recapture_users (pipeline104)
# --------------------------------------------------------------------------


def test_capture_recapture_exact_replay(spark):
    from datetime import date

    row = all_queries()["capture_recapture_users"].fn(spark, SF_SMALL).collect()[0]
    ev = load_table(spark, SF_SMALL, "events").select("ts", "user_id").collect()
    epoch = date(1970, 1, 1)
    wd, we = set(), set()
    for r in ev:
        (we if ((r["ts"].date() - epoch).days % 7) in (2, 3) else wd).add(r["user_id"])
    n1, n2, m = len(wd), len(we), len(wd & we)
    assert (row["n1"], row["n2"], row["m"]) == (n1, n2, m)
    assert row["n_observed"] == len(wd | we)
    assert row["lincoln_petersen_est"] == _ir(n1 * n2, m, 0)
    assert row["chapman_est"] == (n1 + 1) * (n2 + 1) // (m + 1) - 1
    # both estimators should not undercut the recapture arithmetic floor
    assert row["chapman_est"] >= max(n1, n2)


# --------------------------------------------------------------------------
# vocab_coverage_chao1 (pipeline104)
# --------------------------------------------------------------------------


def test_chao1_exact_replay(spark):
    import math

    row = all_queries()["vocab_coverage_chao1"].fn(spark, SF_SMALL).collect()[0]
    docs = load_table(spark, SF_SMALL, "documents").select("text").collect()
    cnt = Counter()
    for r in docs:
        for t in r["text"].replace("\t", " ").replace("\r", " ").replace("\n", " ").split(" "):
            if t:
                cnt[t] += 1
    s = len(cnt)
    n = sum(cnt.values())
    f1 = sum(1 for c in cnt.values() if c == 1)
    f2 = sum(1 for c in cnt.values() if c == 2)
    assert (row["s_obs"], row["n_tokens"], row["f1"], row["f2"]) == (s, n, f1, f2)
    assert row["p0_unseen_e6"] == _ir(f1, n, 6)
    assert row["chao1_richness"] == s + math.floor(f1 * f1 / (2.0 * max(f2, 1)) + 0.5)
    assert row["chao1_richness"] >= s  # richness estimate never below observed
