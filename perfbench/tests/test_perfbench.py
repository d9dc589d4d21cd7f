"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import random
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import corpus  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _corpus(seed: int):
    return corpus.make_corpus(seed, vocab_count=50, tail_tokens=2000, tail_vocab=300)


def test_corpus_is_byte_identical_for_a_seed(tmp_path):
    blobs = []
    for d in ("a", "b"):
        files, _ = _corpus(7)
        paths = corpus.write_corpus(files, str(tmp_path / d))
        blobs.append([open(p, "rb").read() for p in paths])
    assert blobs[0] == blobs[1]
    assert blobs[0] != [f.encode() for f in _corpus(8)[0]]


def test_corpus_holds_the_golden_vocabulary_in_reference_shape():
    files, counts = _corpus(3)
    assert len(files) == corpus.N_FILES
    assert all("\n" not in f and "  " not in f and not f.endswith(" ") for f in files)
    assert all(counts[w] == 50 for w in corpus.VOCAB)
    assert counts == Counter(t for f in files for t in f.split(" "))


def _load(*parts):
    with open(os.path.join(*parts), encoding="utf-8") as f:
        return json.load(f)


def _emitted_names() -> list[str]:
    spec = _load(ROOT, "BENCHMARK.json")
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    traced = _load(BENCH, "results", "traced.json")
    steady = _load(BENCH, "results", "steadiness.json")["sets"]
    for doc in (traced, *steady):
        names += list(doc)
        for block in doc.values():
            names += list(block["metrics"])
    return names


def test_every_emitted_name_is_well_formed():
    names = _emitted_names()
    assert names
    bad = [n for n in names if not harness.NAME_RE.match(n) or len(n) > 64]
    assert not bad


def test_committed_runs_emit_exactly_the_spec_metrics():
    spec = _load(ROOT, "BENCHMARK.json")
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    traced = _load(BENCH, "results", "traced.json")
    sets = _load(BENCH, "results", "steadiness.json")["sets"]
    for wl in workloads.WORKLOADS:
        assert set(traced[wl]["metrics"]) == {m["name"] for m in spec["per_layer"]}
        for steady in sets:
            assert set(steady[wl]["metrics"]) == {m["name"] for m in spec["end_to_end"]}


@pytest.mark.parametrize("n", [11, 12, 20, 37, 100, 250])
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n):
    rng = random.Random(n)
    xs = [rng.expovariate(1.0) for _ in range(n)]
    p, v = harness.tail(xs)
    assert v == harness.percentile(xs, p)
    assert sum(1 for x in xs if x > v) >= 10
    if p < 99:
        nxt = harness.percentile(xs, p + 1)
        assert sum(1 for x in xs if x > nxt) < 10


def test_tail_on_known_samples():
    xs = [float(i) for i in range(1, 101)]
    assert harness.tail(xs) == (90, 90.0)
    assert harness.tail(xs[:30]) == (66, 20.0)
    with pytest.raises(ValueError):
        harness.tail(xs[:10])


def _write_mr_output(out_dir, expected: Counter, misplace: str | None = None) -> None:
    """``mr_run``'s layout: shard p in ``part-0000p``; ``misplace`` lands one
    shard off."""
    from multithreaded_map_reduce_library_spark.functions.hashing import djb2

    os.makedirs(out_dir)
    shards = {p: [] for p in range(workloads.PARTITIONS)}
    for key in sorted(expected):
        p = djb2(key, workloads.PARTITIONS) + (key == misplace)
        shards[p % workloads.PARTITIONS].append(f"{key}: {expected[key]}\n")
    for p, lines in shards.items():
        with open(os.path.join(out_dir, f"part-{p:05d}"), "w") as f:
            f.writelines(lines)


def _wordcount(expected: Counter) -> workloads.WordCount:
    wl = workloads.WordCount()
    wl.expected = expected
    return wl


def test_perturbed_mr_output_drives_ok_ratio_below_one(tmp_path):
    _, expected = _corpus(5)
    wl = _wordcount(expected)
    good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
    _write_mr_output(good, expected)
    perturbed = expected.copy()
    perturbed["mapreduce"] += 1
    _write_mr_output(bad, perturbed)

    samples = [(u, 1.0) for _ in range(3) for u in wl.units]
    for out, want_failed in ((good, 0), (bad, 3)):
        ok = {"mr_run": wl.verify("mr_run", out), "wordcount_sink": True}
        attempted, failed = run.tally(wl, 3, samples, [], ok)
        assert attempted == 6 and failed == want_failed
    assert (attempted - failed) / attempted < 1


def test_key_in_the_wrong_shard_fails_the_check(tmp_path):
    expected = Counter({"word": 3, "mapreduce": 2})
    out = str(tmp_path / "out")
    _write_mr_output(out, expected, misplace="word")
    assert not _wordcount(expected).verify("mr_run", out)


def test_perturbed_registry_rows_fail_the_check():
    rows = [(1, 0.5, "a"), (2, 0.25, "b")]
    cols = ["id", "score", "tag"]
    wl = workloads.RegistryMix()
    wl.expected = {"knn_bruteforce_cosine": checks.digest(rows, cols)}
    assert wl.verify("knn_bruteforce_cosine", (list(reversed(rows)), cols))
    for bad in ([(1, 0.5000000000000001, "a"), rows[1]], rows[:1], rows + rows[:1]):
        assert not wl.verify("knn_bruteforce_cosine", (bad, cols))


def test_raised_call_fails():
    wl = _wordcount(Counter())
    samples = [("mr_run", 1.0)]
    attempted, failed = run.tally(wl, 1, samples, ["wordcount_sink"], {"mr_run": True, "wordcount_sink": True})
    assert (attempted, failed) == (2, 1)


def test_suspect_flag():
    assert harness.is_suspect(2.5, 4)
    assert not harness.is_suspect(2.0, 4)
