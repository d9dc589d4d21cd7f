"""MapReduce parity facade: MR_Run contract (mapreduce.h:44-83) — DJB2
sharding, sort-within-partition (strcmp order), grouped-iterator reducer,
COUNT(*) semantics — verified against a Python Counter oracle and with
Hypothesis-generated token streams, plus sf0.001 oracle parity of the
registry queries built on the facade."""

from __future__ import annotations

import hashlib
import os
import random
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from multithreaded_map_reduce_library_spark.functions.hashing import djb2
from multithreaded_map_reduce_library_spark.mapreduce.api import (
    mr_run,
    mr_run_pairs,
    wordcount_mapper,
    wordcount_reducer,
)
from multithreaded_map_reduce_library_spark.plans.registry import all_queries

from .conftest import SF_SMALL
from .oracle_util import compare_query

TEXT = "the quick brown fox jumps over the lazy dog the fox"


def test_mr_run_wordcount(spark, tmp_path):
    f1 = tmp_path / "a.txt"
    f2 = tmp_path / "b.txt"
    f1.write_text(TEXT)
    f2.write_text("fox dog Zebra")
    out = mr_run(spark, [str(f1), str(f2)], wordcount_mapper, wordcount_reducer, num_partitions=4)
    got = dict(out.collect())
    want = Counter((TEXT + " fox dog Zebra").split())
    assert got == {k: str(v) for k, v in want.items()}


def test_partition_assignment_is_djb2(spark, tmp_path):
    f = tmp_path / "a.txt"
    f.write_text(TEXT)
    out = mr_run(spark, [str(f)], wordcount_mapper, wordcount_reducer, num_partitions=4)
    per_part = out.glom().collect()
    assert len(per_part) == 4
    for pid, part in enumerate(per_part):
        keys = [k for k, _ in part]
        assert all(djb2(k, 4) == pid for k in keys), f"shard {pid} has foreign keys"
        assert keys == sorted(keys), "quirk Q3: strcmp order within shard"


def test_djb2_reference_vectors():
    # h = 5381; h = h*33 + c (mapreduce.c:154-160), verified by hand.
    h = 5381
    for ch in b"ab":
        h = (h * 33 + ch) % 2**32
    assert djb2("ab") == h
    assert djb2("") == 5381


def test_reducer_iterator_is_lazy_and_grouped(spark):
    pairs = spark.sparkContext.parallelize(
        [("k1", "x"), ("k2", "y"), ("k1", "z")] * 10, 3
    )

    def reducer(key, values):
        assert iter(values) is values, "reducer gets an iterator, not a list"
        return str(sum(1 for _ in values))

    rows = mr_run_pairs(pairs, reducer, num_partitions=2).collect()
    # One reducer call per key across all map tasks: exactly one row each.
    assert sorted(rows) == [("k1", "20"), ("k2", "10")]


def test_reducer_sees_every_emitted_value_once(spark, tmp_path):
    """Keys span files and map tasks; each value names its file and token
    position, so the reducer must see every emission exactly once and as a
    plain value, never as a map-side partial group."""
    texts = {"a.txt": "x y x z", "b.txt": "y x w", "c.txt": "z z x y"}
    for name, text in texts.items():
        (tmp_path / name).write_text(text)

    def mapper(path, content):
        name = os.path.basename(path)
        for i, tok in enumerate(content.split()):
            yield tok, f"{name}:{i}"

    def reducer(_key, values):
        return repr(sorted(values))

    files = [str(tmp_path / n) for n in texts]
    got = dict(mr_run(spark, files, mapper, reducer, num_partitions=3).collect())
    want: dict[str, list[str]] = {}
    for name, text in texts.items():
        for tok, value in mapper(name, text):
            want.setdefault(tok, []).append(value)
    assert got == {k: repr(sorted(v)) for k, v in want.items()}


@pytest.mark.parametrize("name", ["mr_api_wordcount", "mr_api_wordcount_combined"])
def test_mr_api_query_oracle_parity(spark, name):
    q = all_queries()[name]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


@given(
    st.lists(
        st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=1, max_size=8),
        min_size=0,
        max_size=60,
    )
)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_property_counter_equivalence(spark, tokens):
    pairs = spark.sparkContext.parallelize([(t, "1") for t in tokens], 4)
    got = dict(mr_run_pairs(pairs, wordcount_reducer, num_partitions=3).collect())
    want = {k: str(v) for k, v in Counter(tokens).items()}
    assert got == want


def test_combiner_equals_plain_and_shrinks_shuffle(spark):
    """The combiner path must produce identical results to the plain path,
    while shuffling at most one pair per (map partition, key)."""
    from multithreaded_map_reduce_library_spark.mapreduce.api import (
        _group_by_key,
        mr_run_pairs,
        wordcount_reducer,
        wordcount_sum_reducer,
    )

    sc = spark.sparkContext
    toks = ["a", "b", "a", "c", "a", "b"] * 50
    pairs = sc.parallelize([(t, "1") for t in toks], 4)

    plain = dict(mr_run_pairs(pairs, wordcount_reducer, num_partitions=3).collect())
    combined = dict(
        mr_run_pairs(
            pairs,
            wordcount_sum_reducer,
            num_partitions=3,
            combiner=wordcount_sum_reducer,
        ).collect()
    )
    assert combined == plain == {"a": "150", "b": "100", "c": "50"}

    # Shuffle-volume bound: after map-side combine, each of the 4 map
    # partitions contributes at most |distinct keys| one-value groups.
    pre_shuffle = pairs.mapPartitions(
        lambda part: _group_by_key(part, float("inf"), wordcount_sum_reducer)
    ).collect()
    assert len(pre_shuffle) <= 4 * 3
    assert all(len(values) == 1 for _, values in pre_shuffle)
    assert sum(int(v[0]) for _, v in pre_shuffle) == len(toks)


def test_grouping_flushes_partial_groups_in_emission_order(monkeypatch):
    """With the memory check forced over its bound, the map-side grouping
    yields partial groups every ``_CHECK_EVERY`` pairs; concatenated in
    yield order, each key's values are its emissions in order."""
    from multithreaded_map_reduce_library_spark.mapreduce import api

    monkeypatch.setattr(api, "_CHECK_EVERY", 3)
    monkeypatch.setattr(api, "get_used_memory", lambda: 10**9)
    pairs = [(k, f"{k}{i}") for i, k in enumerate("abacbbcaab")]
    partials = list(api._group_by_key(iter(pairs), 512.0))
    assert partials == [
        ("a", ["a0", "a2"]), ("b", ["b1"]),
        ("c", ["c3"]), ("b", ["b4", "b5"]),
        ("c", ["c6"]), ("a", ["a7", "a8"]),
        ("b", ["b9"]),
    ]
    merged: dict[str, list[str]] = {}
    for key, values in partials:
        merged.setdefault(key, []).extend(values)
    assert merged == {k: [v for kk, v in pairs if kk == k] for k in "abc"}
    # under the bound, one group per key
    monkeypatch.setattr(api, "get_used_memory", lambda: 0)
    assert len(list(api._group_by_key(iter(pairs), 512.0))) == 3
    # the combiner reduces each partial group to one value
    monkeypatch.setattr(api, "get_used_memory", lambda: 10**9)
    combined = list(api._group_by_key(iter(pairs), 512.0, lambda k, vs: "+".join(vs)))
    assert combined == [(k, ["+".join(vs)]) for k, vs in partials]


#: sha256 of mr_run's ``part-0000p`` files on :func:`_pin_corpus`, recorded
#: with PySpark's ``groupByKey`` in place of ``_group_by_key``, an
#: independent grouping
MR_RUN_PART_SHA256 = [
    "620f73a82bc5182b296314dd8aaab980f063f07ce5cb45d6f4ed91b8a172cc87",
    "f83512e3965a5364fcd5e0f02486770a347f91aab1f05f853bea4c70d749c79e",
    "062c4dd593de992c28eaf2a8236f1fcd7cea2ce30f7b1b153e00c4ed2ec16b8b",
    "c9e9d6d16954aba3e91fe8bddc61c6afce86475eaa2a542436d3d1aea54fd8cc",
    "7749bccfb3ff56fe9b5eaba1eb007eff3af9f672d7642b9ce86c053c1bf921ce",
    "9069520845abd52b42e212d4fa89e368cf92207de66913e9882679274d3049b3",
    "9950d1832be949e0b585da3b9a1a1edcf4f4dc72ff8666cd3065344903ce1e3d",
    "1f1b50a99028336456ba89b6b58934e84866b1ba41ed78e0c345d3869adf7e2d",
    "786d55984bdb69f239832d9cfbfb769676110599df87f55a0248929b0c2d90b3",
    "032d3208115ec21e9e1d483a07b3bc8b1f34db416a2801d6eb701a9146a9fba6",
]


def _pin_corpus(d) -> list[str]:
    """Six seeded files of tokens joined by spaces, tabs and CRs, some
    non-ASCII, some lines empty."""
    rng = random.Random(20261019)
    vocab = [f"w{i}" for i in range(400)] + ["é", "naïve", "日本語", "🙂ok", "Zebra", "a-b", "x"]
    paths = []
    for f in range(6):
        lines = []
        for _ in range(60):
            toks = rng.choices(vocab, k=rng.randint(0, 14))
            seps = [rng.choice(" \t\r") for _ in toks]
            lines.append("".join(t + s for t, s in zip(toks, seps)))
        p = os.path.join(d, f"doc{f}.txt")
        with open(p, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines))
        paths.append(p)
    return paths


def test_mr_run_part_files_are_pinned(spark, tmp_path):
    out = str(tmp_path / "out")
    mr_run(
        spark, _pin_corpus(tmp_path), wordcount_mapper, wordcount_reducer,
        num_partitions=10, output_dir=out,
    )
    got = []
    for p in range(10):
        with open(os.path.join(out, f"part-{p:05d}"), "rb") as fh:
            got.append(hashlib.sha256(fh.read()).hexdigest())
    assert got == MR_RUN_PART_SHA256
