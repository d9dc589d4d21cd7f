"""MapReduce parity facade: MR_Run contract (mapreduce.h:44-83) — DJB2
sharding, sort-within-partition (strcmp order), grouped-iterator reducer,
COUNT(*) semantics — verified against a Python Counter oracle and with
Hypothesis-generated token streams, plus sf0.001 oracle parity of the
registry queries built on the facade."""

from __future__ import annotations

import os
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
        _combine_partition,
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
    # partitions contributes at most |distinct keys| pairs.
    pre_shuffle = pairs.mapPartitions(
        _combine_partition(wordcount_sum_reducer)
    ).count()
    assert pre_shuffle <= 4 * 3
    assert pre_shuffle < len(toks)
