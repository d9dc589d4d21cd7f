"""Golden-corpus word count (SURVEY.md §5): 21 vocabulary words x exactly
5000 occurrences across 20 files. The corpus is synthesized per
FIXTURES.md's recipe; if the reference's own sample_inputs are present we
run against those too for byte-level provenance, else the parity tests
fall back to the synthesized corpus."""

from __future__ import annotations

import os
import random
from collections import Counter

import pytest

from multithreaded_map_reduce_library_spark.operators.wordcount import (
    wordcount,
    wordcount_files,
)

VOCAB = (
    "This is a test for the mapreduce library you should see each word "
    "occurs exactly five-thousand times and expect input to"
).split(" ")

REFERENCE_SAMPLES = "/root/reference/sample_inputs"


def write_golden_corpus(d) -> str:
    """Deterministic synthesis: 21 words x 5000, shuffled, split into 20
    single-line files with single-space separators, no trailing newline."""
    rng = random.Random(42)
    words = [w for w in VOCAB for _ in range(5000)]
    rng.shuffle(words)
    cuts = sorted(rng.sample(range(1, len(words)), 19))
    chunks = [words[a:b] for a, b in zip([0, *cuts], [*cuts, len(words)])]
    for i, chunk in enumerate(chunks, 1):
        (d / f"sample{i}.txt").write_text(" ".join(chunk))
    return str(d)


def reference_or_golden_dir(tmp_path_factory) -> str:
    """The reference's own sample_inputs when present, else the synthesized
    corpus, which has the same 21 x 5000 invariant."""
    if os.path.isdir(REFERENCE_SAMPLES):
        return REFERENCE_SAMPLES
    return write_golden_corpus(tmp_path_factory.mktemp("golden"))


@pytest.fixture(scope="module")
def golden_dir(tmp_path_factory):
    return write_golden_corpus(tmp_path_factory.mktemp("golden"))


def test_golden_invariant_synthesized(spark, golden_dir):
    rows = wordcount_files(spark, f"{golden_dir}/*.txt").collect()
    counts = {r["key"]: r["cnt"] for r in rows}
    assert len(counts) == 21
    assert set(counts) == set(VOCAB)
    assert all(c == 5000 for c in counts.values())


def test_golden_invariant_reference_corpus(spark, tmp_path_factory):
    corpus = reference_or_golden_dir(tmp_path_factory)
    rows = wordcount_files(spark, f"{corpus}/*.txt").collect()
    counts = {r["key"]: r["cnt"] for r in rows}
    assert len(counts) == 21
    assert all(c == 5000 for c in counts.values())


def test_matches_python_counter(spark, tmp_path):
    text = "a b  c\ta a\nb -- punct! five-thousand"
    p = tmp_path / "t.txt"
    p.write_text(text)
    rows = wordcount_files(spark, str(p)).collect()
    got = {r["key"]: r["cnt"] for r in rows}
    want = Counter(t for t in text.replace("\t", " ").replace("\n", " ").split(" ") if t)
    assert got == dict(want)


def test_keep_empty_quirk_q1(spark, tmp_path):
    # Two consecutive spaces -> one empty token when keep_empty=True
    # (reference strsep behavior, distwc.c:16-17).
    p = tmp_path / "t.txt"
    p.write_text("x  y")
    df = spark.read.text(str(p))
    strict = {r["key"]: r["cnt"] for r in wordcount(df, keep_empty=True).collect()}
    assert strict == {"x": 1, "y": 1, "": 1}
