"""The package's one JVM tokenizer and the scan's split floor.

``functions/text.py::tokens`` drops empty pieces with ``array_remove``,
which whole-stage codegen compiles; the spelling it replaced,
``filter(split(text, p), t -> t != '')``, runs an interpreted lambda on
every token. These tests pin the two spellings to the same arrays, keep
the old one out of the package, and check that a text scan over many
small files is spread over the cores.
"""

from __future__ import annotations

import pathlib
import re

from pyspark.sql import functions as F

import multithreaded_map_reduce_library_spark as pkg
from multithreaded_map_reduce_library_spark.functions.hashing import djb2, djb2_expr
from multithreaded_map_reduce_library_spark.functions.text import DELIMS_RE, tokens
from multithreaded_map_reduce_library_spark.session import _cpus
from multithreaded_map_reduce_library_spark.sources.catalog import read_text_lines

TEXTS = [
    None,
    "",
    " ",
    " \t\r\n \t",
    "one",
    " lead",
    "trail ",
    "\tboth\n",
    "a  b",
    "a\t\tb",
    "a\r\rb",
    "a\n\nb",
    "a \t\r\n b\n",
    "x   y\t\t\tz\r\r\r\n\n\nw",
    "naïve café 日本語 🙂ok",
    "Ünïcödé\u00a0nbsp stays-inside",
    "Mixed CASE, with: punctuation! and 42 numbers",
    "--a--b--",
]


def _old_spelling(c, pattern=DELIMS_RE):
    return F.filter(F.split(c, pattern), lambda t: t != F.lit(""))


def test_tokens_match_the_filter_spelling_row_for_row(spark):
    df = spark.createDataFrame(list(enumerate(TEXTS)), "id int, text string")
    lower = F.lower("text")
    rows = df.select(
        "id",
        tokens("text").alias("new"),
        _old_spelling(F.col("text")).alias("old"),
        tokens("text", keep_empty=True).alias("new_keep"),
        F.split("text", DELIMS_RE).alias("old_keep"),
        tokens(lower, "[^a-z0-9]+").alias("new_lower"),
        _old_spelling(lower, "[^a-z0-9]+").alias("old_lower"),
        tokens("text", " ").alias("new_space"),
        _old_spelling(F.col("text"), " ").alias("old_space"),
    ).collect()
    assert len(rows) == len(TEXTS)
    for r in sorted(rows, key=lambda r: r["id"]):
        text = TEXTS[r["id"]]
        for kind in ("", "_keep", "_lower", "_space"):
            assert r["new" + kind] == r["old" + kind], (text, kind)
    by_id = {r["id"]: r for r in rows}
    assert by_id[0]["new"] is None  # a null text stays null
    assert by_id[3]["new"] == []
    assert by_id[13]["new"] == ["x", "y", "z", "w"]
    assert by_id[14]["new"] == ["naïve", "café", "日本語", "🙂ok"]
    assert by_id[12]["new_keep"] == ["a", "", "", "", "", "b", ""]


def test_no_filter_spelling_left_in_the_package():
    root = pathlib.Path(pkg.__file__).parent
    old = re.compile(r"F\.filter\(\s*F\.split\(")
    hits = [
        str(p.relative_to(root))
        for p in sorted(root.rglob("*.py"))
        if old.search(p.read_text(encoding="utf-8"))
    ]
    assert hits == []


def test_djb2_expr_matches_djb2_on_token_keys(spark):
    keys = sorted({t for text in TEXTS if text for t in re.split(DELIMS_RE, text)})
    keys += ["é", "ß日本🙂", " ", "\x00", "\x7f\x80ÿ"]
    assert "" in keys
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    got = {
        r["key"]: (r["h"], r["pid"])
        for r in df.select(
            "key", djb2_expr("key").alias("h"), djb2_expr("key", 10).alias("pid")
        ).collect()
    }
    assert got == {k: (djb2(k), djb2(k, 10)) for k in keys}


def test_small_text_files_scan_on_every_core(spark, tmp_path):
    """Spark charges each file a 4 MB open cost, so without the
    ``spark.sql.files.minPartitionNum`` floor 20 small files pack into one
    split per core and the largest split holds up the stage."""
    paths = []
    for i in range(20):
        p = tmp_path / f"part-{i:02d}.txt"
        p.write_text("w " * ((i + 1) * 10_000) + "\n")
        paths.append(str(p))
    df = read_text_lines(spark, paths)
    assert df.count() == 20
    assert df.rdd.getNumPartitions() >= min(20, 2 * _cpus())
