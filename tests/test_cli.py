"""CLI parity surface: the reference is *driven* as ``./wordcount
files...`` writing DJB2 shards (distwc.c:37-39); a migrating user gets
``python -m multithreaded_map_reduce_library_spark wordcount`` with the
same defaults (10 shards) plus ``run``/``list`` over the registry."""

from __future__ import annotations

import glob
import os
from collections import Counter

import pytest

from multithreaded_map_reduce_library_spark.__main__ import main
from multithreaded_map_reduce_library_spark.functions.hashing import djb2
from tests.conftest import SF_SMALL
from tests.test_wordcount import reference_or_golden_dir


@pytest.fixture(scope="module")
def sample_files(tmp_path_factory):
    corpus = reference_or_golden_dir(tmp_path_factory)
    return sorted(glob.glob(os.path.join(corpus, "sample*.txt")))


def _read_shards(outdir: str) -> tuple[Counter, int]:
    counts: Counter = Counter()
    shard_dirs = sorted(glob.glob(os.path.join(outdir, "pid=*")))
    for sd in shard_dirs:
        for f in glob.glob(os.path.join(sd, "part-*")):
            with open(f) as fh:
                for line in fh:
                    k, v = line.rstrip("\n").rsplit(": ", 1)
                    counts[k] += int(v)
    return counts, len(shard_dirs)


@pytest.mark.parametrize("engine", ["dataframe", "rdd"])
def test_cli_wordcount_engines(spark, sample_files, tmp_path, engine):
    # `spark` fixture keeps the session config; the CLI reuses the live
    # session via getOrCreate, same as a second job in one application.
    out = str(tmp_path / engine)
    rc = main(
        ["wordcount", *sample_files, "-o", out, "--engine", engine]
    )
    assert rc == 0
    if engine == "rdd":
        # mr facade writes flat part files: part-0000p holds DJB2 shard p,
        # keys in strcmp order.
        counts: Counter = Counter()
        for f in glob.glob(os.path.join(out, "part-*")):
            shard = int(os.path.basename(f).split("-")[1])
            with open(f) as fh:
                keys = []
                for line in fh:
                    k, v = line.rstrip("\n").rsplit(": ", 1)
                    counts[k] += int(v)
                    keys.append(k)
            assert all(djb2(k, 10) == shard for k in keys), f"shard {shard} has foreign keys"
            assert keys == sorted(keys)
    else:
        counts, n_shards = _read_shards(out)
        assert n_shards <= 10
    assert len(counts) == 21
    assert all(c == 5000 for c in counts.values())


def test_cli_run_and_list(spark, tmp_path, capsys):
    assert main(["list"]) == 0
    listed = capsys.readouterr().out
    assert "q1_pricing_summary" in listed and "[oracle]" in listed

    out = str(tmp_path / "q1")
    rc = main(
        ["run", "q1_pricing_summary", "--sf-dir", SF_SMALL, "-o", out]
    )
    assert rc == 0
    assert glob.glob(os.path.join(out, "*.parquet"))

    assert main(["run", "no_such_query"]) == 2
