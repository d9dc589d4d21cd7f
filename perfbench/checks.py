"""Output checks: registry queries against the DuckDB oracle, the word-count
outputs against the counts the corpus seed fixed.

Registry outputs are compared with the DuckDB oracle's output, replayed on
every run, as canonical multisets, using the repo's own oracle
canonicalization (``tests/oracle_util._canon``: columns ordered by name,
cells stringified with exact float reprs).
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")

#: the tables the benchmark's registry queries read (committed under data/)
TABLES = ("documents", "embeddings")


def digest(rows, cols) -> str:
    """SHA-256 of the canonical multiset of ``rows`` (column names
    compared case-insensitively, as the oracle comparator does)."""
    from tests.oracle_util import _canon

    names = [c.lower() for c in cols]
    h = hashlib.sha256(repr(sorted(names)).encode())
    for item in sorted(_canon(rows, names).items()):
        h.update(repr(item).encode())
        h.update(b"\n")
    return h.hexdigest()


def run_oracle(sql: str) -> str:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return digest(cur.fetchall(), cols)
    finally:
        con.close()


# --------------------------------------------------------------------------
# word count
# --------------------------------------------------------------------------


def read_shards(paths_by_shard: dict[int, list[str]], sep: str = ": ") -> dict[int, Counter]:
    """Parse ``key<sep>count`` lines into one Counter per shard."""
    out: dict[int, Counter] = {}
    for shard, paths in paths_by_shard.items():
        c: Counter = Counter()
        for p in paths:
            with open(p, encoding="utf-8") as f:
                for line in f:
                    key, _, cnt = line.rstrip("\n").rpartition(sep)
                    c[key] += int(cnt)
        out[shard] = c
    return out


def mr_shards(out_dir: str) -> dict[int, list[str]]:
    """``mr_run`` output: ``part-0000p`` holds shard p."""
    return {
        int(f.split("-")[1]): [os.path.join(out_dir, f)]
        for f in os.listdir(out_dir)
        if f.startswith("part-")
    }


def sink_shards(out_dir: str) -> dict[int, list[str]]:
    """``write_partitioned_text`` output: ``pid=<p>/part-*`` holds shard p."""
    out: dict[int, list[str]] = {}
    for d in os.listdir(out_dir):
        if d.startswith("pid="):
            sub = os.path.join(out_dir, d)
            out[int(d[4:])] = [
                os.path.join(sub, f) for f in os.listdir(sub) if f.startswith("part-")
            ]
    return out


def shards_ok(shards: dict[int, Counter], expected: Counter, num_partitions: int) -> bool:
    """Every count matches the seed's count, and every key sits in shard
    ``djb2(key) % num_partitions``."""
    from multithreaded_map_reduce_library_spark.functions.hashing import djb2

    merged: Counter = Counter()
    for shard, counts in shards.items():
        for key in counts:
            if djb2(key, num_partitions) != shard:
                return False
        merged.update(counts)
    return merged == expected
