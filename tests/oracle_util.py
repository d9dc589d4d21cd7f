"""Local mirror of the driver's DuckDB-oracle comparison: run the Spark
query and the oracle SQL on the same parquet tables, canonicalize rows
(columns sorted by name, cells stringified), compare as multisets."""

from __future__ import annotations

import datetime
import hashlib
import math
from collections import Counter

import duckdb

from multithreaded_map_reduce_library_spark.sources.catalog import TABLES


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # EXACT repr, no rounding (round-3 tightening): after the
        # integer-grid sweep every displayed aggregate is an exact
        # integer; residual raw doubles must be bit-identical
        # cross-engine or the gate should fail loudly.
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _canon(rows, cols) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_cell(r[i]) for i in order) for r in rows)


def canon_digest(rows, cols) -> str:
    """sha256 of the canonical multiset ``_canon`` builds: the sorted
    column names, then one tab-joined line per canonical row (repeated
    by its count) in sorted order. Equal digests mean equal multisets,
    so a committed oracle digest stands in for replaying a slow oracle."""
    h = hashlib.sha256("\t".join(sorted(c.lower() for c in cols)).encode("utf-8"))
    for row, n in sorted(_canon(rows, cols).items()):
        h.update(("\n" + "\t".join(row)).encode("utf-8") * n)
    return h.hexdigest()


def run_oracle(sql: str, sf_dir: str):
    import os

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # a table may be a DIRECTORY of part files (tools/stability_sweep.py
        # multi-file streaming leg); DuckDB needs the glob form then.
        src = f"'{path}/*.parquet'" if os.path.isdir(path) else f"'{path}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return rows, cols


def compare_query(spark, fn, sql: str, sf_dir: str) -> None:
    sdf = fn(spark, sf_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    s_cols = sdf.columns
    o_rows, o_cols = run_oracle(sql, sf_dir)
    assert sorted(s_cols) == sorted(c.lower() for c in o_cols) or sorted(s_cols) == sorted(o_cols), (
        f"column mismatch: spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    )
    assert len(s_rows) == len(o_rows), f"row count: spark={len(s_rows)} oracle={len(o_rows)}"
    sc, oc = _canon(s_rows, s_cols), _canon(o_rows, o_cols)
    if sc != oc:
        missing = list((oc - sc).items())[:5]
        extra = list((sc - oc).items())[:5]
        raise AssertionError(f"value mismatch; oracle-only={missing} spark-only={extra}")
