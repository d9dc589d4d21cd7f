"""Size-guarded broadcast hints (VERDICT r7 item 2): forced F.broadcast on
corpus-scaling dimensions must degrade to an AQE-decided join above the
on-disk cap, and the static audit must report zero unguarded sites."""

from __future__ import annotations

import os

from multithreaded_map_reduce_library_spark.sources.catalog import (
    load_table,
    scaled_broadcast,
)
from tests.conftest import SF_SMALL


def _spark_plan(df) -> str:
    return df._jdf.queryExecution().sparkPlan().toString()


def test_scaled_broadcast_hints_under_cap(spark):
    c = load_table(spark, SF_SMALL, "customer")
    li = load_table(spark, SF_SMALL, "lineitem")
    j = li.join(scaled_broadcast(c, SF_SMALL, "customer"), li.l_orderkey == c.c_custkey)
    assert "BroadcastHashJoin" in _spark_plan(j)


def test_scaled_broadcast_defers_to_aqe_above_cap(spark):
    os.environ["SPARK_GRAFT_BCAST_CAP_MB"] = "0"
    try:
        c = load_table(spark, SF_SMALL, "customer")
        out = scaled_broadcast(c, SF_SMALL, "customer")
        # no hint applied: the returned plan is the input plan itself
        assert out is c
    finally:
        del os.environ["SPARK_GRAFT_BCAST_CAP_MB"]


def test_unmeasurable_table_not_cached_and_warned_once(capsys):
    """ADVICE r8: the fail-closed sentinel must NOT be cached (a
    transient OSError would otherwise disable hints for the whole
    process) and the silent hint-drop must be visible on stderr once."""
    from multithreaded_map_reduce_library_spark.sources import catalog

    path = "/nonexistent/sf_dir/customer.parquet"
    catalog._UNMEASURABLE_WARNED.discard(path)
    assert catalog._parquet_bytes(path) == 1 << 62
    assert catalog._parquet_bytes(path) == 1 << 62  # re-measured, same
    err = capsys.readouterr().err
    assert err.count("cannot measure") == 1  # warned exactly once


def test_rewritten_table_reads_new_size(tmp_path):
    """A table rewritten in-process is re-measured: a dimension that grows
    past the cap loses its forced broadcast hint."""
    from multithreaded_map_reduce_library_spark.sources import catalog

    single = tmp_path / "customer.parquet"
    single.write_bytes(b"x" * 100)
    assert catalog._parquet_bytes(str(single)) == 100
    single.write_bytes(b"x" * 5000)
    assert catalog._parquet_bytes(str(single)) == 5000

    parts = tmp_path / "part.parquet"
    parts.mkdir()
    (parts / "part-00000.snappy.parquet").write_bytes(b"x" * 100)
    (parts / "_SUCCESS").write_bytes(b"")
    (parts / ".part-00000.snappy.parquet.crc").write_bytes(b"x" * 7)
    assert catalog._parquet_bytes(str(parts)) == 100  # no _SUCCESS, no .crc
    (parts / "part-00001.snappy.parquet").write_bytes(b"x" * 900)
    assert catalog._parquet_bytes(str(parts)) == 1000


def test_q3_result_invariant_to_broadcast_guard(spark):
    """The guard changes join STRATEGY only, never results: q3 rows are
    identical hinted (default cap) and unhinted (cap 0)."""
    from multithreaded_map_reduce_library_spark.plans.registry import all_queries

    q = all_queries()["q3_shipping_priority"]
    hinted = [tuple(r) for r in q.fn(spark, SF_SMALL).collect()]
    os.environ["SPARK_GRAFT_BCAST_CAP_MB"] = "0"
    try:
        unhinted = [tuple(r) for r in q.fn(spark, SF_SMALL).collect()]
    finally:
        del os.environ["SPARK_GRAFT_BCAST_CAP_MB"]
    assert hinted == unhinted


def _audit_snippet(src: str):
    """Run the static audit's per-function pass over a source snippet."""
    import ast

    from tools import broadcast_audit

    tree = ast.parse(src)
    lines = src.splitlines()
    sites: list[dict] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef):
            broadcast_audit.audit_function(node, lines, "<snippet>", sites)
    return sites


def test_audit_sees_broadcast_inside_match_case():
    """ADVICE r8: ast.Match keeps arms under `cases`, which the stmt
    traversal previously skipped — a raw-scan hint inside a match arm
    was silently unaudited."""
    sites = _audit_snippet(
        """
def q(spark, sf_dir, mode):
    dim = load_table(spark, sf_dir, "customer")
    match mode:
        case "hinted":
            j = broadcast(dim.filter(dim.c_acctbal > 0))
        case _:
            j = dim
    return j
"""
    )
    assert [s["class"] for s in sites] == ["UNGUARDED"]
    assert sites[0]["table"] == "customer"


def test_audit_models_tuple_unpack_assigns():
    """ADVICE r8: `a, b = scan, const` must rebind BOTH names — a stale
    earlier binding may not leak through the unpacking."""
    sites = _audit_snippet(
        """
def q(spark, sf_dir):
    a = spark.range(5)
    a, b = load_table(spark, sf_dir, "part"), spark.range(5)
    return broadcast(a.filter(a.p_size > 1)), broadcast(b)
"""
    )
    classes = sorted(s["class"] for s in sites)
    assert classes == ["UNGUARDED", "bounded-derived"]
    # and the reverse direction: raw binding cleared by an opaque unpack
    sites2 = _audit_snippet(
        """
def q(spark, sf_dir, f):
    a = load_table(spark, sf_dir, "part")
    (a, b) = f()
    return broadcast(a)
"""
    )
    assert [s["class"] for s in sites2] == ["bounded-const"]


def test_static_broadcast_audit_clean():
    """Zero unguarded data-scaling F.broadcast hints across the package
    (the plan_audit round gate runs the same sweep)."""
    from tools import broadcast_audit

    sites = broadcast_audit.collect_sites()
    unguarded = [s for s in sites if s["class"] == "UNGUARDED"]
    assert unguarded == []
    # the sweep actually sees the package (not a silently-empty walk)
    assert len(sites) > 250
