from __future__ import annotations

import hashlib

import __spark_entry__ as entrymod


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert "sum_qty_e2" in df.columns


def test_registry_contract():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 25
    assert set(oracles) <= set(qs)
    # the vast majority of queries must be oracle-checked
    assert len(oracles) >= len(qs) - 2


def test_registry_order_pinned():
    """Bench order and test parametrization follow registration order."""
    names = list(entrymod.queries())
    assert len(names) == 452
    digest = hashlib.sha256("\n".join(names).encode()).hexdigest()
    assert digest == "4a9b801f32d3572cfa1edf4959c8adf082ffdf8c461831325982dd41aa5fc907"
