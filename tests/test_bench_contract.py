"""Driver-facing bench line contract (VERDICT r9 item 2).

The round driver captures the last 2000 chars of bench stdout and parses
the trailing JSON line. Rounds 3-6 printed per-query maps without a size
guard, the line outgrew the captured tail, and the driver's parse failed
(BENCH_r03..r06: parsed=null). Round 10 restores the per-query map WITH a
hard budget: these tests pin the budget, the degradation ladder, and the
additions-only field contract (every round-9 key survives unchanged).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

# The exact per-query names + representative seconds of the round-9 bench
# set (47 queries, 1077 chars of names) — the worst real payload the line
# must carry today.
_R9_BASE = {
    "metric": "headline_queries_total",
    "value": 39.995,
    "unit": "sec",
    "control_commit": "fc2e97c",
    "control_value": 45.472,
    "head_common_value": 39.995,
    "ab_ratio": 0.8796,
    "ab_outliers": {},
    "ab_passes": 2,
    "ab_load1": [11.9, 8.2, 3.8, 4.0],
    "n_common": 47,
    "protocol": 3,
    "sf": 0.1,
}


def _history_entry():
    hist = os.path.join(os.path.dirname(bench.__file__), "BENCH_HISTORY.jsonl")
    with open(hist) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    for ln in reversed(lines):
        e = json.loads(ln)
        if len(e.get("queries", {})) >= 40:
            return e
    raise AssertionError("no full bench entry in BENCH_HISTORY.jsonl")


def test_line_carries_per_query_map_and_fits_budget():
    e = _history_entry()
    result = dict(_R9_BASE)
    result["queries"] = e["queries"]
    result["spread"] = {n: 0.1 for n in e["queries"]}
    result["control_queries"] = e.get("control_queries", e["queries"])
    line = bench._driver_line(result)
    assert len(line) <= 2000 - 1  # whole line inside the captured tail
    parsed = json.loads(line)
    # additions only: every round-9 printed key survives, same values
    for k, v in _R9_BASE.items():
        assert parsed[k] == v, k
    assert parsed["n_queries"] == len(e["queries"])
    # the new map: same names, seconds within rounding of the input
    assert set(parsed["queries"]) == set(e["queries"])
    for n, v in parsed["queries"].items():
        assert abs(v - e["queries"][n]) <= 0.005 + 1e-9


def test_line_degrades_to_legacy_shape_rather_than_overflow():
    # pathological future: 200 long-named queries cannot fit -> the line
    # must fall back to the round-7..9 compact shape, never exceed budget
    result = dict(_R9_BASE)
    result["queries"] = {
        f"extremely_long_query_name_number_{i:03d}_with_padding": 1.234
        for i in range(200)
    }
    line = bench._driver_line(result)
    assert len(line) <= 2000 - 1
    parsed = json.loads(line)
    assert "queries" not in parsed
    assert parsed["n_queries"] == 200


def test_line_prefers_three_decimals_when_they_fit():
    result = dict(_R9_BASE)
    result["queries"] = {f"q{i}": 1.2345 for i in range(10)}
    parsed = json.loads(bench._driver_line(result))
    assert parsed["queries"]["q0"] == 1.234  # round(1.2345, 3) banker's


def test_outliers_cut_to_worst_five_before_queries_drop():
    # every query an outlier: the full map and the per-query map cannot
    # fit together, so the line keeps the per-query map and the worst five
    # (here the five shortest names, which fit beside it)
    e = _history_entry()
    result = dict(_R9_BASE)
    result["queries"] = e["queries"]
    by_len = sorted(e["queries"], key=lambda n: (len(n), n))
    result["ab_outliers"] = {n: round(2.0 - i / 100, 3) for i, n in enumerate(by_len)}
    assert len(json.dumps(result, separators=(",", ":"))) > 2000
    parsed = json.loads(bench._driver_line(result, ncpu=32))
    assert set(parsed["queries"]) == set(e["queries"])
    worst = sorted(result["ab_outliers"].items(), key=lambda kv: -kv[1])[:5]
    assert parsed["ab_outliers"] == dict(worst)


def test_suspect_flags_outlier_explosion_and_load():
    calm = dict(_R9_BASE, queries={"q0": 1.0}, ab_load1=[1.0, 2.0])
    assert "suspect" not in json.loads(bench._driver_line(calm, ncpu=4))
    # more than 8 outliers
    many = dict(calm, ab_outliers={f"q{i}": 1.5 for i in range(9)})
    assert json.loads(bench._driver_line(many, ncpu=4))["suspect"] is True
    eight = dict(calm, ab_outliers={f"q{i}": 1.5 for i in range(8)})
    assert "suspect" not in json.loads(bench._driver_line(eight, ncpu=4))
    # a pass that started above half the CPUs
    busy = dict(calm, ab_load1=[1.0, 2.1])
    assert json.loads(bench._driver_line(busy, ncpu=4))["suspect"] is True
    assert "suspect" not in json.loads(bench._driver_line(busy, ncpu=8))
