"""Regenerate the committed evidence under ``results/``.

    python3 perfbench/evidence.py steadiness [--runs 10] [--sets 2]  # -> results/steadiness.json
    python3 perfbench/evidence.py traced [--seed 1]       # -> results/traced.json

Run from the repository root on an otherwise idle box; runs are sequential.
``steadiness`` makes ``--sets`` sets of runs; a set runs every workload
``--runs`` times untraced, each with its own seed, and records per metric
the values, their median and quartiles, and the spread (inter-quartile
range over median) that the bounds in ``BENCHMARK.json`` are checked
against. With two or more sets it also records how much worse each later
set's median is than the first set's, the other quantity the bounds cap.
``traced`` runs every workload once with ``--trace 1`` and records its
per-layer metrics, tracing overhead included.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True, timeout=180)
    elapsed = time.perf_counter() - t0
    *_, info_line, result_line = res.stdout.strip().splitlines()
    return json.loads(info_line)["info"], json.loads(result_line), elapsed


def one_set(spec: dict, seeds: range) -> dict:
    out = {}
    for w in (w["name"] for w in spec["workloads"]):
        values: dict[str, list[float]] = {}
        elapsed, suspect = [], []
        for seed in seeds:
            info, result, took = _run(w, seed, spec["run_seconds"], 0)
            assert result["correct"], (w, seed, result)
            elapsed.append(took)
            suspect.append(info["suspect"])
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{w} seed {seed}: {took:.1f} s", file=sys.stderr, flush=True)
        metrics = {}
        for name, xs in values.items():
            q1, _, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            metrics[name] = {"values": xs, "median": med, "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / med}
        out[w] = {"seeds": list(seeds), "run_elapsed_s": elapsed,
                  "suspect": suspect, "metrics": metrics}
    return out


def worse_by(spec: dict, first: dict, later: dict) -> dict:
    """Per workload and end-to-end metric: how much worse ``later``'s median
    is than ``first``'s, as a share of ``first``'s (negative: better)."""
    sign = {m["name"]: 1 if m["better"] == "lower" else -1 for m in spec["end_to_end"]}
    return {
        w: {name: sign[name] * (later[w]["metrics"][name]["median"] - m["median"]) / m["median"]
            for name, m in block["metrics"].items()}
        for w, block in first.items()
    }


def steadiness(runs: int, sets: int, save) -> dict:
    spec = _spec()
    out = {"run_seconds": spec["run_seconds"], "sets": []}
    for k in range(sets):
        out["sets"].append(one_set(spec, range(k * runs + 1, (k + 1) * runs + 1)))
        if k:
            out.setdefault("worse_by", []).append(worse_by(spec, out["sets"][0], out["sets"][k]))
        save(out)
    return out


def traced(seed: int) -> dict:
    spec = _spec()
    out = {}
    for w in (w["name"] for w in spec["workloads"]):
        info, result, took = _run(w, seed, spec["run_seconds"], 1)
        out[w] = {"seed": seed, "run_elapsed_s": took, "info": info,
                  "metrics": {k: v["value"] for k, v in result["metrics"].items()}}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("what", choices=("steadiness", "traced"))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    os.makedirs(RESULTS, exist_ok=True)

    def save(doc: dict) -> None:
        with open(os.path.join(RESULTS, f"{args.what}.json"), "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=1)
            f.write("\n")

    if args.what == "steadiness":
        steadiness(args.runs, args.sets, save)
    else:
        save(traced(args.seed))
    return 0


if __name__ == "__main__":
    sys.exit(main())
