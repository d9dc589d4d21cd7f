"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"sf": ..., "control_value": ..., "ab_ratio": ...}.

Round-8 protocol (VERDICT r7 item 1): the raw round-over-round headline
cannot separate code from environment — round 7's +24% was adjudicated to
be ~3/4 box drift (the C reference control itself slowed 24% the same
day). The harness now builds that adjudication in: an A/B DRIFT CONTROL
checks out a pinned control commit (BENCH_CONTROL file, --control, or
$SPARK_GRAFT_BENCH_CONTROL) into a temp git worktree and INTERLEAVES
control/HEAD passes in one session in ABBA order — C,H then H,C — each
pass a fresh subprocess (fresh JVM, symmetric cold-start) running THE
SAME worker code with only sys.path deciding which package is measured.
ABBA (not plain C,H,C,H) is load-bearing: monotone box drift and the
preceding JVM's teardown hit whichever side runs second, and alternating
the order cancels that first-order bias (a plain C,H smoke mis-read a 5%
improvement as +45%). The verdict-facing
number is ab_ratio = head_common / control_common over the common query
set: box drift hits both sides of an interleaved pair equally, so the
ratio measures code. `value` (sum over all HEAD bench queries) remains
for continuity with BENCH_r01..r07, but cross-round comparisons should
use the ratio chain.

Each timed query is materialized with ``df.write.format("noop")`` so the
full plan runs distributed (no driver collect).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))


# --------------------------------------------------------------------------
# measurement core (shared by legacy single-process mode and A/B workers)
# --------------------------------------------------------------------------


def _quiesce(max_wait: float | None = None) -> None:
    """Contention guard #1 (round-5, VERDICT r4 item 4): don't START a
    timed pass while the box is busy with other work."""
    if max_wait is None:
        max_wait = float(os.environ.get("SPARK_GRAFT_BENCH_QUIESCE_S", "600"))
    ncpu = os.cpu_count() or 32
    waited = 0.0
    while waited < max_wait:
        try:
            load1 = os.getloadavg()[0]
        except OSError:
            return
        if load1 < ncpu * 0.5:
            return
        print(
            f"bench: load1={load1:.1f} >= {ncpu * 0.5:.0f} — waiting for the "
            "box to quiesce (another job is running?)",
            file=sys.stderr,
        )
        time.sleep(30)
        waited += 30


def _boot_spark(code_dir: str):
    sys.path.insert(0, code_dir)
    from multithreaded_map_reduce_library_spark.session import get_spark

    spark = get_spark(app_name="mtmrl-bench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _bench_queries():
    from multithreaded_map_reduce_library_spark.plans.registry import all_queries

    return {n: q for n, q in all_queries().items() if q.bench}


def _repin():
    """Execution-time conf re-pin (VERDICT r8 item 4) — identity when
    the package on sys.path predates ``session.repin`` (this bench.py is
    HEAD's even when the A/B worker runs the CONTROL worktree's package,
    so the import must degrade instead of killing the control side)."""
    try:
        from multithreaded_map_reduce_library_spark.session import repin

        return repin
    except ImportError:
        return lambda df: df


def _warmup(spark, bench_queries, sf_dir: str) -> None:
    """Boot Python UDF workers (one per core), then run every bench plan
    once at sf0.001 (at ``sf_dir`` with ``limit(1)`` if that fails). The
    timed pass can still recompile generated classes: Spark's codegen
    cache keeps 100 entries by default, fewer than the bench plans
    generate."""
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("long")
    def _ident(s):
        return s

    spark.range(0, 100_000, 1, 64).select(_ident(col("id"))).write.format("noop").mode(
        "overwrite"
    ).save()
    repin = _repin()
    warm_dir = "/root/testdata/sf0.001"
    for q in bench_queries.values():
        try:
            repin(q.fn(spark, warm_dir)).write.format("noop").mode("overwrite").save()
        except Exception:
            repin(q.fn(spark, sf_dir)).limit(1).collect()


def _timed_pass(bench_queries, spark, sf_dir: str, n_runs: int):
    """One full pass over the bench set, n_runs samples per query.
    Returns {name: [sample, ...]} (seconds, run order preserved)."""
    repin = _repin()
    samples: dict[str, list[float]] = {}
    for name, q in bench_queries.items():
        ss = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            # re-apply this plan's own perf pins at execution time
            # (VERDICT r8 item 4) — a conf-cache no-op in this
            # build-then-execute loop, load-bearing for batched builds
            repin(df).write.format("noop").mode("overwrite").save()
            ss.append(time.perf_counter() - t0)
        samples[name] = ss
    return samples


def _median_stats(samples: dict[str, list[float]]):
    """Legacy per-query stats: (median, max-min spread, median-min)."""
    t, s, d = {}, {}, {}
    for name, ss in samples.items():
        ss = sorted(ss)
        mid = len(ss) // 2
        t[name] = round(ss[mid], 3)
        s[name] = round(ss[-1] - ss[0], 3)
        d[name] = round(ss[mid] - ss[0], 3)
    return t, s, d


# --------------------------------------------------------------------------
# worker mode: one pass, full JSON to $SPARK_GRAFT_BENCH_OUT, nothing else
# --------------------------------------------------------------------------


def worker_main() -> None:
    code_dir = os.environ.get("SPARK_GRAFT_BENCH_CODE_DIR", HERE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    spark = _boot_spark(code_dir)
    bq = _bench_queries()
    _warmup(spark, bq, sf_dir)
    samples = _timed_pass(bq, spark, sf_dir, n_runs)
    out = os.environ["SPARK_GRAFT_BENCH_OUT"]
    with open(out, "w") as f:
        json.dump({"code_dir": code_dir, "n_runs": n_runs, "samples": samples}, f)
    spark.stop()


# --------------------------------------------------------------------------
# legacy single-process protocol (no control resolvable / --no-control)
# --------------------------------------------------------------------------


def legacy_main(sf_dir: str, sf) -> dict:
    spark = _boot_spark(HERE)
    bq = _bench_queries()
    _warmup(spark, bq, sf_dir)
    _quiesce()
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # Contention guard #2 (round 5): a pass whose summed downside spread
    # (median - min) exceeds 15% of its total measured scheduler noise,
    # not code — re-run (up to SPARK_GRAFT_BENCH_MAX_PASSES) and record
    # the quietest pass.
    max_passes = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_PASSES", "3"))
    best = None
    n_passes = 0
    for attempt in range(1, max_passes + 1):
        timings, spread, down = _median_stats(_timed_pass(bq, spark, sf_dir, n_runs))
        n_passes = attempt
        total = sum(timings.values())
        ratio = (sum(down.values()) / total) if total else 0.0
        if best is None or ratio < best[2]:
            best = (timings, spread, ratio)
        if ratio <= 0.15:
            break
        print(
            f"bench: pass {attempt} downside-spread ratio {ratio:.1%} > 15% — "
            "contention suspected, re-running",
            file=sys.stderr,
        )
    timings, spread, ratio = best
    spark.stop()
    return {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "downside_spread_ratio": round(ratio, 4),
        "passes": n_passes,
        "protocol": 2,
        "sf": sf,
    }


# --------------------------------------------------------------------------
# A/B orchestrator
# --------------------------------------------------------------------------


def _resolve_control(argv: list[str]) -> str | None:
    if "--no-control" in argv or os.environ.get("SPARK_GRAFT_BENCH_NO_CONTROL"):
        return None
    if "--control" in argv:
        i = argv.index("--control") + 1
        if i >= len(argv) or argv[i].startswith("--"):
            print("bench: --control requires a commit-ish", file=sys.stderr)
            raise SystemExit(2)
        return argv[i]
    env = os.environ.get("SPARK_GRAFT_BENCH_CONTROL")
    if env:
        return env
    pin = os.path.join(HERE, "BENCH_CONTROL")
    if os.path.exists(pin):
        with open(pin) as f:
            for line in f:
                line = line.strip()
                if line and not line.startswith("#"):
                    return line.split()[0]
    return None


def _run_worker(code_dir: str, out_path: str) -> dict | None:
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_CODE_DIR"] = code_dir
    env["SPARK_GRAFT_BENCH_OUT"] = out_path
    env.setdefault("SPARK_GRAFT_BENCH_RUNS", "2")
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "bench.py"), "--worker"],
        env=env,
        stdout=sys.stderr,
        stderr=sys.stderr,
    )
    if r.returncode != 0 or not os.path.exists(out_path):
        return None
    with open(out_path) as f:
        return json.load(f)


def ab_main(control: str, sf_dir: str, sf) -> dict | None:
    """Interleaved A/B in ABBA order (C,H / H,C / ...) — per-query MIN
    across each side's passes, ratio over the common query set. Returns
    None if the worktree cannot be created (caller falls back to
    legacy)."""
    wt = tempfile.mkdtemp(prefix="mtmrl_bench_ctl_")
    try:
        r = subprocess.run(
            ["git", "-C", HERE, "worktree", "add", "--detach", "--force", wt, control],
            capture_output=True,
            text=True,
        )
        if r.returncode != 0:
            print(f"bench: control worktree failed: {r.stderr.strip()[:200]}", file=sys.stderr)
            return None
        _quiesce()
        ab_passes = int(os.environ.get("SPARK_GRAFT_BENCH_AB_PASSES", "2"))
        settle_s = float(os.environ.get("SPARK_GRAFT_BENCH_AB_SETTLE_S", "15"))
        sides = {"control": wt, "head": HERE}
        acc: dict[str, list[dict]] = {"control": [], "head": []}
        loads: list[float] = []
        with tempfile.TemporaryDirectory(prefix="mtmrl_bench_ab_") as td:
            for i in range(ab_passes):
                # ABBA ordering: alternate which side runs first so any
                # monotone box drift (thermal, cache, background load)
                # hits both sides symmetrically across the session.
                order = ("control", "head") if i % 2 == 0 else ("head", "control")
                for side in order:
                    out = os.path.join(td, f"{side}_{i}.json")
                    try:
                        load1 = os.getloadavg()[0]
                    except OSError:
                        load1 = -1.0
                    loads.append(round(load1, 1))
                    print(
                        f"bench: A/B pass {i + 1}/{ab_passes} {side} (load1={load1:.1f})",
                        file=sys.stderr,
                    )
                    res = _run_worker(sides[side], out)
                    if res is None:
                        print(f"bench: {side} worker failed (pass {i + 1})", file=sys.stderr)
                        return None
                    acc[side].append(res)
                    time.sleep(settle_s)  # let the previous JVM's teardown drain

        def per_query_min(passes: list[dict]) -> dict[str, float]:
            mins: dict[str, float] = {}
            for p in passes:
                for name, ss in p["samples"].items():
                    v = min(ss)
                    if name not in mins or v < mins[name]:
                        mins[name] = v
            return {n: round(v, 3) for n, v in mins.items()}

        head_q = per_query_min(acc["head"])
        ctl_q = per_query_min(acc["control"])
        common = sorted(set(head_q) & set(ctl_q))
        head_common = round(sum(head_q[n] for n in common), 3)
        ctl_common = round(sum(ctl_q[n] for n in common), 3)
        # Per-query outlier flagging (VERDICT r8 item 2): a green
        # AGGREGATE ratio can hide individual regressions — surface any
        # query whose head/control min exceeds the threshold with a
        # non-trivial head time, instead of leaving them to post-hoc jq.
        out_thresh = float(os.environ.get("SPARK_GRAFT_BENCH_OUTLIER_RATIO", "1.25"))
        out_floor = float(os.environ.get("SPARK_GRAFT_BENCH_OUTLIER_MIN_S", "0.5"))
        ab_outliers = {
            n: round(head_q[n] / ctl_q[n], 3)
            for n in common
            if ctl_q[n] > 0
            and head_q[n] >= out_floor
            and head_q[n] / ctl_q[n] > out_thresh
        }
        for n, r in sorted(ab_outliers.items(), key=lambda kv: -kv[1]):
            print(
                f"bench: A/B OUTLIER {n}: head {head_q[n]:.3f}s vs "
                f"control {ctl_q[n]:.3f}s ({r:.2f}x)",
                file=sys.stderr,
            )
        # per-query pooled spread for the history (max-min across all
        # HEAD samples of each query)
        spread = {}
        for name in head_q:
            pool = [s for p in acc["head"] for s in p["samples"].get(name, [])]
            spread[name] = round(max(pool) - min(pool), 3)
        return {
            "metric": "headline_queries_total",
            "value": round(sum(head_q.values()), 3),
            "unit": "sec",
            "queries": head_q,
            "spread": spread,
            "control_commit": control,
            "control_value": ctl_common,
            "head_common_value": head_common,
            "ab_ratio": round(head_common / ctl_common, 4) if ctl_common else None,
            "ab_outliers": ab_outliers,
            "ab_passes": ab_passes,
            "ab_load1": loads,
            "n_common": len(common),
            "protocol": 3,
            "sf": sf,
            "control_queries": ctl_q,
        }
    finally:
        subprocess.run(
            ["git", "-C", HERE, "worktree", "remove", "--force", wt],
            capture_output=True,
        )
        shutil.rmtree(wt, ignore_errors=True)


# --------------------------------------------------------------------------

#: The round driver captures only the last 2000 chars of stdout and parses
#: the trailing JSON line. Leave headroom for the newline and rounding
#: variance so the line NEVER starts outside the captured tail.
_TAIL_BUDGET = 1900


#: the line keeps at most this many outliers (the worst) before it would
#: drop the per-query map
_OUTLIERS_SHOWN = 5

#: more outliers than this means the pass, not the code, is suspect
_SUSPECT_OUTLIERS = 8


def _is_suspect(result: dict, ncpu: int | None = None) -> bool:
    """More than eight A/B outliers, or a pass that started with ``load1``
    above half of ``ncpu`` (default ``os.cpu_count()``)."""
    ncpu = ncpu or os.cpu_count() or 32
    outliers = result.get("ab_outliers") or {}
    return len(outliers) > _SUSPECT_OUTLIERS or max(result.get("ab_load1") or [0]) > ncpu / 2


def _driver_line(result: dict, ncpu: int | None = None) -> str:
    """Build the one printed JSON line (VERDICT r9 item 2): every legacy
    aggregate field PLUS the per-query seconds map, so the driver's
    PERF/scaling per-query tables can populate. Constraint, proven by
    rounds 3-6: the driver keeps only the last 2000 chars of stdout, and
    those rounds' oversized lines made its parse FAIL (BENCH_r03..r06
    tails start mid-line, parsed=null). So the line uses compact
    separators and degrades in steps until it fits the budget:
    3-decimal queries -> 2-decimal queries -> the same two with
    ``ab_outliers`` cut to its worst five -> no queries (the round-7..9
    shape). The control per-query map (~1.5k chars more) cannot fit
    alongside 47 query names; it stays in BENCH_HISTORY.jsonl.

    ``"suspect": true`` marks a measurement not to trust
    (:func:`_is_suspect`)."""
    compact = {
        k: v
        for k, v in result.items()
        if k not in ("queries", "spread", "control_queries")
    }
    compact["n_queries"] = len(result["queries"])
    outliers = result.get("ab_outliers") or {}
    if _is_suspect(result, ncpu):
        compact["suspect"] = True
    worst = dict(sorted(outliers.items(), key=lambda kv: -kv[1])[:_OUTLIERS_SHOWN])
    for shown in (outliers, worst):
        for ndigits in (3, 2):
            cand = dict(compact)
            if "ab_outliers" in cand:
                cand["ab_outliers"] = shown
            cand["queries"] = {n: round(v, ndigits) for n, v in result["queries"].items()}
            s = json.dumps(cand, separators=(",", ":"))
            if len(s) <= _TAIL_BUDGET:
                return s
    if "ab_outliers" in compact:
        compact["ab_outliers"] = worst
    return json.dumps(compact, separators=(",", ":"))


def main() -> None:
    if "--worker" in sys.argv:
        worker_main()
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_s = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    sf = float(sf_s) if sf_s.replace(".", "").isdigit() else sf_s
    control = _resolve_control(sys.argv)
    result = None
    if control:
        result = ab_main(control, sf_dir, sf)
    if result is None:
        result = legacy_main(sf_dir, sf)

    print(_driver_line(result))
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out_path:
        with open(out_path, "w") as f:
            f.write(json.dumps(result) + "\n")
    # Append to the tracked per-round history so round-over-round
    # per-query regressions are mechanically diffable (judge request).
    try:
        import datetime

        hist = os.path.join(HERE, "BENCH_HISTORY.jsonl")
        with open(hist, "a") as f:
            f.write(
                json.dumps(
                    {
                        "ts": datetime.datetime.now(datetime.timezone.utc).isoformat(
                            timespec="seconds"
                        ),
                        **result,
                        **({"suspect": True} if _is_suspect(result) else {}),
                    }
                )
                + "\n"
            )
    except OSError:
        pass  # read-only checkout: history is best-effort


if __name__ == "__main__":
    main()
