"""Steady-state benchmark of the engine, one workload per process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each run starts a fresh Spark session on
``local[nproc]`` and drives one workload as a closed loop with one client.
It runs a cold round whose outputs it keeps for the check, then a fixed
number of warm rounds on the timed input, then times a fixed number of
rounds sized from ``--seconds``. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer split, measured on traced rounds interleaved with untraced ones,
and the tracing overhead between the two. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import harness  # noqa: E402
import workloads  # noqa: E402

WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

#: the last warm round counts as plateaued when it is within this share of
#: the best earlier warm round (reported, not acted on)
PLATEAU_TOL = 0.05

#: the run length ``Workload.window_rounds`` is sized for (BENCHMARK.json)
STANDARD_SECONDS = 20


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Bench:
    """One run: a Spark session, the tracer, and the per-call samples."""

    def __init__(self, workload: workloads.Workload, seed: int, traced: bool, work: str):
        self.wl = workload
        self.seed = seed
        self.work = work
        self.spark = None
        self.registry = None
        self.tracer = harness.Tracer(traced, on_enter=self._tag_jobs, on_exit=self._count_jobs)
        self.took: float | None = None
        self.sinks: dict[str, tuple[float, int]] = {}

    # -- tracing hooks ------------------------------------------------------

    def _tag_jobs(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    def set_tracing(self, on: bool) -> None:
        """Turn spans and job tags on or off; untraced jobs are filed under
        their own group so they never count toward a traced span."""
        self.tracer.enabled = on
        if not on:
            self.spark.sparkContext.setJobGroup("untraced", "untraced")

    def _count_jobs(self, group: str, span: dict) -> None:
        span["jobs"] = len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def record_sink(self, run_id: str, out_dir: str) -> None:
        sizes = [
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(out_dir)
            for f in fs
            if f.startswith("part-")
        ]
        self.sinks[run_id] = (sum(sizes) / 1e6, len(sizes))

    @contextlib.contextmanager
    def timed(self):
        """Time a unit's API call; the sample is kept only if it returns."""
        t0 = time.perf_counter()
        yield
        self.took = time.perf_counter() - t0

    # -- session ------------------------------------------------------------

    def boot(self, cores: int) -> None:
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        # keep every file Spark, the JVM and the workers write inside the
        # checkout
        os.environ.update(
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=local,
            SPARK_GRAFT_CPUS=str(cores),
            PYSPARK_PYTHON=sys.executable,
        )
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # Spark's cache of compiled generated classes holds 100 entries by
            # default, split into segments that evict on their own. The
            # registry_mix round generates 103 classes, so the default cache
            # recompiled 75 of them with Janino in every warm round and the
            # round times never settled. Sized so a warm round compiles none.
            "spark.sql.codegen.cache.maxEntries": "1000",
        }
        if self.tracer.enabled:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        from multithreaded_map_reduce_library_spark.plans.registry import all_queries
        from multithreaded_map_reduce_library_spark.session import get_spark

        self.registry = all_queries()
        with self.tracer.span("session.get_spark", "boot"):
            self.spark = get_spark(app_name=f"perfbench-{self.wl.name}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> list[int]:
        """Stop Spark and its JVM; wait for every process the run started.
        Returns the pids that had to be killed."""
        from pyspark import SparkContext

        pids = harness.descendants(os.getpid())
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                with contextlib.suppress(subprocess.TimeoutExpired):
                    proc.wait(timeout=30)
        return harness.wait_for_exit(pids)

    def codegen_compiles(self) -> int:
        """Generated classes Janino has compiled in this JVM so far."""
        return self.spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()

    # -- rounds -------------------------------------------------------------

    def round(self, phase: str, rnd: int, check: bool = False):
        """Issue every unit of the mix once, in a seeded order. Returns the
        round's wall time, ``(unit, seconds)`` samples of the units that
        completed, the units that raised, and the outputs to check."""
        order = list(self.wl.units)
        random.Random(f"{self.seed}/{rnd}").shuffle(order)
        samples, raised, outs = [], [], {}
        t0 = time.perf_counter()
        for unit in order:
            run_id = f"{phase}.{rnd}.{unit}"
            self.took = None
            try:
                out = self.wl.run(self, unit, run_id, check)
            except Exception:
                log(f"{run_id} raised:\n{traceback.format_exc()}")
                raised.append(unit)
                continue
            samples.append((unit, self.took))
            if check:
                outs[unit] = out
        wall = time.perf_counter() - t0
        log(f"{phase} {rnd}: {wall:.2f} s " + " ".join(f"{u}={s:.2f}" for u, s in samples))
        return wall, samples, raised, outs


def verify(bench: Bench, outs: dict) -> dict[str, bool]:
    wl = bench.wl
    wl.load_expected(bench.registry)
    ok = {}
    for unit in wl.units:
        try:
            ok[unit] = unit in outs and wl.verify(unit, outs[unit])
        except Exception:
            log(f"check of {unit} raised:\n{traceback.format_exc()}")
            ok[unit] = False
    return ok


def tally(wl: workloads.Workload, n_rounds: int, samples, raised, ok) -> tuple[int, int]:
    """``(attempted, failed)`` calls in the window, one per unit and round.
    A call that raised fails, and so does every call of a unit whose
    checked output did not match."""
    attempted = n_rounds * len(wl.units)
    failed = len(raised) + sum(1 for u, _ in samples if not ok[u])
    return attempted, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cores = harness.nproc()
    load_entry = harness.load1()

    wl = workloads.WORKLOADS[args.workload]()
    work = os.path.join(WORK_ROOT, f"{wl.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        wl.make_inputs(work, args.seed)
        bench = Bench(wl, args.seed, bool(args.trace), work)
        result = measure(bench, args, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    info = {
        "workload": wl.name,
        "seed": args.seed,
        "nproc": cores,
        "load1_entry": load_entry,
        "load1_exit": harness.load1(),
        "suspect": harness.is_suspect(load_entry, cores),
        **result["info"],
    }
    metrics = result["end_to_end"]
    if args.trace:
        metrics = result["layers"]
        write_trace(bench, info, metrics)
    print(json.dumps({"info": info}), flush=True)
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


def measure(bench: Bench, args, cores: int) -> dict:
    wl = bench.wl
    # peak memory is a traced-run metric; untraced runs do not sample it
    with harness.MemorySampler() if args.trace else contextlib.nullcontext() as mem:
        t_setup = time.perf_counter()
        bench.boot(cores)
        boot_s = time.perf_counter() - t_setup

        # round 0 is the cold round: it collects every output for the check
        _, _, raised, outs = bench.round("check", 0, check=True)
        walls = []
        for rnd in range(1, wl.warm_rounds + 1):
            wall, _, r, _ = bench.round("warm", rnd)
            raised += r
            walls.append(wall)
        setup_s = time.perf_counter() - t_setup

        n_rounds = max(1, round(wl.window_rounds * args.seconds / STANDARD_SECONDS))
        # A traced run interleaves traced and untraced rounds (T U U T T U ..)
        # in the same session; the difference is the tracing overhead.
        if args.trace:
            plan = [on for i in range(n_rounds) for on in ((True, False), (False, True))[i % 2]]
        else:
            plan = [False] * n_rounds
        samples, failed_units, win_walls = [], [], []
        walls_by = {True: 0.0, False: 0.0}
        first = len(walls) + 1
        compiles = bench.codegen_compiles()
        t0 = time.perf_counter()
        for rnd, on in enumerate(plan, first):
            if args.trace:
                bench.set_tracing(on)
            wall, s, r, _ = bench.round("win", rnd)
            walls_by[on] += wall
            win_walls.append(wall)
            samples += s
            failed_units += r
        window_total_s = time.perf_counter() - t0
        compiles = bench.codegen_compiles() - compiles
        # The window's wall time at its median round pace: every round is the
        # same work, so a slow stretch of the host that covers less than half
        # of the rounds does not move it.
        wall_s = len(win_walls) * statistics.median(win_walls)

        layers = None
        if args.trace:
            bench.set_tracing(True)
            layers = traced_layers(bench, n_rounds)
            overhead = walls_by[True] - walls_by[False]
            layers["trace.overhead_s"] = (overhead, "s")
            layers["trace.overhead_ratio"] = (overhead / walls_by[False], "ratio")
        killed = bench.stop()
    if killed:
        log(f"killed {len(killed)} processes left after shutdown")

    ok = verify(bench, outs)
    attempted, failed = tally(wl, len(plan), samples, failed_units, ok)
    secs = [s for _, s in samples]
    try:
        tail_p, tail_v = harness.tail(secs)
    except ValueError as e:
        log(f"{e}; reporting the maximum as the tail")
        tail_p, tail_v = 100, max(secs)
    if args.trace:
        layers.update(eventlog_layers(bench, n_rounds, cores))
        layers["session.boot_s"] = (boot_s, "s")
        layers["session.warm_s"] = (setup_s - boot_s, "s")
        layers["peak_rss_mb"] = (mem.peak / 1e6, "MB")
    return {
        "correct": all(ok.values()) and not raised,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "query_p50_s": (statistics.median(secs), "s"),
            "query_tail_s": (tail_v, "s"),
            "ok_ratio": ((attempted - failed) / attempted, "ratio"),
        },
        "layers": layers,
        "info": {
            "boot_s": boot_s,
            "warm_round_s": walls,
            "plateau": walls[-1] >= (1 - PLATEAU_TOL) * min(walls[:-1]),
            "window_rounds": len(plan),
            "window_total_s": window_total_s,
            "window_codegen_compiles": compiles,
            "samples": len(secs),
            "tail_percentile": tail_p,
            "checks": ok,
            "raised_outside_window": raised,
        },
    }


# --------------------------------------------------------------------------
# traced run: the per-layer split
# --------------------------------------------------------------------------


def traced_layers(bench: Bench, n: int) -> dict:
    """Span- and kernel-derived layer metrics, per traced window round.
    Runs while the session is still up (the scan rate needs it)."""
    import checks
    import kernels

    tr = bench.tracer
    win = {s["run_id"] for s in tr.spans if s["run_id"].startswith("win.")}
    per_round = lambda spans: harness.span_seconds(spans) / n  # noqa: E731
    build, execs = tr.select("plans.build", win), tr.select("plans.exec", win)
    m = {
        "plans.build_s": (per_round(build), "s"),
        "plans.build_jobs": (sum(s["jobs"] for s in build) / n, "count"),
        "plans.exec_s": (per_round(execs), "s"),
        "plans.exec_jobs": (sum(s["jobs"] for s in execs) / n, "count"),
        "mapreduce.mr_run_s": (per_round(tr.select("mapreduce.mr_run", win)), "s"),
        "operators.wordcount_sink_s": (per_round(tr.select("operators.wordcount_sink", win)), "s"),
    }
    sinks = [v for k, v in bench.sinks.items() if k in win]
    m["sources.sink_write_mb"] = (sum(mb for mb, _ in sinks) / n, "MB")
    m["sources.sink_files"] = (sum(f for _, f in sinks) / n, "count")
    for q in workloads.RegistryMix.units:
        for phase, spans in (("build", build), ("exec", execs)):
            xs = [s["end"] - s["start"] for s in spans if s.get("query") == q]
            m[f"q.{q}.{phase}_s"] = (statistics.median(xs) if xs else 0.0, "s")
        jobs = [s["jobs"] for s in build if s.get("query") == q]
        m[f"q.{q}.build_jobs"] = (sum(jobs) / n, "count")

    seed = bench.seed
    with tr.span("functions.jpeg.decode_jpeg", "kernels"):
        m["functions.jpeg.decode_mb_per_s"] = (kernels.jpeg_decode_mb_per_s(seed), "MB/s")
    with tr.span("functions.arrowdist.pairwise_cosine_batches", "kernels"):
        m["functions.arrowdist.cosine_rows_per_s"] = (kernels.cosine_rows_per_s(seed), "rows/s")
    with tr.span("functions.arrowdist.lloyd_argmin_batches", "kernels"):
        m["functions.arrowdist.argmin_rows_per_s"] = (kernels.argmin_rows_per_s(seed), "rows/s")
    with tr.span("functions.hashing.djb2", "kernels"):
        m["functions.hashing.djb2_keys_per_s"] = (kernels.djb2_keys_per_s(seed), "keys/s")
    m["sources.scan_mb_per_s"] = (scan_mb_per_s(bench, checks), "MB/s")
    return m


def scan_mb_per_s(bench: Bench, checks, reps: int = 3) -> float:
    """Parquet MB per second through ``catalog.load_table`` into a no-op
    write, over the tables the registry workloads read."""
    from multithreaded_map_reduce_library_spark.sources.catalog import load_table

    mb = sum(os.path.getsize(os.path.join(checks.DATA_DIR, f"{t}.parquet")) for t in checks.TABLES) / 1e6
    took = 0.0
    for rep in range(reps + 1):
        t0 = time.perf_counter()
        with bench.tracer.span("sources.load_table", f"scan.{rep}", group=f"scan.{rep}/exec"):
            for t in checks.TABLES:
                load_table(bench.spark, checks.DATA_DIR, t).write.format("noop").mode("overwrite").save()
        if rep:  # the first pass warms the reader
            took += time.perf_counter() - t0
    return mb * reps / took


def eventlog_layers(bench: Bench, n: int, cores: int) -> dict:
    """Runtime totals from the finished event log, per traced window round."""
    import eventlog

    tr = bench.tracer
    by_group = eventlog.reduce_by_group(os.path.join(bench.work, "eventlog"))
    win = [s for s in tr.spans if s["run_id"].startswith("win.") and "group" in s]
    groups = [s["group"] for s in win]
    t = eventlog.total(by_group, groups)
    exec_spans = [s for s in win if s["group"].endswith("/exec")]
    exec_run_s = eventlog.total(by_group, [s["group"] for s in exec_spans])["task_run_ms"] / 1e3
    exec_wall = harness.span_seconds(exec_spans)
    mr = eventlog.total(by_group, [s["group"] for s in win if s["name"] == "mapreduce.mr_run"])
    return {
        "plans.tasks": (eventlog.total(by_group, [s["group"] for s in win if s["name"] == "plans.exec"])["tasks"] / n, "count"),
        "spark.task_run_s": (t["task_run_ms"] / 1e3 / n, "s"),
        "spark.task_cpu_s": (t["task_cpu_ns"] / 1e9 / n, "s"),
        "spark.gc_s": (t["gc_ms"] / 1e3 / n, "s"),
        "spark.core_busy_ratio": (exec_run_s / (exec_wall * cores) if exec_wall else 0.0, "ratio"),
        "spark.shuffle_write_mb": (t["shuffle_write_bytes"] / 1e6 / n, "MB"),
        "spark.shuffle_read_mb": (t["shuffle_read_bytes"] / 1e6 / n, "MB"),
        "spark.spill_mb": (t["spill_bytes"] / 1e6 / n, "MB"),
        "mapreduce.pairs_shuffled": (mr["shuffle_records_written"] / n, "count"),
    }


def write_trace(bench: Bench, info: dict, metrics: dict) -> None:
    """Spans and the per-layer metrics of a traced run, written at exit."""
    os.makedirs(WORK_ROOT, exist_ok=True)
    path = os.path.join(WORK_ROOT, f"trace-{info['workload']}-seed{info['seed']}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(
            {"info": info, "metrics": {k: v for k, (v, _) in metrics.items()}, "spans": bench.tracer.spans},
            f,
            indent=1,
        )
    log(f"spans written to {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
