"""Measurement plumbing shared by every workload: timing statistics, the
process-tree RSS sampler, the span tracer and the box-load record.

Nothing here imports Spark or the engine, so the tests of the benchmark
itself run without a JVM.
"""

from __future__ import annotations

import contextlib
import math
import os
import re
import threading
import time

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")

#: the tail percentile must leave at least this many samples above it
TAIL_MIN_BEYOND = 10


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(samples)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail(samples: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[int, float]:
    """The highest whole percentile with at least ``min_beyond`` samples
    strictly above it, as ``(percentile, value)``.

    Raises ValueError when no percentile qualifies (fewer than
    ``min_beyond + 1`` distinct-rank samples)."""
    for p in range(99, 0, -1):
        v = percentile(samples, p)
        if sum(1 for x in samples if x > v) >= min_beyond:
            return p, v
    raise ValueError(f"{len(samples)} samples leave no percentile with {min_beyond} beyond it")


# --------------------------------------------------------------------------
# process tree
# --------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may itself hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes that map it, so summing over Spark's forked Python
    workers does not count their shared pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss_bytes(pid: int) -> int:
    return sum(_pss_bytes(p) for p in [pid, *descendants(pid)])


class MemorySampler:
    """Samples the summed resident memory (PSS) of this process and all its
    descendants (driver Python, the JVM, Spark's Python workers) on a
    daemon thread and keeps the peak."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    with contextlib.suppress(ChildProcessError):
        # reap it if it is our own exited child
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    return True


def wait_for_exit(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait until every pid in ``pids`` has exited; kill what is left
    after ``timeout_s`` and return the pids that had to be killed.

    Takes a snapshot rather than walking the tree at the end: Spark's
    Python workers are re-parented away from this process once the JVM
    that started them exits."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        left = [p for p in pids if _alive(p)]
        if not left:
            return []
        time.sleep(0.1)
    left = [p for p in pids if _alive(p)]
    for p in left:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, 9)
    return left


# --------------------------------------------------------------------------
# box load
# --------------------------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def load1() -> float:
    return os.getloadavg()[0]


def is_suspect(load1_at_entry: float, cores: int) -> bool:
    """A run is suspect when the box was already busy when it started."""
    return load1_at_entry > cores / 2


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """Spans ``{name, start, end, parent, run_id}`` recorded around the
    benchmark's calls into the engine, kept in memory and written at exit.

    A disabled tracer records nothing and its ``span`` costs one branch.
    ``on_enter``/``on_exit`` hooks let the Spark side tag jobs with the
    span's group id and count them when the span closes.
    """

    def __init__(self, enabled: bool, on_enter=None, on_exit=None):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._on_enter = on_enter
        self._on_exit = on_exit

    @contextlib.contextmanager
    def span(self, name: str, run_id: str, group: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": run_id,
            **attrs,
        }
        self.spans.append(rec)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        if group is not None:
            rec["group"] = group
            if self._on_enter:
                self._on_enter(group)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None and self._on_exit:
                self._on_exit(group, rec)

    def select(self, name: str, run_ids: set[str] | None = None) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["name"] == name and (run_ids is None or s["run_id"] in run_ids)
        ]


def span_seconds(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)
