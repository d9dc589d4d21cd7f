"""Isolate a per-query A/B outlier (VERDICT r8 item 2 adjudication).

bench.py's in-pass per-query mins can carry daemon-heap/order effects;
before treating a head/control ratio as a code property, re-measure the
named queries ALONE: four fresh-JVM sessions in H,C,C,H order (HEAD, the
BENCH_CONTROL commit, the control again, HEAD again — as bench.py
alternates sides, so the box's first-session penalty does not land on one
side), each a warmup at sf0.001 then N warm runs at the target sf_dir;
min per query per side over both its sessions. The control commit is
copied with ``git archive`` into a temp directory, leaving the repo's
worktree list untouched. Prints head s, control s, and the isolated ratio.

Usage:
  python tools/ab_isolate.py knn_shapley_valuation,winnowing_fingerprints \
      [--sf-dir /root/testdata/sf0.1] [--runs 4]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import json, os, sys, time
code_dir = sys.argv[1]
sf_dir = sys.argv[2]
runs = int(sys.argv[3])
names = sys.argv[4].split(",")
out_path = sys.argv[5]
sys.path.insert(0, code_dir)
from multithreaded_map_reduce_library_spark.plans.registry import all_queries
from multithreaded_map_reduce_library_spark.session import get_spark, repin
spark = get_spark(app_name="ab-isolate")
spark.sparkContext.setLogLevel("ERROR")
qs = all_queries()
res = {}
for name in names:
    q = qs[name]
    q.fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        df = q.fn(spark, sf_dir)
        try:
            repin(df)
        except Exception:
            pass  # control commit may predate repin
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    res[name] = round(best, 3)
with open(out_path, "w") as f:
    json.dump(res, f)
spark.stop()
"""


def _control_commit() -> str:
    with open(os.path.join(HERE, "BENCH_CONTROL")) as f:
        for line in f:
            line = line.strip()
            if line and not line.startswith("#"):
                return line
    raise SystemExit("no control commit in BENCH_CONTROL")


def main() -> int:
    names = sys.argv[1]
    sf_dir = (
        sys.argv[sys.argv.index("--sf-dir") + 1]
        if "--sf-dir" in sys.argv
        else "/root/testdata/sf0.1"
    )
    runs = int(sys.argv[sys.argv.index("--runs") + 1]) if "--runs" in sys.argv else 4
    control = _control_commit()
    wt = tempfile.mkdtemp(prefix="mtmrl_ab_iso_")
    try:
        git = subprocess.Popen(["git", "-C", HERE, "archive", control], stdout=subprocess.PIPE)
        tar = subprocess.run(["tar", "-x", "-C", wt], stdin=git.stdout)
        git.stdout.close()
        if git.wait() != 0 or tar.returncode != 0:
            print(f"cannot export control commit {control}", file=sys.stderr)
            return 1
        sides = {"head": HERE, "control": wt}
        out: dict[str, dict[str, float]] = {}
        for side in ("head", "control", "control", "head"):
            code_dir = sides[side]
            with tempfile.NamedTemporaryFile("r", suffix=".json") as tf:
                env = dict(os.environ)
                env["PYTHONPATH"] = code_dir
                subprocess.run(
                    [sys.executable, "-c", WORKER, code_dir, sf_dir, str(runs), names, tf.name],
                    check=True,
                    env=env,
                )
                res = json.load(open(tf.name))
            prev = out.setdefault(side, res)
            for n, t in res.items():
                prev[n] = min(prev[n], t)
        print("| query | head s | control s | isolated ratio |")
        print("|---|---|---|---|")
        for n in names.split(","):
            h, c = out["head"][n], out["control"][n]
            print(f"| `{n}` | {h:.3f} | {c:.3f} | {h / c:.2f}x |")
        return 0
    finally:
        shutil.rmtree(wt, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
