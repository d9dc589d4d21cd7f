"""Query registry — the single source of truth behind __spark_entry__.py.

Every implemented operator registers here with:
- ``fn(spark, sf_dir) -> DataFrame``: the Spark-first implementation, and
- ``oracle``: equivalent ANSI SQL DuckDB runs on the same parquet views
  (None only for genuinely non-SQL-expressible ops; the driver then records
  a weaker rows-only check).

Column names are part of the contract: the driver's comparator sorts
columns by name before value-hashing, so Spark aliases and SQL ``AS``
names must match exactly.
"""

from __future__ import annotations

import importlib
import pkgutil
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: Queries whose pandas-UDF input rows carry ~KB+ binary payloads (decoded
#: image / video frames). At Spark's default 10000-row Arrow batches these
#: reach ~120 MB per batch per worker (32 workers -> ~4 GB resident), which
#: the round-6 sf1 bench measured as multi-x slowdowns late in a pass; a
#: 2048-row cap keeps batches ~25 MB. Scoped by tag rather than globally
#: because the same cap costs skinny-row kernels real time (simhash +15%,
#: wav_vad +36% measured in BENCH_r06 vs r05) — sub-KB rows want the
#: default. Audio payloads (WAV fixtures are a few KB and row-skinny after
#: the chunk-walk) measured FASTER at 10000, so only image/video tags opt
#: into the cap.
_FAT_PAYLOAD_TAGS = frozenset(
    {"image", "image-decode", "png", "jpeg", "video", "keyframe", "frame-sample"}
)
_ARROW_BATCH_FAT = "2048"
_ARROW_BATCH_DEFAULT = "10000"


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    description: str = ""
    tags: tuple[str, ...] = field(default=())
    #: queries bench.py times at sf0.1
    bench: bool = False


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    description: str = "",
    tags: tuple[str, ...] = (),
    bench: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The driver may invoke a query on a session it built from any
            # cwd and in any order after any other query: self-ship the
            # package so UDFs resolve on executors, and pin every
            # result-relevant session conf to the same constants so
            # execution order in a shared session cannot change results
            # (VERDICT r2 item 5 — queries must not mutate shared conf
            # themselves; tune_existing is the single pin point).
            from multithreaded_map_reduce_library_spark.session import (
                scaled_initial_partitions,
                set_conf_cached,
                tune_existing,
            )

            tune_existing(spark)
            # Per-query Arrow batch pin (VERDICT r6 item 4). Set HERE, not
            # inside query bodies, so the order-invariance rule holds: the
            # conf each query runs under is a pure function of its own
            # tags, never of which query ran before it. Batch size cannot
            # change any result (it only re-chunks Arrow transfer), so
            # oracle hashes are unaffected either way.
            #
            # These two pins are perf-only and Spark reads them at
            # EXECUTION, not plan build (ADVICE r7 / VERDICT r8 item 4):
            # they are applied here for the common build-then-execute
            # caller AND recorded on the returned DataFrame, so a
            # consumer that batches plan builds re-applies each plan's
            # own pins via ``session.repin`` right before executing it
            # (bench.py and tools/drive_contract.py do).
            pins = {
                "spark.sql.execution.arrow.maxRecordsPerBatch": (
                    _ARROW_BATCH_FAT if _FAT_PAYLOAD_TAGS & set(tags) else _ARROW_BATCH_DEFAULT
                ),
                # AQE initial shuffle partitions scale with the input
                # data (VERDICT r6 item 3): pure function of sf_dir, so
                # order-invariance holds and small SFs keep round-6 task
                # counts.
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
                    scaled_initial_partitions(sf_dir)
                ),
            }
            for k, v in pins.items():
                set_conf_cached(spark, k, v)
            df = fn(spark, sf_dir)
            df._mtmrl_exec_pins = pins
            return df

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = Query(name, wrapped, oracle, description or (fn.__doc__ or "").strip(), tags, bench)
        return fn

    return deco


def _natural_key(name: str) -> list:
    """Digit runs compare as integers: pipeline9 < pipeline10."""
    return [int(part) if part.isdigit() else part for part in re.split(r"(\d+)", name)]


def _load_all() -> None:
    """Import every module under plans/ that registers queries, in natural
    order, which fixes registration (and so bench and test) order."""
    import multithreaded_map_reduce_library_spark.plans as plans

    names = [m.name for m in pkgutil.iter_modules(plans.__path__) if m.name != "registry"]
    for name in sorted(names, key=_natural_key):
        importlib.import_module(f"{plans.__name__}.{name}")


def all_queries() -> dict[str, Query]:
    _load_all()
    return dict(REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {n: q.fn for n, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {n: q.oracle for n, q in all_queries().items() if q.oracle is not None}
