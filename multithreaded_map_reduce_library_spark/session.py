"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (default: the machine's
core count), but every config here is chosen for the 1000-executor /
100 TB deployment:

- AQE on: runtime partition coalescing, skew-join splitting, and plan
  re-optimization replace any hand-tuned partition counts (the reference
  hard-codes 10 partitions, distwc.c:38 — AQE is the scale-correct answer).
- Arrow on: the pandas-UDF path (similarity, multimodal decode) moves data
  in columnar batches, not pickled rows.
- UTC session timezone: deterministic timestamp semantics matching the
  DuckDB oracle's naive timestamps.
- File scans split into at least 3 x cores pieces: Spark charges each file a
  4 MB open cost, so a text corpus of small files otherwise packs into one
  split per core and the largest split holds up the stage. Once splits
  reach the 128 MB ``maxPartitionBytes`` cap, as at 100 TB, the floor does
  nothing.
- PySpark's DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every PySpark API call records its Python call site in the JVM first:
  a top-level ``F.col("x")`` sent 13 py4j commands instead of 3, and the
  median warm plan build over the registry was mostly those round trips.
  What it costs: DataFrame errors no longer carry the Python call site in
  their query context; error classes and messages are unchanged. The conf
  is static, so it is set only where this module builds the session: a
  session the caller built itself keeps its own setting.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark import SparkFiles
from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "multithreaded-map-reduce-library-spark"

_PKG_ZIP: str | None = None
_SHIPPED_APP_IDS: set[str] = set()


def _package_zip() -> str:
    """Zip this package once per process so executors can import it."""
    global _PKG_ZIP
    if _PKG_ZIP is None:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        pkg_name = os.path.basename(pkg_dir)
        fd, path = tempfile.mkstemp(prefix=f"{pkg_name}-", suffix=".zip")
        os.close(fd)
        # the driver and the executors import the copies Spark fetches
        # into their SparkFiles roots; this file serves those fetches only
        # while this process runs
        atexit.register(_remove_file, path)
        with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                        zf.write(full, rel)
        _PKG_ZIP = path
    return _PKG_ZIP


def _remove_file(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


_STOCK_ZIP_INVALIDATE = zipimport.zipimporter.invalidate_caches
#: (st_ino, st_size, st_mtime_ns) of each archive when its directory was read
_ZIP_STAMPS: dict[str, tuple[int, int, int]] = {}


def _zip_stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_zip_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed since it was last read.

    CPython before 3.13 re-reads the whole central directory on every call,
    once per importer instance. A PySpark worker calls
    ``importlib.invalidate_caches()`` at the start of every task and holds
    over a dozen importers into ``pyspark.zip`` (1,328 entries) and py4j, so
    each task paid 0.1-0.25 s before its function ran. The stamp is taken
    before the read, so a rewrite racing the read is re-read next call."""
    stamp = _zip_stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _ZIP_STAMPS.get(self.archive) == stamp:
        self._files = files
        return
    _STOCK_ZIP_INVALIDATE(self)
    if stamp is not None:
        _ZIP_STAMPS[self.archive] = stamp


def tune_python_worker() -> None:
    """Called at package import: inside a PySpark worker, replace
    ``zipimporter.invalidate_caches`` with :func:`_invalidate_zip_if_changed`
    (CPython 3.13+ importers re-read lazily already). The driver keeps the
    stock import machinery.

    The directories cached as of now are trusted: a worker imports this
    package while it unpickles its first task's function, right after that
    task's ``importlib.invalidate_caches()`` re-read every cached archive.
    Spark fetches changed files between tasks, where the stamp check sees
    them."""
    if not SparkFiles._is_running_on_worker or sys.version_info >= (3, 13):
        return
    for archive in list(zipimport._zip_directory_cache):
        stamp = _zip_stamp(archive)
        if stamp is not None:
            _ZIP_STAMPS[archive] = stamp
    zipimport.zipimporter.invalidate_caches = _invalidate_zip_if_changed


def _conf_cache(spark: SparkSession) -> dict[str, str]:
    cache = getattr(spark, "_mtmrl_conf_cache", None)
    if cache is None:
        cache = {}
        spark._mtmrl_conf_cache = cache
    return cache


def set_conf_cached(spark: SparkSession, key: str, value: str) -> None:
    """``spark.conf.set`` that skips no-ops (VERDICT r7 item 3).

    Every ``spark.conf.set`` is a py4j round-trip; the registry wrapper
    pins ~12 confs per query and a 47-query bench pass pays that ~564
    times for values that almost never change. Caching the last-set value
    per SparkSession *Python object* (a fresh wrapper or a restarted
    session simply gets a fresh cache — extra sets, never missed ones)
    makes the repeated pins free.

    ONLY the pin-point keys may go through this cache: the repo's
    order-invariance rule (tune_existing docstring) already forbids query
    paths from mutating those keys behind our back, and the tests that DO
    set confs directly touch non-pinned keys and restore them.
    """
    cache = _conf_cache(spark)
    if cache.get(key) == value:
        return
    spark.conf.set(key, value)
    cache[key] = value


def repin(df):
    """Re-apply the per-query perf pins recorded at plan build (VERDICT
    r8 item 4): the registry wrapper pins Arrow batch size and AQE
    initial partitions when a plan is BUILT, but Spark reads both at
    EXECUTION — so a consumer that builds several registered plans
    before executing any must call this on each DataFrame right before
    its action, or every plan runs under the LAST build's pins. The
    pins are perf-only (they re-chunk Arrow transfer / pre-split
    shuffles), so skipping this can never change a result — only speed.
    No-op (a dict lookup per key via the conf cache) when the values
    are already in force, and on DataFrames that never passed through
    the registry."""
    pins = getattr(df, "_mtmrl_exec_pins", None)
    if pins:
        spark = df.sparkSession
        for k, v in pins.items():
            set_conf_cached(spark, k, v)
    return df


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to Spark's Python workers via ``addPyFile``.

    Cloudpickle serializes UDFs defined in an importable module *by
    reference*, so executors must be able to import
    ``multithreaded_map_reduce_library_spark`` — which fails when the
    consumer process (the round driver, a notebook) launched from a cwd
    outside the repo. ``addPyFile`` works on an already-running session and
    is the same mechanism used to ship code to a real 1000-executor cluster.
    """
    if getattr(spark, "_mtmrl_pkg_shipped", False):
        return  # fast path: skip the applicationId py4j call too
    app_id = spark.sparkContext.applicationId
    if app_id not in _SHIPPED_APP_IDS:
        spark.sparkContext.addPyFile(_package_zip())
        _SHIPPED_APP_IDS.add(app_id)
    spark._mtmrl_pkg_shipped = True


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def _min_scan_splits() -> str:
    return str(3 * _cpus())


_DIR_BYTES: dict[str, int] = {}


def scaled_initial_partitions(sf_dir: str) -> int:
    """AQE initial shuffle-partition count computed FROM INPUT SIZE
    (VERDICT r6 item 3, refined): the sf10 sweep measured 32 fixed reduce
    partitions breaking string-heavy shuffles at 60 M rows (wordcount
    25.4 s -> 8.0 s at 128), but round 7 also measured a fixed 128
    costing ~+0.1-0.2 s per shuffle-heavy query at sf0.1 (+20% aggregate)
    — so the knob scales with the data instead of being a constant:
    one initial partition per 16 MB of source parquet, floored at the
    core count (small SFs keep the round-6 behavior exactly) and capped
    at 4096 (the 100 TB ceiling is AQE coalescing territory, not ours).
    Overridable with $SPARK_GRAFT_INITIAL_PARTITIONS. Pure function of
    the data directory, so order-invariance across queries holds."""
    env = os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS")
    if env:
        return int(env)
    total = _DIR_BYTES.get(sf_dir)
    if total is None:
        total = 0
        try:
            for root, _dirs, files in os.walk(sf_dir):
                for f in files:
                    if f.endswith(".parquet"):
                        total += os.path.getsize(os.path.join(root, f))
        except OSError:
            total = 0
        _DIR_BYTES[sf_dir] = total
    return min(4096, max(_cpus(), total // (16 << 20)))


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE initial shuffle partitions scale WITH THE DATA (VERDICT r6
        # item 3): the registry wrapper sets initialPartitionNum per
        # query via scaled_initial_partitions(sf_dir) — one partition
        # per 16 MB of source parquet, floored at cpus — so sf10's
        # string-heavy shuffles start wide (measured: wordcount 25.4 s
        # -> 8.0 s) while small SFs keep exactly the round-6 task
        # counts (a fixed 128 measured +20% aggregate at sf0.1). The
        # static default here covers non-registry sessions.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", str(cpus)),
        )
        .config("spark.sql.files.minPartitionNum", _min_scan_splits())
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing is PER-QUERY, not global (VERDICT r6 item 4):
        # the round-6 global 2048 cap fixed the 120 MB-batch artifact on
        # ~12 KB image payloads but regressed two skinny-row pandas-UDF
        # kernels beyond spread (simhash +15%, wav_vad +36% — 5x more
        # batch overhead on sub-KB rows). The registry wrapper now pins
        # maxRecordsPerBatch per query: 2048 for image/video-payload
        # queries, Spark's 10000 default otherwise (registry.py).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # static: tune_existing cannot set it (see the module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_package_on_executors(spark)
    return spark


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to a session we didn't create.

    The driver hands ``entry``/``queries`` an already-built session; static
    configs (driver memory, master) can't change, but SQL configs can.

    This is also the repo's ORDER-INVARIANCE mechanism (VERDICT r2 items
    3-5): the registry wrapper calls this before every registered query, so
    each query executes under the SAME session confs no matter which
    queries ran before it in a shared driver session. Nothing in a query
    path may call ``spark.conf.set`` directly — every conf a query's result
    can depend on is pinned here, once, to a constant.

    Pins go through ``set_conf_cached`` (VERDICT r7 item 3): re-pinning
    before every registered query is the invariance mechanism, but the
    values are constants, so after the first call per session every pin
    is a dict lookup instead of a py4j round-trip.

    Healing canary (code-review r8, widened per ADVICE r8): the cache
    assumes nothing mutates a pinned key behind our back (the repo rule
    above). To keep the self-healing property against an OUTSIDE caller
    that does, each call makes two real ``conf.get``s: the most
    result-critical pin (session timezone — a silent mutation there
    shifts every timestamp hash) is checked EVERY call, and one further
    cached key is checked round-robin, so a behind-the-back mutation of
    ANY pinned key drops the cache within at most ``len(cache)`` calls
    (the contract/bench loops call this before every query, so the heal
    latency is a handful of queries, not a session). On mismatch the
    whole cache is dropped and every pin re-applies. Two py4j
    round-trips instead of twelve.
    """
    cache = _conf_cache(spark)
    tz_key = "spark.sql.session.timeZone"
    if cache:
        stale = spark.conf.get(tz_key, None) != cache.get(tz_key)
        if not stale:
            keys = sorted(k for k in cache if k != tz_key)
            if keys:
                i = getattr(spark, "_mtmrl_canary_idx", 0) % len(keys)
                spark._mtmrl_canary_idx = i + 1
                k = keys[i]
                stale = spark.conf.get(k, None) != cache.get(k)
        if stale:
            cache.clear()
    set_conf_cached(spark, "spark.sql.session.timeZone", "UTC")
    set_conf_cached(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    set_conf_cached(spark, "spark.sql.adaptive.enabled", "true")
    set_conf_cached(spark, "spark.sql.adaptive.coalescePartitions.enabled", "true")
    # initialPartitionNum is data-scaled PER QUERY by the registry
    # wrapper (scaled_initial_partitions); pin the cpu-count default
    # here for non-registry callers.
    set_conf_cached(
        spark,
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", str(_cpus())),
    )
    set_conf_cached(spark, "spark.sql.files.minPartitionNum", _min_scan_splits())
    set_conf_cached(spark, "spark.sql.execution.arrow.pyspark.enabled", "true")
    # Arrow batch size is pinned PER QUERY by the registry wrapper (2048
    # for image/video payloads, 10000 default) — see registry.py and the
    # get_spark comment. Pin the default here so non-registry callers
    # (tests building ad-hoc plans) see a deterministic value too.
    set_conf_cached(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    # Streaming determinism pins (constant across queries => run order in a
    # shared session cannot change any streaming result):
    set_conf_cached(spark, "spark.sql.streaming.noDataMicroBatches.enabled", "true")
    set_conf_cached(spark, "spark.sql.streaming.multipleWatermarkPolicy", "min")
    set_conf_cached(
        spark,
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    ensure_package_on_executors(spark)
    return spark
