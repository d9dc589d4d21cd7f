"""Structured Streaming over the events stream: watermarked tumbling and
sliding window aggregates.

The reference is strictly batch — its phase barrier forbids any reduce
before all maps finish (threadpool.c:178-186, SURVEY.md §2.2 Streaming
row). This module is the driver-mandated streaming extension: the same
windowed aggregation semantics as the batch query
plans/relational.py::events_hourly_tumbling, expressed as an incremental
plan with a watermark bounding state for late data.

Tested via ``Trigger.AvailableNow`` + memory sink: the stream drains the
parquet input and must produce exactly the batch answer (the streaming/
batch unification Structured Streaming guarantees).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.sources.catalog import read_parquet

#: Temp dirs a returned DataFrame still lazily depends on (stream sink
#: output, staged source symlink dirs). They cannot be removed when the
#: creating function returns — the caller has not materialized yet — so
#: they are swept at interpreter exit instead (VERDICT r7 item 5: a full
#: 450-query contract run used to orphan hundreds of mkdtemp dirs).
_STREAM_TMPDIRS: list[str] = []


@atexit.register
def _cleanup_stream_tmpdirs() -> None:
    for d in _STREAM_TMPDIRS:
        shutil.rmtree(d, ignore_errors=True)
    _STREAM_TMPDIRS.clear()


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


def _sweep_stale_stream_tmpdirs(tmp: str | None = None) -> int:
    """Remove mtmrl_stream_* dirs orphaned by a KILLED process (VERDICT
    r8 item 5): the atexit sweep above cannot fire on SIGKILL, so each
    session sweeps its predecessors' residue at import. Every dir this
    module creates embeds the creating pid (src dirs as the last name
    token, out/ckpt dirs as the token right after the prefix); a dir
    whose pid is dead is residue. Legacy dirs without a parseable pid
    (pre-r9 out/ckpt naming) are swept only once older than an hour, so
    a concurrent process running older code is never raced. Returns the
    number of dirs removed."""
    tmp = tmp or tempfile.gettempdir()
    removed = 0
    try:
        entries = os.listdir(tmp)
    except OSError:
        return 0
    now = time.time()
    for name in entries:
        if not name.startswith("mtmrl_stream_"):
            continue
        path = os.path.join(tmp, name)
        if not os.path.isdir(path):
            continue
        pid: int | None = None
        if name.startswith("mtmrl_stream_src_"):
            tail = name.rsplit("_", 1)[-1]
            pid = int(tail) if tail.isdigit() else None
        else:
            for prefix in ("mtmrl_stream_out_", "mtmrl_stream_ckpt_"):
                if name.startswith(prefix):
                    # new format embeds `p<pid>` (the 'p' keeps a legacy
                    # dir's random mkdtemp suffix — which may contain
                    # digits and underscores, e.g. `2_tta6tw` — from
                    # misparsing as a pid; legacy dirs age out instead)
                    tok = name[len(prefix):].split("_", 1)[0]
                    if tok.startswith("p") and tok[1:].isdigit():
                        pid = int(tok[1:])
                    break
        if pid == os.getpid():
            continue
        if pid is not None:
            stale = not _pid_alive(pid)
        else:
            try:
                stale = now - os.path.getmtime(path) > 3600
            except OSError:
                stale = False
        if stale:
            shutil.rmtree(path, ignore_errors=True)
            removed += 1
    return removed


_sweep_stale_stream_tmpdirs()


def _as_stream_dir(path: str) -> str:
    """FileStreamSource requires a *directory*; stage a symlink to the
    single parquet file under a per-process temp dir (keyed by input
    path AND pid — code-review r8: a path-only key was shared across
    processes, so one process's exit sweep could delete the dir out
    from under another's in-flight drain). Stable within a process, so
    repeated streams over the same input reuse one staging dir."""
    if os.path.isdir(path):
        return path
    key = hashlib.md5(path.encode()).hexdigest()[:12]
    d = os.path.join(
        tempfile.gettempdir(), f"mtmrl_stream_src_{key}_{os.getpid()}"
    )
    if not os.path.isdir(d):
        _STREAM_TMPDIRS.append(d)
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "part-00000.parquet")
    if not os.path.exists(link):
        try:
            os.symlink(path, link)
        except OSError:
            import shutil

            shutil.copyfile(path, link)
    return d


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over events.parquet. Parquet streaming needs an explicit
    schema; we take it from ``catalog.read_parquet`` (memoized inference;
    nanos ts arrives as long — same legacy-conf handling as
    ``load_table``) and rebuild timestamps.

    Session confs (UTC tz — watermarks require TIMESTAMP ltz, and the
    ntz->ltz cast must be value-preserving to match the oracle's naive
    timestamps — plus nanosAsLong) are pinned by ``tune_existing``, the
    single conf pin point; no query path mutates conf directly."""
    from multithreaded_map_reduce_library_spark.session import tune_existing

    tune_existing(spark)
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    schema = read_parquet(spark, path).schema
    reader = spark.readStream.schema(schema).format("parquet")
    # Test-only stressor (tools/stability_sweep.py): cap files per
    # micro-batch so AvailableNow drains a multi-file source in MULTIPLE
    # batches — watermark advancement between batches is exactly the
    # run-condition difference local single-batch runs cannot see
    # (VERDICT r2 item 2b). Unset (the default) leaves production
    # behavior untouched.
    max_files = os.environ.get("SPARK_GRAFT_STREAM_MAXFILES")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", int(max_files))
    raw = reader.load(_as_stream_dir(path))
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Watermarks require TIMESTAMP (ltz); session tz is UTC above, so the
        # cast is value-preserving and matches the oracle's naive timestamps.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over documents.parquet — the ingest-time view of the
    corpus for streaming dedup/quality gating (a production pipeline
    deduplicates at ingest, not in nightly batch)."""
    path = f"{sf_dir.rstrip('/')}/documents.parquet"
    schema = read_parquet(spark, path).schema
    return spark.readStream.schema(schema).format("parquet").load(_as_stream_dir(path))


def embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over embeddings.parquet — the ingest-time view of a
    media-asset drop (each row fabricates one WAV/PNG payload downstream;
    a production pipeline decodes and features assets as they land, not
    in nightly batch)."""
    path = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    schema = read_parquet(spark, path).schema
    reader = spark.readStream.schema(schema).format("parquet")
    max_files = os.environ.get("SPARK_GRAFT_STREAM_MAXFILES")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", int(max_files))
    return reader.load(_as_stream_dir(path))


def hourly_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregate (late rows beyond the watermark
    are dropped and their window state evicted — bounded state at 100 TB/day
    event rates)."""
    from multithreaded_map_reduce_library_spark.functions.grid import gsum

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), gsum(F.col("value"), 2).alias("sum_value_e2"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value_e2",
        )
    )


def sliding_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Sliding windows (1 h length, 30 min slide): each event lands in two
    windows; watermark semantics identical to the tumbling case."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("window_start"), "n_events")
    )


def user_running_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event count + value sum,
    kept in explicit GroupState across micro-batches via
    ``applyInPandasWithState`` (Arrow-batched; the Spark-native form of a
    user-defined stateful reducer — the closest modern analog of the
    reference's Reducer-with-iterator contract, mapreduce.h:6,83, but
    incremental and restart-safe via the state store).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # State keeps the value sum in integer CENTS (per-item
    # floor(v*100+0.5), exact for the 2-decimal value column) so the
    # running total is independent of arrival order and batch boundaries —
    # a float accumulator's low bits would depend on both.
    out_schema = "user_id bigint, n_events bigint, sum_value_e2 bigint"
    state_schema = "n bigint, s_e2 bigint"

    def update(key, pdf_iter, state: GroupState):
        import math

        n, s_e2 = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            s_e2 += int(sum(math.floor(v * 100.0 + 0.5) for v in pdf["value"]))
        state.update((n, s_e2))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value_e2": [s_e2]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def run_stream_to_df(
    spark: SparkSession, streaming_df: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Drain a streaming plan with AvailableNow and return the result as
    a static DataFrame.

    Round-7 scale fix (measured): the previous memory sink materialized
    every batch's rows ON THE DRIVER — at sf10 the session-window twin
    emitted 9.5 M rows and spent 163 s of its 183 s in that collect
    (noop sink: 18.7 s — the state machinery itself is linear). A
    ``foreachBatch`` parquet sink keeps the write distributed (executors
    write, driver never holds rows) and preserves each output mode's
    memory-sink semantics: complete overwrites per batch (the final
    batch IS the result), append/update append each batch's emitted
    rows. This is also the shape a real deployment uses — stream into a
    table, not into driver memory.

    Round-8 hardening (ADVICE r7): ``foreachBatch`` is at-least-once, so
    each micro-batch writes to its OWN ``b<batch_id>`` subdir with mode
    ``overwrite`` — a retried batch replaces its earlier attempt instead
    of silently re-appending duplicate rows. Complete mode reads only the
    final batch's subdir; append/update read every batch's. A stream that
    emits zero rows leaves no part files, so the read pins the streaming
    plan's schema explicitly instead of inferring it. The checkpoint dir
    is removed as soon as the query terminates; the sink dir (which the
    returned DataFrame lazily depends on) is swept at interpreter exit."""
    # pid embedded in the name so _sweep_stale_stream_tmpdirs can
    # reclaim these after a SIGKILL (atexit never fires then)
    out_dir = tempfile.mkdtemp(prefix=f"mtmrl_stream_out_p{os.getpid()}_")
    ckpt = tempfile.mkdtemp(prefix=f"mtmrl_stream_ckpt_p{os.getpid()}_")
    _STREAM_TMPDIRS.append(out_dir)
    # ckpt is also registered so a stream that RAISES mid-drain (before
    # the rmtree below) still gets swept at exit (code-review r8)
    _STREAM_TMPDIRS.append(ckpt)
    schema = streaming_df.schema

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b{batch_id:08d}")
        )

    q = (
        streaming_df.writeStream.foreachBatch(_sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    batch_dirs = sorted(d for d in os.listdir(out_dir) if d.startswith("b"))
    if output_mode == "complete":
        batch_dirs = batch_dirs[-1:]  # final batch holds the full result
    if not batch_dirs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *(os.path.join(out_dir, d) for d in batch_dirs)
    )


def tws_user_totals_stream(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas`` (Spark
    4's StatefulProcessor API): a typed ValueState per user in the state
    store, updated per micro-batch. Functionally the successor of
    ``user_running_totals_stream`` (applyInPandasWithState) with
    explicit state variables, timers, and TTL available; requires the
    RocksDB state store provider (pinned session-wide by
    ``tune_existing`` — the provider a cluster deployment uses anyway
    for large state).

    DOCUMENTED WON'T-RUN-HERE (the repo's one pytest skip): executing
    this operator requires the ``google.protobuf`` runtime — Spark 4's
    StatefulProcessor Python worker speaks a protobuf state-server
    protocol (``pyspark/sql/streaming/proto``) — and this container has
    no protobuf and forbids installs; there is no vendored pure-Python
    copy inside pyspark to fall back on.  The operator is still the
    correct Spark-first answer on a real cluster (protobuf ships with
    every Spark distribution), so the code stays, the test
    (``tests/test_streaming_late.py::
    test_transform_with_state_totals_match_batch``) importorskips with
    this citation and asserts equality with the batch GROUP BY wherever
    protobuf exists, and the hashed registry twin for the same
    semantics is ``stream_user_running_totals``
    (applyInPandasWithState, protobuf-free, driver-green)."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from multithreaded_map_reduce_library_spark.session import tune_existing

    tune_existing(spark)

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n BIGINT, s_e2 BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            import math

            n, s_e2 = self._totals.get() if self._totals.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                s_e2 += int(sum(math.floor(v * 100.0 + 0.5) for v in pdf["value"]))
            self._totals.update((n, s_e2))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value_e2": [s_e2]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTotals(),
        outputStructType="user_id bigint, n_events bigint, sum_value_e2 bigint",
        outputMode="Update",
        timeMode="None",
    )
