"""Source connectors: the driver's parquet star schema + text files.

The reference's only source is an array of local text files read
line-by-line (distwc.c:9-14, mapreduce.c:55-71). Spark's ``read.text``
is the direct equivalent (one row per line, splits computed by Spark —
which, unlike the reference's whole-file-per-task model, scales to files
far larger than a single task). Parquet is the engine's primary columnar
source for the relational/pipeline tables.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from multithreaded_map_reduce_library_spark.session import _cpus

#: Tables the driver generates under /root/testdata/sf*/ (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one star-schema table.

    A plain parquet read (:func:`read_parquet`) so Catalyst keeps predicate
    pushdown and column pruning: callers filter/select on the returned
    DataFrame and the parquet scan only reads the referenced columns / row
    groups. Only the first read of a file state infers the schema (a
    ~0.1 s footer Spark job); later calls read with the memoized schema
    and launch no job, and a rewritten file is inferred again.

    ``events.parquet`` stores TIMESTAMP(NANOS) which Spark's parquet reader
    rejects; we read nanos as long (legacy conf) and rebuild a
    ``timestamp_ntz`` column. Integer ``div`` (not ``/``) keeps full
    microsecond precision — epoch-nanos exceed double's 53-bit mantissa.
    """
    if name == "events":
        # May run inside the driver's own session; tune_existing pins
        # nanosAsLong (and every other result-relevant conf) to the same
        # constants every query runs under — the single conf pin point.
        from multithreaded_map_reduce_library_spark.session import tune_existing

        tune_existing(spark)
    df = read_parquet(spark, f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"))
    return df


#: Inferred parquet schemas: (path, nanosAsLong) -> (file stamp, schema,
#: row groups), the stamp being (name, size, mtime_ns) of every file; the
#: row-group count is None when it was not read (see :func:`_row_groups`).
_SCHEMAS: dict[tuple[str, str], tuple[tuple, StructType, int | None]] = {}


def _raise(exc: OSError) -> None:
    raise exc


def _file_stamp(path: str) -> tuple | None:
    """(name, size, mtime_ns) of every file under ``path`` (or of ``path``
    itself), or None when any of them cannot be stat'ed."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((path, st.st_size, st.st_mtime_ns),)
        stamp = []
        for root, dirs, files in os.walk(path, onerror=_raise):
            dirs.sort()
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                stamp.append((os.path.join(root, f), st.st_size, st.st_mtime_ns))
        return tuple(stamp)
    except OSError:
        return None


def _data_files(path: str, stamp: tuple) -> list[tuple[str, int]]:
    """(name, size) of the table's data files in a stamp: ``path`` itself,
    or the ``*.parquet``/``part-*`` files under it."""
    return [
        (name, size)
        for name, size, _mtime in stamp
        if name == path
        or os.path.basename(name).endswith(".parquet")
        or os.path.basename(name).startswith("part-")
    ]


def _row_groups(path: str, stamp: tuple) -> int | None:
    """Row groups summed over the table's parquet footers, or None when the
    table has at least one data file per core (a file holds at least one
    row group, so the count cannot fall below the cores and no footer is
    read) or a footer cannot be read."""
    files = _data_files(path, stamp)
    if len(files) >= _cpus():
        return None
    import pyarrow.parquet as pq

    try:
        return sum(pq.read_metadata(name).num_row_groups for name, _size in files)
    except (OSError, ValueError):
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    state: the package's only parquet schema inference.

    A hit reads with the memoized schema (``spark.read.schema(s)``), which
    skips the footer-inference job but still builds a fresh relation with
    fresh attribute ids. The key holds ``nanosAsLong`` because it changes
    the inferred type of ``events.ts``; a changed file stamp replaces the
    entry. A path that cannot be stat'ed (missing, or not on the local
    file system) is never memoized: it is inferred on every call, as a
    plain read would be.

    The entry also holds the table's row-group count (:func:`_row_groups`,
    read on a miss only), and the returned DataFrame carries it for
    :func:`spread`; a warm read pays no footer read and no py4j call."""
    stamp = _file_stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    key = (path, spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        df = spark.read.schema(hit[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        hit = _SCHEMAS[key] = (stamp, df.schema, _row_groups(path, stamp))
    df._mtmrl_row_groups = hit[2]
    return df


def spread(df: DataFrame) -> DataFrame:
    """``df`` dealt round-robin over one partition per core when it comes
    straight from :func:`read_parquet` and the table has fewer row groups
    than cores; otherwise ``df`` unchanged.

    Spark never splits a row group, so such a scan reads all its rows in
    as many tasks as there are row groups: one, for a single-row-group
    table, whatever the core count. Call this on the big side right
    before a consumer whose per-row work outweighs one exchange (a vector
    fold, a Python sketch UDF, a tokenizer explode), never before a join
    or a cheap aggregate. Only the scan's own DataFrame carries a count,
    so a derived DataFrame (after a filter, a projection or a shuffle)
    comes back unchanged, and a table with a row group per core, as every
    table at scale has, is never repartitioned."""
    groups = getattr(df, "_mtmrl_row_groups", None)
    cores = _cpus()
    if groups is not None and groups < cores:
        return df.repartition(cores)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: Iterable[str] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


#: Paths already warned about as unmeasurable (one stderr line per path
#: per process, not one per call).
_UNMEASURABLE_WARNED: set[str] = set()


def _parquet_bytes(path: str) -> int:
    """On-disk size of the table's data files (``*.parquet``/``part-*``
    under a directory), summed from a fresh :func:`_file_stamp` on every
    call, so a table rewritten in-process reads its new size.

    FAILS CLOSED (code-review r8): a missing path or an OSError returns a
    sentinel larger than any cap, so a guard that cannot measure the
    table never force-broadcasts it — AQE decides from runtime sizes
    instead. (The old fail-open 0 silently re-enabled the unbounded hint
    the guard exists to prevent.) The next call re-measures, and a
    one-time stderr warning makes the silent hint-drop visible."""
    stamp = _file_stamp(path)
    if stamp is None:
        if path not in _UNMEASURABLE_WARNED:
            _UNMEASURABLE_WARNED.add(path)
            print(
                f"scaled_broadcast: cannot measure {path!r}; broadcast hint "
                "disabled for this call (fail-closed, re-measured next call)",
                file=sys.stderr,
            )
        return 1 << 62  # unmeasurable -> over any cap -> no hint
    return sum(size for _name, size in _data_files(path, stamp))


def scaled_broadcast(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Size-guarded broadcast hint for a DIMENSION THAT GROWS WITH THE
    CORPUS (VERDICT r7 item 2).

    A forced ``F.broadcast`` bypasses ``autoBroadcastJoinThreshold``: on
    customer/part/supplier — tables that scale linearly with sf — the
    hint is right at every measured scale (sf10 part = 2 M rows) but OOMs
    the build side at the 100 TB North Star. This helper hints only while
    the table's on-disk parquet is under ``$SPARK_GRAFT_BCAST_CAP_MB``
    (default 256 MB on disk ≈ low-GB in-memory after decompression —
    comfortable on cluster-sized executors); above the cap it returns the
    plan UNHINTED so AQE + ``autoBroadcastJoinThreshold`` pick the join
    strategy from runtime sizes (sort-merge with skew splitting once the
    dim is genuinely big).

    The guard keys on the SOURCE table's bytes, deliberately ignoring any
    filter the caller applied: a filter's selectivity is data-dependent,
    and the conservative bound is what survives a 100x scale-up.
    Constant-size dims (nation=25, region=5 rows) keep their unconditional
    ``F.broadcast`` — they are bounded by the TPC-H spec, not by sf.
    """
    cap_mb = int(os.environ.get("SPARK_GRAFT_BCAST_CAP_MB", "256"))
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if _parquet_bytes(path) <= cap_mb << 20:
        return F.broadcast(df)
    return df


def register_views(spark: SparkSession, sf_dir: str, names: Iterable[str] = TABLES) -> None:
    """Register each table as a temp view for spark.sql() querying."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def read_csv(
    spark: SparkSession, paths: str | list[str], schema=None, header: bool = True
) -> DataFrame:
    """CSV source. An explicit schema keeps the read single-pass (schema
    inference is a second full scan — never at 100 TB)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(paths)


def read_jsonl(spark: SparkSession, paths: str | list[str], schema=None) -> DataFrame:
    """JSON-lines source; same explicit-schema discipline as CSV."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(paths)


def read_text_lines(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """One row per line, column ``value`` — reference O1 (distwc.c:9-14).

    ``input_file_name()`` is available downstream for per-file provenance,
    replacing the reference's explicit File[] array (mapreduce.h:27-30).
    """
    return spark.read.text(paths)
