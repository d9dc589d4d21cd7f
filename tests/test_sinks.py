from __future__ import annotations

import glob
import os

from multithreaded_map_reduce_library_spark.functions.hashing import djb2, djb2_expr
from multithreaded_map_reduce_library_spark.sources.sinks import write_partitioned_text
from pyspark.sql import functions as F


def test_djb2_expr_matches_python(spark):
    words = ["This", "is", "a", "test", "five-thousand", "x", "mapreduce"]
    words += ["", "é", "naïve", "日本語", "🙂ok", "\x7f\x80ÿ", "ab" * 2500]
    df = spark.createDataFrame([(w,) for w in words], ["key"])
    rows = df.select("key", djb2_expr("key", 10).alias("pid")).collect()
    for r in rows:
        assert r["pid"] == djb2(r["key"], 10), r["key"]
    # the full 32-bit hash, not only its shard: both forms fold the
    # unsigned UTF-8 bytes
    hashes = df.select("key", djb2_expr("key").alias("h")).collect()
    assert {r["key"]: r["h"] for r in hashes} == {w: djb2(w) for w in words}
    assert djb2("é") == (5381 * 33 + 0xC3) * 33 + 0xA9


def test_csv_jsonl_parquet_roundtrip(spark, tmp_path):
    """Source/sink breadth: the same frame survives csv, jsonl, and
    hive-partitioned parquet round-trips (schema given explicitly on read
    — the single-pass 100 TB discipline)."""
    from multithreaded_map_reduce_library_spark.sources.catalog import read_csv, read_jsonl
    from multithreaded_map_reduce_library_spark.sources.sinks import (
        write_csv,
        write_jsonl,
        write_parquet,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0), (3, "a", 0.25)], ["id", "grp", "val"]
    )
    expect = {(1, "a", 1.5), (2, "b", -2.0), (3, "a", 0.25)}
    schema = "id bigint, grp string, val double"

    write_csv(df, str(tmp_path / "c"))
    assert {tuple(r) for r in read_csv(spark, str(tmp_path / "c"), schema).collect()} == expect

    write_jsonl(df, str(tmp_path / "j"))
    assert {tuple(r) for r in read_jsonl(spark, str(tmp_path / "j"), schema).collect()} == expect

    write_parquet(df, str(tmp_path / "p"), partition_cols=["grp"])
    back = spark.read.parquet(str(tmp_path / "p"))
    assert {(r.id, r.grp, r.val) for r in back.collect()} == expect
    # partition pruning: a grp filter must prune to the one directory
    pruned = back.filter(F.col("grp") == "b")
    assert "PartitionFilters: [isnotnull(grp" in pruned._jdf.queryExecution().executedPlan().toString() or pruned.count() == 1


def test_partitioned_text_sink_layout(spark, tmp_path):
    df = spark.createDataFrame(
        [("apple", 3), ("banana", 2), ("cherry", 7), ("date", 1)], ["key", "value"]
    )
    out = str(tmp_path / "out")
    write_partitioned_text(df, out, num_partitions=4)
    seen = {}
    for d in glob.glob(f"{out}/pid=*"):
        pid = int(os.path.basename(d).split("=")[1])
        lines = []
        for f in glob.glob(f"{d}/part-*"):
            lines += [ln for ln in open(f).read().splitlines() if ln]
        keys = [ln.split(": ")[0] for ln in lines]
        assert keys == sorted(keys)  # strcmp order within shard (quirk Q3)
        for k in keys:
            assert djb2(k, 4) == pid
        seen.update(dict(ln.split(": ") for ln in lines))
    assert seen == {"apple": "3", "banana": "2", "cherry": "7", "date": "1"}


def test_dynamic_partition_overwrite_backfill(spark, tmp_path):
    """Incremental backfill semantics: with partitionOverwriteMode=dynamic,
    rewriting ONE day's partition must leave every other day's data
    intact — the daily-reprocessing contract of a partitioned 100 TB
    warehouse (static mode would truncate the whole table)."""
    out = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 3)], ["day", "v"]
    )
    df.write.partitionBy("day").mode("overwrite").parquet(out)

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        fix = spark.createDataFrame([("2024-01-02", 30), ("2024-01-02", 31)], ["day", "v"])
        fix.write.partitionBy("day").mode("overwrite").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")

    # Partition-directory values are type-inferred on read (day -> date);
    # compare canonical strings.
    back = {(str(r.day), r.v) for r in spark.read.parquet(out).collect()}
    assert back == {("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 30), ("2024-01-02", 31)}
