"""Python DataSource (`mr_result` format) tests."""

from __future__ import annotations

from multithreaded_map_reduce_library_spark.functions.hashing import djb2
from multithreaded_map_reduce_library_spark.sources.python_ds import register


def _write_reference_shards(d, counts: dict[str, int], parts: int = 4):
    """Emit result-<p>.txt files exactly as the C binary would
    (DJB2 mod P routing, 'key: value' lines, strcmp order)."""
    shards: dict[int, list[str]] = {p: [] for p in range(parts)}
    for k in sorted(counts):
        shards[djb2(k, parts)].append(f"{k}: {counts[k]}")
    for p, lines in shards.items():
        (d / f"result-{p}.txt").write_text("\n".join(lines) + ("\n" if lines else ""))


def test_mr_result_datasource_roundtrip(spark, tmp_path):
    counts = {"This": 5000, "is": 5000, "a": 5000, "test": 5000, "word": 17}
    _write_reference_shards(tmp_path, counts, parts=4)
    register(spark)
    df = spark.read.format("mr_result").load(str(tmp_path))
    # one task per shard file — the parallel-read contract
    assert df.rdd.getNumPartitions() == 4
    got = {r["key"]: int(r["value"]) for r in df.collect()}
    assert got == counts
    # shard column reflects the DJB2 routing the C binary used
    for r in df.collect():
        assert r["shard"] == djb2(r["key"], 4)


def test_mr_result_single_file_and_sep(spark, tmp_path):
    f = tmp_path / "result-7.txt"
    f.write_text("x: 1\ny: 2\n")
    register(spark)
    df = spark.read.format("mr_result").load(str(f))
    rows = {(r["key"], r["value"], r["shard"]) for r in df.collect()}
    assert rows == {("x", "1", 7), ("y", "2", 7)}


def test_mr_result_streaming_incremental(spark, tmp_path):
    """The simpleStreamReader contract: a checkpointed stream over the
    shard directory ingests each file once; a restart after new shards
    appear reads ONLY the new files (offsets = processed file set)."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    (src / "result-0.txt").write_text("a: 1\nb: 2\n")
    (src / "result-1.txt").write_text("c: 3\n")
    register(spark)

    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("mr_result")
            .load(str(src))
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["key"], r["value"], r["shard"])
            for r in spark.read.parquet(out).collect()
        }

    got1 = drain()
    assert got1 == {("a", "1", 0), ("b", "2", 0), ("c", "3", 1)}

    (src / "result-2.txt").write_text("d: 4\n")
    # Restart from the same checkpoint: only result-2.txt is new.
    got2 = drain()
    assert got2 == got1 | {("d", "4", 2)}


# --- round-2: compact offsets + fail-loud replay --------------------------


def _mk_shards(tmp_path, indices, rows=2):
    for i in indices:
        (tmp_path / f"result-{i}.txt").write_text(
            "".join(f"k{i}_{j}: {j}\n" for j in range(rows))
        )


def test_stream_offsets_compact_to_shard_max(tmp_path):
    from multithreaded_map_reduce_library_spark.sources.python_ds import (
        MRResultStreamReader,
    )

    _mk_shards(tmp_path, [0, 1, 2])
    r = MRResultStreamReader({"path": str(tmp_path)})
    rows, end = r.read(r.initialOffset())
    assert end == {"shard_max": 2}
    assert len(rows) == 6
    # growing directory: next batch covers only the new shard
    _mk_shards(tmp_path, [3])
    rows2, end2 = r.read(end)
    assert end2 == {"shard_max": 3}
    assert {t[2] for t in rows2} == {3}


def test_stream_offsets_gap_falls_back_to_list(tmp_path):
    from multithreaded_map_reduce_library_spark.sources.python_ds import (
        MRResultStreamReader,
    )

    _mk_shards(tmp_path, [0, 2])  # gap at 1
    r = MRResultStreamReader({"path": str(tmp_path)})
    _rows, end = r.read(r.initialOffset())
    assert end == {"files": ["result-0.txt", "result-2.txt"]}


def test_replay_raises_on_missing_shard(tmp_path):
    import pytest as _pytest

    from multithreaded_map_reduce_library_spark.sources.python_ds import (
        MRResultStreamReader,
    )

    _mk_shards(tmp_path, [0, 1])
    r = MRResultStreamReader({"path": str(tmp_path)})
    _rows, end = r.read(r.initialOffset())
    # replay works while files exist
    replayed = list(r.readBetweenOffsets(r.initialOffset(), end))
    assert len(replayed) == 4
    # losing a committed shard must fail the replay, not shrink it
    (tmp_path / "result-1.txt").unlink()
    with _pytest.raises(FileNotFoundError, match="result-1.txt"):
        r.readBetweenOffsets(r.initialOffset(), end)
