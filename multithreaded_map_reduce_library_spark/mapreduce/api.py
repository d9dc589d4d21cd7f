"""MapReduce user-function parity facade (SURVEY.md §7 Phase 1).

Reproduces the reference's API contract (mapreduce.h:44-83) on Spark RDDs:

- ``MR_Run(file_count, file_names, mapper, reducer, num_workers, num_parts)``
  (mapreduce.c:41-103)  ->  :func:`mr_run`
- ``Mapper`` — per-file UDTF emitting (key, value) pairs via ``MR_Emit``
  (mapreduce.h:5, distwc.c:8-22)  ->  ``mapper(filename, content) ->
  Iterable[(str, str)]`` (emission by yielding, not a side-effect API)
- ``MR_Partitioner`` DJB2 hash routing (mapreduce.c:154-160)  ->
  ``partitionFunc=djb2`` in ``groupByKey``
- shuffle + sort-within-partition (mapreduce.c:111-144)  ->  ``groupByKey``
  gathers each map task's values per key in its spill-aware
  ``ExternalMerger``, so one ``(key, [values])`` record per (task, key)
  crosses the shuffle instead of the reference's one pair per token; the
  reduce side sorts its partition's *groups* by key with
  ``pyspark.shuffle.ExternalSorter`` (strcmp order, quirk Q3; same spill
  bound as ``repartitionAndSortWithinPartitions``: 0.9 ×
  ``spark.python.worker.memory``). Values keep map-task fetch order.
- ``Reducer`` + ``MR_GetNext`` value-iterator contract (mapreduce.h:6,83;
  mapreduce.c:199-213)  ->  ``reducer(key, values_iterator) -> str``,
  called once per key with a one-pass iterator over its grouped values —
  the cursor semantics of MR_GetNext.
- ``num_workers`` (distwc.c:38)  ->  Spark executor cores; accepted and
  ignored (scheduling is Spark's job, SURVEY.md §4).

This is the *parity* layer: its contract is "arbitrary Python functions
over a grouped iterator", which is the one place RDDs are the right tool.
The scale path for everything expressible relationally is the DataFrame
engine (operators/, plans/).
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Callable, Iterable, Iterator
from operator import itemgetter

from pyspark import RDD
from pyspark.shuffle import ExternalSorter
from pyspark.sql import SparkSession

from multithreaded_map_reduce_library_spark.functions.hashing import djb2

Mapper = Callable[[str, str], Iterable[tuple[str, str]]]
Reducer = Callable[[str, Iterator[str]], str]


def _reduce_partition(reducer: Reducer, memory_mb: float):
    def run(part: Iterator[tuple[str, Iterable[str]]]) -> Iterator[tuple[str, str]]:
        # One reducer call per unique key, in strcmp key order (MR_Reduce
        # loop, mapreduce.c:169-188); the sorter spills past ``memory_mb``.
        for key, values in ExternalSorter(memory_mb).sorted(part, key=itemgetter(0)):
            yield key, reducer(key, iter(values))

    return run


def _combine_partition(combiner: Reducer):
    def run(part: Iterator[tuple[str, str]]) -> Iterator[tuple[str, str]]:
        # Map-side combine: run the combiner once per key of the map
        # partition BEFORE the shuffle. Keys need no order here, so a dict
        # groups them. The reference has no combiner (mapreduce.c:111-144,
        # SURVEY.md §4); this is the upgrade Catalyst applies automatically
        # as partial HashAggregate, surfaced in the RDD facade.
        groups: defaultdict[str, list[str]] = defaultdict(list)
        for key, value in part:
            groups[key].append(value)
        for key, values in groups.items():
            yield key, combiner(key, iter(values))

    return run


def mr_run_pairs(
    pairs: RDD,
    reducer: Reducer,
    num_partitions: int = 10,
    combiner: Reducer | None = None,
) -> RDD:
    """Shuffle + reduce phases over an already-mapped pair RDD.

    DJB2 partitioning (shard parity with the reference), grouped per map
    task before the shuffle, then byte-order key sort within each partition
    (quirk Q3) and the grouped-iterator reduce.

    ``combiner``, if given, runs map-side per key first (Hadoop combiner
    contract: same signature as the reducer, output feedable back into the
    reducer — requires an associative reduction, e.g. SUM of partials
    rather than the reference's COUNT-of-occurrences quirk Q2).
    """
    if combiner is not None:
        pairs = pairs.mapPartitions(_combine_partition(combiner))
    grouped = pairs.groupByKey(num_partitions, partitionFunc=lambda k: djb2(k, num_partitions))
    reduce = _reduce_partition(reducer, pairs._memory_limit() * 0.9)
    return grouped.mapPartitions(reduce, preservesPartitioning=True)


def mr_run(
    spark: SparkSession,
    file_names: list[str],
    mapper: Mapper,
    reducer: Reducer,
    num_workers: int | None = None,  # noqa: ARG001 — Spark schedules (SURVEY.md §4)
    num_partitions: int = 10,
    output_dir: str | None = None,
) -> RDD:
    """Run a MapReduce job with the reference's API shape (MR_Run).

    Returns the (key, reduced_value) pair RDD, partitioned by
    ``djb2(key) % num_partitions`` and key-sorted within partitions. If
    ``output_dir`` is given, also writes ``part-0000p`` text files with
    ``"key: value"`` lines — shard *p* corresponds to the reference's
    ``result-<p>.txt`` (distwc.c:31-34).

    Unlike the reference (whole file per map task, mapreduce.c:73-75), each
    input may still be split further only if the caller pre-splits; parity
    mode keeps one record per file so per-file mappers see full content.
    Missing files raise here rather than silently becoming size-0 inputs
    (reference bug Q4, mapreduce.c:66-69).
    """
    sc = spark.sparkContext
    files = sc.wholeTextFiles(",".join(file_names), minPartitions=len(file_names))
    pairs = files.flatMap(lambda fc: mapper(fc[0], fc[1]))
    reduced = mr_run_pairs(pairs, reducer, num_partitions)
    if output_dir is not None:
        reduced.map(lambda kv: f"{kv[0]}: {kv[1]}").saveAsTextFile(output_dir)
    return reduced


def wordcount_mapper(_filename: str, content: str) -> Iterable[tuple[str, str]]:
    """The reference word-count Map (distwc.c:8-22): strsep on " \\t\\n\\r",
    emit ("token", "1"). Empty tokens filtered per quirk Q1 decision."""
    for line in content.split("\n"):
        for tok in line.replace("\t", " ").replace("\r", " ").split(" "):
            if tok:
                yield tok, "1"


def wordcount_reducer(_key: str, values: Iterator[str]) -> str:
    """The reference word-count Reduce (distwc.c:24-35): count occurrences,
    ignore value content (quirk Q2 — COUNT(*), not SUM)."""
    return str(sum(1 for _ in values))


def wordcount_sum_reducer(_key: str, values: Iterator[str]) -> str:
    """Combiner-compatible word-count reduction: SUM of integer partials.
    With values all "1" it equals the reference's COUNT (quirk Q2), and
    unlike it, it is associative — usable as both combiner and final
    reducer."""
    return str(sum(int(v) for v in values))
