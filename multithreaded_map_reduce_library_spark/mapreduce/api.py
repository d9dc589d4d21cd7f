"""MapReduce user-function parity facade (SURVEY.md §7 Phase 1).

Reproduces the reference's API contract (mapreduce.h:44-83) on Spark RDDs:

- ``MR_Run(file_count, file_names, mapper, reducer, num_workers, num_parts)``
  (mapreduce.c:41-103)  ->  :func:`mr_run`
- ``Mapper`` — per-file UDTF emitting (key, value) pairs via ``MR_Emit``
  (mapreduce.h:5, distwc.c:8-22)  ->  ``mapper(filename, content) ->
  Iterable[(str, str)]`` (emission by yielding, not a side-effect API)
- ``MR_Partitioner`` DJB2 hash routing (mapreduce.c:154-160)  ->
  ``partitionBy(num_partitions, djb2)``
- shuffle + sort-within-partition (mapreduce.c:111-144)  ->  each map task
  groups its pairs by key in one dict pass, so one ``(key, [values])``
  record per (task, key) crosses the shuffle instead of the reference's one
  pair per token. Past 0.9 × ``spark.python.worker.memory`` the task
  yields its partial groups into the shuffle and starts new ones, instead
  of spilling. The reduce side sorts its partition's partial groups by key
  with ``pyspark.shuffle.ExternalSorter`` (strcmp order, quirk Q3; it
  spills past the same bound) and chains each key's partial groups into
  one value iterator. Values keep emission order within a map task and
  map-task fetch order across tasks.
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
from itertools import chain, groupby, islice
from operator import itemgetter

from pyspark import RDD
from pyspark.shuffle import ExternalSorter, get_used_memory
from pyspark.sql import SparkSession

from multithreaded_map_reduce_library_spark.functions.hashing import djb2

Mapper = Callable[[str, str], Iterable[tuple[str, str]]]
Reducer = Callable[[str, Iterator[str]], str]

#: pairs grouped between two checks of the worker's memory
_CHECK_EVERY = 10_000


def _group_by_key(
    pairs: Iterable[tuple[str, str]], memory_mb: float, combiner: Reducer | None = None
) -> Iterator[tuple[str, list[str]]]:
    """Group a map task's pairs by key in one dict pass, values in emission
    order. When the worker's memory passes ``memory_mb`` the partial groups
    so far are yielded and grouping starts afresh; the reduce side merges
    partial groups. With a ``combiner`` each group is reduced to the
    one-element list ``[combiner(key, values)]`` first."""
    it = iter(pairs)
    done = False
    while not done:
        groups: defaultdict[str, list[str]] = defaultdict(list)
        while True:
            n = 0
            for n, (key, value) in enumerate(islice(it, _CHECK_EVERY), 1):
                groups[key].append(value)
            done = n < _CHECK_EVERY
            if done or get_used_memory() > memory_mb:
                break
        if combiner is None:
            yield from groups.items()
        else:
            for key, values in groups.items():
                yield key, [combiner(key, iter(values))]


def _reduce_partition(reducer: Reducer, memory_mb: float):
    def run(part: Iterator[tuple[str, list[str]]]) -> Iterator[tuple[str, str]]:
        # One reducer call per unique key, in strcmp key order (MR_Reduce
        # loop, mapreduce.c:169-188), over the key's partial groups from
        # every map task; the sorter spills past ``memory_mb``.
        groups = ExternalSorter(memory_mb).sorted(part, key=itemgetter(0))
        for key, partials in groupby(groups, key=itemgetter(0)):
            yield key, reducer(key, chain.from_iterable(values for _, values in partials))

    return run


def mr_run_pairs(
    pairs: RDD,
    reducer: Reducer,
    num_partitions: int = 10,
    combiner: Reducer | None = None,
) -> RDD:
    """Shuffle + reduce phases over an already-mapped pair RDD.

    Grouped per map task by :func:`_group_by_key`, DJB2-partitioned (shard
    parity with the reference), then byte-order key sort within each
    partition (quirk Q3) and the grouped-iterator reduce.

    ``combiner``, if given, runs map-side once per key and map task on the
    same grouping (Hadoop combiner contract: same signature as the
    reducer, output feedable back into the reducer — requires an
    associative reduction, e.g. SUM of partials rather than the
    reference's COUNT-of-occurrences quirk Q2). The reference has no
    combiner (mapreduce.c:111-144, SURVEY.md §4); this is the upgrade
    Catalyst applies automatically as partial HashAggregate.
    """
    memory_mb = pairs._memory_limit() * 0.9
    grouped = pairs.mapPartitions(lambda part: _group_by_key(part, memory_mb, combiner))
    shuffled = grouped.partitionBy(num_partitions, djb2)
    return shuffled.mapPartitions(
        _reduce_partition(reducer, memory_mb), preservesPartitioning=True
    )


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
