"""The benchmark's workloads. Each is a fixed mix of calls into the engine's
public API; one round issues every call of the mix once, in a seeded order,
one at a time (a closed loop with one client).

- ``mr_wordcount``: the paper's own dataflow and the only workload that
  writes: ``mapreduce.api.mr_run`` (Python-worker shuffle, DJB2 partitioner,
  text sink) and ``operators.wordcount.wordcount_files`` into
  ``sources.sinks.write_partitioned_text``, on a seeded corpus.
- ``registry_mix``: registry queries at sf0.1: sequence packing, a JVM
  cosine fold, and an iterative plan builder bound by its driver loop.
"""

from __future__ import annotations

import os
import shutil

import checks
import corpus

#: reference partition count (the C library's ``num_parts``)
PARTITIONS = 10


class Workload:
    name: str
    #: the units one round issues (in a seeded order); each unit is one
    #: timed call into the engine's API and produces one checkable output
    units: tuple[str, ...]
    #: Warm rounds after the cold round, on the timed input. Fixed, so every
    #: run's window starts at the same point of the warm-up curve: round
    #: times keep drifting down a few percent for many rounds, below the
    #: machine's round-to-round noise, so an adaptive stop rule fires at
    #: random points of that drift.
    warm_rounds: int
    #: timed window length in rounds at the standard run length
    #: (``--seconds`` = ``STANDARD_SECONDS``); scales linearly with it
    window_rounds: int

    def make_inputs(self, work_dir: str, seed: int) -> None:
        """Generate seeded inputs. Untimed; runs before Spark starts."""

    def load_expected(self, registry) -> None:
        """Compute what ``verify`` compares against. Runs after the window."""

    def run(self, bench, unit: str, run_id: str, check: bool):
        """Issue one unit. With ``check`` it returns what ``verify`` needs."""
        raise NotImplementedError

    def verify(self, unit: str, out) -> bool:
        raise NotImplementedError


class WordCount(Workload):
    name = "mr_wordcount"
    units = ("mr_run", "wordcount_sink")
    #: the window starts at each call's fourth run, where ``mr_run`` has
    #: settled (the first warm round is 2-4x faster than the cold one, the
    #: second 10-20% faster again)
    warm_rounds = 2
    window_rounds = 4

    #: golden vocabulary count, Zipf tail size and tail key count: 2.1 M
    #: tokens, where about half of a warm ``mr_run`` grows with the input
    #: (on smaller corpora its fixed job and worker start-up cost dominates)
    VOCAB_COUNT = 5_000
    TAIL_TOKENS = 1_995_000
    TAIL_VOCAB = 30_000

    def make_inputs(self, work_dir: str, seed: int) -> None:
        files, self.expected = corpus.make_corpus(
            seed, self.VOCAB_COUNT, self.TAIL_TOKENS, self.TAIL_VOCAB
        )
        self.paths = corpus.write_corpus(files, os.path.join(work_dir, "corpus"))
        self.out_dir = os.path.join(work_dir, "out")

    def run(self, bench, unit: str, run_id: str, check: bool):
        from multithreaded_map_reduce_library_spark.mapreduce import api
        from multithreaded_map_reduce_library_spark.operators.wordcount import wordcount_files
        from multithreaded_map_reduce_library_spark.sources.sinks import write_partitioned_text

        # a checked output stays on disk until the check runs after the window
        out = os.path.join(self.out_dir, f"{unit}-check" if check else unit)
        shutil.rmtree(out, ignore_errors=True)
        tr = bench.tracer
        if unit == "mr_run":
            with bench.timed(), tr.span("mapreduce.mr_run", run_id, group=f"{run_id}/exec"):
                api.mr_run(
                    bench.spark,
                    self.paths,
                    api.wordcount_mapper,
                    api.wordcount_reducer,
                    num_partitions=PARTITIONS,
                    output_dir=out,
                )
        else:
            with bench.timed(), tr.span(
                "operators.wordcount_sink", run_id, group=f"{run_id}/exec"
            ):
                with tr.span("operators.wordcount_files", run_id):
                    df = wordcount_files(bench.spark, self.paths)
                with tr.span("sources.write_partitioned_text", run_id):
                    write_partitioned_text(df, out, value_col="cnt", num_partitions=PARTITIONS)
            if tr.enabled:
                bench.record_sink(run_id, out)
        return out if check else None

    def verify(self, unit: str, out) -> bool:
        shards = checks.mr_shards(out) if unit == "mr_run" else checks.sink_shards(out)
        return checks.shards_ok(checks.read_shards(shards), self.expected, PARTITIONS)


class RegistryMix(Workload):
    """Three JVM-side registry queries at sf0.1, of distinct cost:
    window-function sequence packing, exact cosine top-k folded with
    higher-order functions, and an iterative builder whose driver loop
    launches Spark jobs between EM steps while it builds the plan. A call is
    the plan build, then a distributed no-op write (or a collect, when the
    output is checked)."""

    name = "registry_mix"
    units = ("sequence_pack_docs", "knn_bruteforce_cosine", "unigram_lm_segmentation")
    #: With Spark's default generated-class cache every warm round
    #: recompiled 75 classes, so no round ran at steady state; the benchmark
    #: sizes the cache (``run.Bench.boot``) so that warm rounds compile none
    #: (``info.window_codegen_compiles``). 12 window rounds give 36 samples,
    #: so the tail percentile (p72) falls among the
    #: ``unigram_lm_segmentation`` calls, not on the slowest
    #: ``knn_bruteforce_cosine`` call, as it does at 10.
    warm_rounds = 3
    window_rounds = 12

    def run(self, bench, unit: str, run_id: str, check: bool):
        from multithreaded_map_reduce_library_spark.session import repin

        q = bench.registry[unit]
        tr = bench.tracer
        with bench.timed():
            with tr.span("plans.build", run_id, group=f"{run_id}/build", query=unit):
                df = q.fn(bench.spark, checks.DATA_DIR)
            with tr.span("plans.exec", run_id, group=f"{run_id}/exec", query=unit):
                with tr.span("session.repin", run_id):
                    df = repin(df)
                if check:
                    rows = df.collect()
                else:
                    df.write.format("noop").mode("overwrite").save()
        return (rows, df.columns) if check else None

    def verify(self, unit: str, out) -> bool:
        rows, cols = out
        return checks.digest(rows, cols) == self.expected[unit]

    def load_expected(self, registry) -> None:
        self.expected = {q: checks.run_oracle(registry[q].oracle) for q in self.units}


WORKLOADS = {w.name: w for w in (WordCount, RegistryMix)}
