"""The scan spread rule (sources/catalog.py::spread) and the zero-norm
guard of the similarity operators.

A parquet table with fewer row groups than cores scans its rows in as many
tasks as it has row groups; ``spread`` deals such a scan round-robin over
one partition per core, right before a per-row-heavy consumer. Tested:
where the exchange lands in the exact-cosine plan, that a table with a row
group per core and a derived DataFrame pass through unchanged, that the
queries left unspread keep their plans, and that an all-zero embedding
fails naming its id.
"""

from __future__ import annotations

import contextlib
import io

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from multithreaded_map_reduce_library_spark.operators.similarity import (
    assign_ivf_cells,
    knn_bruteforce,
)
from multithreaded_map_reduce_library_spark.plans.registry import all_queries
from multithreaded_map_reduce_library_spark.session import _cpus
from multithreaded_map_reduce_library_spark.sources.catalog import load_table, spread

from .conftest import SF_SMALL


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _tree(df) -> str:
    """The operator tree of the formatted physical plan (no expression ids)."""
    return _plan(df).split("\n\n")[0]


def _write_embeddings(tmp_path, rows, row_group_size=None) -> str:
    table = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"), row_group_size=row_group_size)
    return str(tmp_path)


def test_knn_spreads_the_corpus_below_the_cosine_projection(spark):
    df = all_queries()["knn_bruteforce_cosine"].fn(spark, SF_SMALL)
    plan = _plan(df)
    rr = [ln for ln in plan.splitlines() if "RoundRobinPartitioning" in ln]
    assert len(rr) == 1, plan
    assert rr[0].startswith(f"Arguments: RoundRobinPartitioning({_cpus()}), "), plan
    # operator names top-down: the cosine projection over the join, and
    # the one exchange below the join on the corpus side, left of the
    # broadcast query side
    ops = [ln.strip(" :|+-*").split()[0] for ln in _tree(df).splitlines()[1:]]
    join = ops.index("BroadcastNestedLoopJoin")
    assert ops[join - 1] == "Project", ops
    below = ops[join + 1 :]
    assert below.count("Exchange") == 1, ops
    assert below.index("Exchange") < below.index("BroadcastExchange"), ops


def test_one_row_group_per_core_is_not_spread(spark, tmp_path):
    cores = _cpus()
    rows = [(i, [float(i + 1), 1.0]) for i in range(5 * cores)]
    sf = _write_embeddings(tmp_path, rows, row_group_size=5)
    assert pq.read_metadata(f"{sf}/embeddings.parquet").num_row_groups == cores
    emb = load_table(spark, sf, "embeddings")
    assert spread(emb) is emb
    plan = _plan(knn_bruteforce(emb, query_ids=emb.filter(F.col("vec_id") < 2), k=2))
    assert "RoundRobinPartitioning" not in plan, plan


def test_a_derived_dataframe_is_not_spread(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    grouped = emb.groupBy((F.col("vec_id") % 3).alias("k")).agg(F.count("*").alias("n"))
    assert spread(grouped) is grouped
    projected = emb.select("vec_id")
    assert spread(projected) is projected
    # a spread scan is derived too, so a second call adds nothing
    spread_emb = spread(emb)
    assert spread_emb is not emb
    assert spread(spread_emb) is spread_emb


#: Operator trees of the queries that are not spread, recorded before the
#: spread rule existed: their plans must not change.
UNSPREAD_TREES = {
    "doc_repetition_quality": """\
== Physical Plan ==
Project (4)
+- * Project (3)
   +- * ColumnarToRow (2)
      +- Scan parquet  (1)""",
    "doc_unigram_logprob": """\
== Physical Plan ==
AdaptiveSparkPlan (26)
+- HashAggregate (25)
   +- Exchange (24)
      +- HashAggregate (23)
         +- Project (22)
            +- BroadcastNestedLoopJoin Cross BuildRight (21)
               :- Project (13)
               :  +- BroadcastHashJoin Inner BuildRight (12)
               :     :- HashAggregate (5)
               :     :  +- Exchange (4)
               :     :     +- HashAggregate (3)
               :     :        +- Generate (2)
               :     :           +- Scan parquet  (1)
               :     +- BroadcastExchange (11)
               :        +- HashAggregate (10)
               :           +- Exchange (9)
               :              +- HashAggregate (8)
               :                 +- Generate (7)
               :                    +- Scan parquet  (6)
               +- BroadcastExchange (20)
                  +- HashAggregate (19)
                     +- Exchange (18)
                        +- HashAggregate (17)
                           +- Project (16)
                              +- Generate (15)
                                 +- Scan parquet  (14)""",
    "sequence_pack_docs": """\
== Physical Plan ==
AdaptiveSparkPlan (9)
+- HashAggregate (8)
   +- HashAggregate (7)
      +- Project (6)
         +- Window (5)
            +- Sort (4)
               +- Exchange (3)
                  +- Project (2)
                     +- Scan parquet  (1)""",
    "unigram_lm_segmentation": """\
== Physical Plan ==
AdaptiveSparkPlan (34)
+- Project (33)
   +- Project (32)
      +- BroadcastNestedLoopJoin Cross BuildRight (31)
         :- Project (9)
         :  +- Filter (8)
         :     +- Window (7)
         :        +- TakeOrderedAndProject (6)
         :           +- HashAggregate (5)
         :              +- Exchange (4)
         :                 +- HashAggregate (3)
         :                    +- Generate (2)
         :                       +- Scan parquet  (1)
         +- BroadcastExchange (30)
            +- ObjectHashAggregate (29)
               +- Exchange (28)
                  +- ObjectHashAggregate (27)
                     +- Project (26)
                        +- Filter (25)
                           +- Window (24)
                              +- Sort (23)
                                 +- Exchange (22)
                                    +- HashAggregate (21)
                                       +- Exchange (20)
                                          +- HashAggregate (19)
                                             +- Project (18)
                                                +- Generate (17)
                                                   +- Filter (16)
                                                      +- Generate (15)
                                                         +- HashAggregate (14)
                                                            +- Exchange (13)
                                                               +- HashAggregate (12)
                                                                  +- Generate (11)
                                                                     +- Scan parquet  (10)""",
}


@pytest.mark.parametrize("name", sorted(UNSPREAD_TREES))
def test_unspread_queries_keep_their_plans(spark, name):
    df = all_queries()[name].fn(spark, SF_SMALL)
    assert _tree(df) == UNSPREAD_TREES[name]


def test_zero_norm_embedding_fails_naming_its_id(spark, tmp_path):
    rows = [(0, [1.0, 0.0]), (1, [0.5, 0.5]), (2, [0.0, 1.0]), (3, [0.0, 0.0]), (4, [1.0, 1.0])]
    emb = load_table(spark, _write_embeddings(tmp_path, rows), "embeddings")
    queries = emb.filter(F.col("vec_id") < 2)
    with pytest.raises(Exception, match="zero-norm embedding vec_id=3"):
        knn_bruteforce(emb, query_ids=queries, k=2).collect()
    with pytest.raises(Exception, match="zero-norm embedding vec_id=3"):
        assign_ivf_cells(emb, stride=2).collect()
    # without the zero vector, the same operators run
    ok = emb.filter(F.col("vec_id") != 3)
    assert knn_bruteforce(ok, query_ids=queries, k=2).count() == 4
    assert assign_ivf_cells(ok, stride=2).count() == 4


def test_zero_norm_fails_in_a_plan_norm_projection(spark, tmp_path):
    rows = [(i, [0.0 if i == 3 else float(i + 1)] * 64) for i in range(10)]
    sf = _write_embeddings(tmp_path, rows)
    with pytest.raises(Exception, match="zero-norm embedding vec_id=3"):
        all_queries()["semantic_decontamination"].fn(spark, sf).collect()
