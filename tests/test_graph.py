"""Default-run oracle parity for the graph queries over the co-purchase
graph (users who bought in the same (day, hour) slots).

Eight queries replay their DuckDB oracle at sf0.001. The other three have
oracles that take 10-50 s at sf0.001 (``kcore_bounded_copresence`` also
returns no rows there), so their Spark result at sf0.01 is checked against
the committed canonical-multiset digest of the oracle's answer at sf0.01;
the slow-marked full-registry replay (tests/test_oracle_parity.py) keeps
Spark and DuckDB equal at that scale, which keeps these digests honest.
"""

from __future__ import annotations

import os

import pytest

from multithreaded_map_reduce_library_spark.operators.graph import both_directions, kcore_peel
from multithreaded_map_reduce_library_spark.plans.registry import all_queries

from .conftest import SF_SMALL
from .oracle_util import canon_digest, compare_query

SF_DIGEST = os.path.join(os.path.dirname(SF_SMALL), "sf0.01")

GRAPH_QUERIES = [
    "bfs_copurchase_layers",
    "wl_graph_refinement",
    "label_propagation_communities",
    "harmonic_centrality_bounded",
    "graph_diameter_double_sweep",
    "graph_resilience_topk_removal",
    "degree_assortativity",
    "agm_bound_triangle_audit",
]

#: ``canon_digest`` of each DuckDB oracle's rows at sf0.01 (row count first).
ORACLE_DIGESTS = {
    "kcore_decomposition": (
        150,
        "cfa50549b68c701f5e49ae3894475df347bf5f96687647962b2e6e6172ab7739",
    ),
    "kcore_bounded_copresence": (
        81,
        "b12f16e4a9b0229e7c6f6cdedf53c8e27546c7288ba3c5567a328715b34ebd60",
    ),
    "weighted_shortest_paths": (
        138,
        "654a29d1cb69f910a2f7d47f4d77e5a956b93da47c425868f08af64bf8482b46",
    ),
}


@pytest.mark.parametrize("name", GRAPH_QUERIES)
def test_graph_query_oracle_parity(spark, name):
    q = all_queries()[name]
    compare_query(spark, q.fn, q.oracle, SF_SMALL)


@pytest.mark.parametrize("name", sorted(ORACLE_DIGESTS))
def test_graph_query_matches_oracle_digest(spark, name):
    df = all_queries()[name].fn(spark, SF_DIGEST)
    rows = [tuple(r) for r in df.collect()]
    assert (len(rows), canon_digest(rows, df.columns)) == ORACLE_DIGESTS[name]


def test_kcore_peel_keeps_the_clique_and_drops_the_tail(spark):
    """A 4-clique with a tail: the 3-core is the clique, each node with
    within-core degree 3. Nodes 5 and 7 have degree 3 until the first
    peel drops 6 and 8, so they survive one peel and fall in the second.
    The 4-core is empty: only node 4 survives the first 4-peel."""
    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    pairs = clique + [(4, 5), (5, 6), (5, 7), (6, 7), (7, 8)]
    edges = both_directions(spark.createDataFrame(pairs, "ua long, ub long"))
    core = sorted(tuple(r) for r in kcore_peel(edges, 3, 6).collect())
    assert core == [(1, 3), (2, 3), (3, 3), (4, 3)]
    one = sorted(tuple(r) for r in kcore_peel(edges, 3, 1).collect())
    assert one == [(1, 3), (2, 3), (3, 3), (4, 4), (5, 2), (7, 1)]
    assert kcore_peel(edges, 4, 6).count() == 0
