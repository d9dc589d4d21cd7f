"""Every registered query with an oracle must match DuckDB on the test
parquet tables (sf0.01 by default; point MTMRL_TEST_SF_DIR at the
sf0.001 tables for a quick loop). The CORRECTNESS gate
(CORRECTNESS_rNN.json) checks only a fixed sample of 50 of these queries
at sf0.01, none of them a JPEG query; outside that sample, this replay
and the default-run parity tests some modules carry for their own
queries (all 13 JPEG queries, all 10 WAV queries and the 21 queries that
reach the similarity operators or the JVM dot product, at sf0.001, in
tests/test_jpeg.py, tests/test_wav.py and tests/test_similarity.py) are
the only oracle checks."""

from __future__ import annotations

import pytest

from multithreaded_map_reduce_library_spark.plans.registry import all_queries
from tests.conftest import SF_ORACLE
from tests.oracle_util import compare_query

# Full-registry oracle replay (~16 min): `slow`, because the default
# pytest run must fit a ~30-min window (pytest.ini). The CORRECTNESS
# gate samples 50 oracles; it does not replay this.
pytestmark = pytest.mark.slow

_QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(n for n, q in _QUERIES.items() if q.oracle))
def test_query_matches_oracle(spark, name):
    q = _QUERIES[name]
    compare_query(spark, q.fn, q.oracle, SF_ORACLE)


def test_all_queries_run_and_return_rows(spark):
    # Queries without an oracle still must run and produce a stable schema.
    for name, q in _QUERIES.items():
        if q.oracle is None:
            df = q.fn(spark, SF_ORACLE)
            assert df.columns, name
            assert df.count() >= 0, name
