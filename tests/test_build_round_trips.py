"""Plan builds at the py4j floor.

A plan build is Python talking to the JVM over py4j, one command per round
trip. Two things kept builds far above their floor: PySpark's per-call
call-site capture (``spark.python.sql.dataFrameDebugging.enabled``, which
``session.get_spark`` turns off) and the shared higher-order folds spelled
as ``F.zip_with``/``F.aggregate`` over Python lambdas (now one ``F.expr``
each). These tests count the commands a warm build sends, so a change that
brings either back fails here.
"""

from __future__ import annotations

import contextlib
import importlib
import inspect
import re
import statistics

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.errors import utils as errors_utils
from pyspark.sql import functions as F

import multithreaded_map_reduce_library_spark as pkg
from multithreaded_map_reduce_library_spark.plans.registry import all_queries
from multithreaded_map_reduce_library_spark.session import _conf_cache, tune_existing
from tests.conftest import SF_SMALL


@contextlib.contextmanager
def py4j_commands():
    """Count the py4j commands sent inside the block. The garbage
    collector's ``m`` (memory) commands, which release JVM objects whenever
    Python frees a proxy, are not part of any build and are skipped."""
    count = [0]
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\n"):
            count[0] += 1
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        yield count
    finally:
        ClientServerConnection.send_command = send


def test_top_level_col_sends_at_most_3_commands(spark):
    # PySpark caches the conf per process on its first read; drop the cache
    # so this reads the session's own setting.
    errors_utils._enable_debugging_cache = None
    F.col("x")
    with py4j_commands() as n:
        F.col("x")
    assert n[0] <= 3, n[0]


def test_call_site_capture_is_off_and_left_to_the_builder(spark):
    key = "spark.python.sql.dataFrameDebugging.enabled"
    tune_existing(spark)
    assert spark.conf.get(key) == "false"
    # static: setting it on a running session raises, so only get_spark may
    assert key not in _conf_cache(spark)


#: Commands sent by a second build of each ``registry_mix`` query at sf0.001:
#: 80, 160 and 619 when these budgets were set, against 252, 824 and 1,611
#: with call-site capture on and the lambda folds. Each budget is at most
#: half the older count. The piece graph, written as one ``spark.sql``
#: statement, sends 23; its budget is at most twice that.
REGISTRY_MIX_BUDGETS = {
    "sequence_pack_docs": 90,
    "knn_bruteforce_cosine": 180,
    "unigram_lm_segmentation": 46,
}


@pytest.mark.parametrize("name", sorted(REGISTRY_MIX_BUDGETS))
def test_registry_mix_warm_build_within_budget(spark, name):
    q = all_queries()[name]
    q.fn(spark, SF_SMALL)
    with py4j_commands() as n:
        q.fn(spark, SF_SMALL)
    assert n[0] <= REGISTRY_MIX_BUDGETS[name], n[0]


HELPERS = [
    "functions.vectors.dot_sql",
    "functions.vectors.dot",
    "functions.vectors.l2_norm",
    "functions.vectors.cosine",
    "operators.similarity._cos_pre",
    "operators.similarity.random_hyperplane_bucket",
    "functions.hashing.djb2_expr",
    "plans.pipeline96.optimal_dp_sql",
    "plans.pipeline97.greedy_walk_sql",
]


@pytest.mark.parametrize("path", HELPERS)
def test_no_lambda_spelling_of_the_shared_folds(path):
    # importing a plans module registers its queries; load the registry
    # first so registration order stays the pinned one
    all_queries()
    module, name = path.rsplit(".", 1)
    fn = getattr(importlib.import_module(f"{pkg.__name__}.{module}"), name)
    src = inspect.getsource(fn)
    assert not re.search(r"\bF\.(zip_with|aggregate|transform|filter)\(|\blambda\b", src)


@pytest.mark.slow
def test_registry_median_warm_build_commands(spark):
    """Every registered query built twice at sf0.001: the median second
    build sends at most 250 commands: 210 when this was written, 488 with
    call-site capture on and the lambda folds."""
    counts = []
    for q in all_queries().values():
        q.fn(spark, SF_SMALL)
        with py4j_commands() as n:
            q.fn(spark, SF_SMALL)
        counts.append(n[0])
    assert statistics.median(counts) <= 250, statistics.median(counts)
