"""Executable plan-shape assertions — the SCALING.md claims as tests.

Each test inspects `.explain("formatted")` output for the physical-plan
properties the 100 TB design depends on: filters/projections reaching the
parquet scan, dimension joins broadcasting, partial aggregation before
shuffles, top-k via TakeOrderedAndProject, and no Python evaluation nodes
in JVM-only hot paths. If a refactor silently turns a broadcast join into
a shuffle or drops a pushed filter, these fail before any benchmark does.
"""

from __future__ import annotations

import contextlib
import io
import time

import pytest

from multithreaded_map_reduce_library_spark.plans.registry import all_queries

from .conftest import SF_SMALL


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    return all_queries()


def _df(queries, spark, name):
    return queries[name].fn(spark, SF_SMALL)


def test_q6_filter_pushdown_and_column_pruning(spark, queries):
    plan = plan_str(_df(queries, spark, "q6_revenue_forecast"))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1].split("]", 1)[0]
    # Column pruning: the scan must not read columns q6 never touches.
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    assert "l_returnflag" not in read_schema[0]
    assert "l_orderkey" not in read_schema[0]


def test_q1_partial_aggregation(spark, queries):
    plan = plan_str(_df(queries, spark, "q1_pricing_summary"))
    # Two HashAggregate nodes (partial below the exchange, final above) —
    # the map-side combiner the reference lacks (SURVEY.md §4).
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange" in plan


def test_q3_star_joins_broadcast(spark, queries):
    plan = plan_str(_df(queries, spark, "q3_shipping_priority"))
    assert "BroadcastHashJoin" in plan, plan
    # No accidental cartesian/nested-loop in the star.
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q5_all_dimensions_broadcast(spark, queries):
    plan = plan_str(_df(queries, spark, "q5_local_supplier_volume"))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered(spark, queries):
    plan = plan_str(_df(queries, spark, "topk_orders_global"))
    assert "TakeOrderedAndProject" in plan, plan


def test_bigram_topk_no_python(spark, queries):
    plan = plan_str(_df(queries, spark, "bigram_top_pairs"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "EvalPython" not in plan  # Batch/ArrowEvalPython = Python in hot path
    assert plan.count("HashAggregate") >= 2


def test_wordcount_jvm_only_with_partial_agg(spark, queries):
    plan = plan_str(_df(queries, spark, "wordcount"))
    assert "EvalPython" not in plan, plan
    assert plan.count("HashAggregate") >= 2


def test_similarity_hot_paths_jvm_only(spark, queries):
    for name in ("knn_bruteforce_cosine", "ann_ivf_cosine", "dedup_embedding_cosine"):
        plan = plan_str(_df(queries, spark, name))
        assert "EvalPython" not in plan, f"{name} has Python in the hot path:\n{plan}"


def test_semi_and_anti_joins_stay_semi(spark, queries):
    plan = plan_str(_df(queries, spark, "q4_order_priority"))
    assert "LeftSemi" in plan, plan
    plan = plan_str(_df(queries, spark, "anti_join_customers_without_orders"))
    assert "LeftAnti" in plan, plan


def test_q16_anti_join_and_distinct_agg(spark, queries):
    plan = plan_str(_df(queries, spark, "q16_supplier_part_attr_counts"))
    assert "LeftAnti" in plan, plan
    # count(distinct) plans as expand/two-phase aggregate, never a join.
    assert "CartesianProduct" not in plan


def test_derived_partsupp_single_shuffle(spark, queries):
    """q11's derived partsupp + national filter: the only exchanges are
    the (partkey, suppkey) aggregation and the per-part regroup — the
    supplier/nation dimension joins must broadcast, adding none."""
    plan = plan_str(_df(queries, spark, "q11_important_stock"))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_systematic_sample_filter_at_scan(spark, queries):
    plan = plan_str(_df(queries, spark, "systematic_sample_orders"))
    # The modulo predicate is not parquet-pushable, but it must sit in
    # the same codegen stage as the scan (no exchange between them):
    # scan -> filter -> partial agg -> single exchange.
    assert plan.count("Exchange") <= 2, plan


def test_doc_repetition_is_pure_map(spark, queries):
    """Per-document repetition metrics are row-local: the plan must be
    scan -> project (HOF expressions), with no shuffle, no join, and no
    Python — the property that makes it run at parquet-scan speed at
    100 TB."""
    plan = plan_str(_df(queries, spark, "doc_repetition_quality"))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_int8_quantization_single_exchange(spark, queries):
    """Quantization error is computed map-side per vector; the only
    exchange is the tiny per-label aggregate."""
    plan = plan_str(_df(queries, spark, "embedding_int8_quantization"))
    # formatted explain names each node twice (tree + detail section)
    assert plan.count("Exchange") <= 2, plan
    assert "EvalPython" not in plan, plan


def test_stratified_sample_broadcasts_rates(spark, queries):
    """The per-stratum rate table joins back by broadcast — the corpus
    pass stays map-side (no shuffle of `documents` for the join)."""
    plan = plan_str(_df(queries, spark, "stratified_sample_docs_by_lang"))
    assert "BroadcastHashJoin" in plan, plan


def test_winsorize_broadcasts_percentiles(spark, queries):
    plan = plan_str(_df(queries, spark, "winsorized_event_values"))
    assert "BroadcastHashJoin" in plan, plan


def test_sequence_pack_single_shuffle(spark, queries):
    """Packing is one window + one co-partitioned group-by: a single
    exchange on lang (plus nothing else) moves the corpus."""
    plan = plan_str(_df(queries, spark, "sequence_pack_docs"))
    assert plan.count("Exchange") <= 2, plan
    assert "EvalPython" not in plan, plan


def test_decontamination_broadcasts_eval_grams(spark, queries):
    """The eval-benchmark n-gram set is the small side: the training
    scan must probe it via broadcast (no shuffle of the corpus-side
    n-grams), and the n-gram enumeration itself is codegen'd HOFs,
    not Python."""
    plan = plan_str(_df(queries, spark, "decontamination_ngram_overlap"))
    assert "BroadcastHashJoin" in plan, plan
    assert "EvalPython" not in plan, plan


def test_peak_concurrency_sweep_is_partitioned(spark, queries):
    """The sweep-line prefix sum partitions by day — a SinglePartition
    exchange anywhere would mean the whole sweep serializes on one
    reducer, the exact failure mode the carry-in design avoids."""
    plan = plan_str(_df(queries, spark, "events_peak_concurrency"))
    assert "Window" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "hashpartitioning(day" in plan, plan


def test_training_shuffle_no_global_sort(spark, queries):
    """Shard-parallel shuffle order: the row_number window partitions
    by shard hex digit — no SinglePartition exchange under the Window,
    no global Sort without partition keys."""
    plan = plan_str(_df(queries, spark, "training_shuffle_order"))
    assert "Window" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_user_day_streaks_reuses_user_partitioning(spark, queries):
    """distinct, window, and both groupBys all key on user_id-rooted
    columns; the plan must not shuffle more than the initial
    hash-partitioning plus the day-grain regroup."""
    plan = plan_str(_df(queries, spark, "user_day_streaks"))
    assert "Exchange SinglePartition" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_bm25_broadcasts_stats_and_df(spark, queries):
    """Per-term df and the (N, avgdl) scalar broadcast; the only
    corpus-side shuffle is the (doc, term) tf aggregate. The query-term
    IN filter must sit at the scan stage, before any exchange."""
    plan = plan_str(_df(queries, spark, "bm25_doc_scores"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "EvalPython" not in plan, plan


def test_cms_build_has_partial_aggregation(spark, queries):
    """The sketch cell build must combine map-side (partial
    HashAggregate below its exchange) — that bound (depth*width cells
    per task) is the whole point of a CMS at scale — and estimation /
    verification join by broadcast."""
    plan = plan_str(_df(queries, spark, "cms_heavy_hitter_tokens"))
    assert plan.count("HashAggregate") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "EvalPython" not in plan, plan


def test_scd2_windows_share_one_sort(spark, queries):
    """lag, row_number, and lead all use (user_id | ts, event_id): the
    plan must not re-exchange between the window operators."""
    plan = plan_str(_df(queries, spark, "scd2_user_value_tiers"))
    assert "Exchange SinglePartition" not in plan, plan
    # one exchange for the user_id partitioning, nothing more
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_incremental_merge_aggregates_before_join(spark, queries):
    """State and delta both pre-aggregate: the full-outer merge joins
    per-user rows, never raw events, and the latest-day scalar is a
    broadcast, not a collect."""
    plan = plan_str(_df(queries, spark, "incremental_agg_merge_daily"))
    assert "FullOuter" in plan or "full_outer" in plan.lower(), plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final x2 branches
    assert "EvalPython" not in plan, plan


def test_embedding_dim_stats_single_shuffle(spark, queries):
    """posexplode is a pure map; the one exchange carries 64-row
    partials per task (partial HashAggregate present)."""
    plan = plan_str(_df(queries, spark, "embedding_dimension_stats"))
    assert plan.count("HashAggregate") >= 2, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "EvalPython" not in plan, plan


def test_bigram_lift_broadcasts_unigrams(spark, queries):
    """The vocabulary-sized unigram table must broadcast onto bigram
    counts (twice) — no sort-merge join anywhere."""
    plan = plan_str(_df(queries, spark, "bigram_lift_assoc"))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_weighted_sample_is_map_side_only(spark, queries):
    """The weighted Bernoulli predicate must evaluate inside the scan
    stage: no exchange anywhere, and the parquet read prunes to the four
    referenced columns."""
    plan = plan_str(_df(queries, spark, "weighted_bernoulli_sample_docs"))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "text" not in read_schema[0], plan


def test_lateral_decorrelates_to_window_group_limit(spark, queries):
    """Catalyst must decorrelate the LATERAL subquery into a windowed
    top-k (WindowGroupLimit / RowNumber), not a per-customer nested
    loop."""
    plan = plan_str(_df(queries, spark, "lateral_top2_orders_per_customer"))
    assert "WindowGroupLimit" in plan or "row_number" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_skyline_is_rank_sweep_not_theta_join(spark, queries):
    """Round-5 rewrite (VERDICT r4 item 2): the 2D frontier is computed
    by a cumulative-max window over the distinct-order-count axis plus a
    broadcast hash EQUI-join back to customers — the |customers|² theta
    self-join (and with it every nested-loop join) must be gone, and the
    per-customer aggregation must still happen before any join."""
    plan = plan_str(_df(queries, spark, "skyline_pareto_customers"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "Window" in plan, plan
    assert "EvalPython" not in plan, plan


def test_ewma_fold_is_jvm_side(spark, queries):
    """The EWMA recurrence runs as a higher-order aggregate over the
    collected array — one user_id exchange, no Python evaluation."""
    plan = plan_str(_df(queries, spark, "ewma_user_values"))
    assert "EvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_linear_interp_shares_one_sort_across_frames(spark, queries):
    """All four IGNORE-NULLS frames use the same (user_id | h) order: the
    plan must not re-exchange between the forward and backward window
    passes (grid generation adds no shuffle)."""
    plan = plan_str(_df(queries, spark, "linear_interp_hourly"))
    assert "EvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan  # agg + window


def test_proration_single_exchange(spark, queries):
    """The join and both window passes all key on l_orderkey: the plan
    must not re-shuffle between them (broadcast handles the order-totals
    side at test scale; at 100 TB both sides co-partition)."""
    plan = plan_str(_df(queries, spark, "proration_largest_remainder"))
    assert "EvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_simpson_is_pure_aggregation_tree(spark, queries):
    """Two-level aggregation, no joins: (doc, token) partial agg then a
    doc_id rollup."""
    plan = plan_str(_df(queries, spark, "doc_simpson_diversity"))
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert plan.count("HashAggregate") >= 3, plan


# --- round-2 operators: the scale mechanisms as executable shapes ---------


def test_adaptive_buckets_histogram_broadcasts(spark, queries):
    """The base-bucket histogram (<= 2^base_planes rows) must come back as
    a broadcast join — the corpus side is never shuffled for re-split."""
    plan = plan_str(_df(queries, spark, "dedup_embedding_adaptive"))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan  # pure-expression bucketing


def test_multiprobe_queries_broadcast_corpus_stays(spark, queries):
    """Probe keys explode on the (tiny) query side and broadcast; the
    corpus joins by bucket equi-key — no corpus shuffle, no BNLJ."""
    plan = plan_str(_df(queries, spark, "ann_lsh_multiprobe"))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_band_cap_windows_on_band_key(spark, queries):
    """The hot-band cap's ROW_NUMBER partitions by band_key — the same key
    the candidate self-join shuffles on, so no extra exchange is added
    beyond the banding shuffle."""
    plan = plan_str(_df(queries, spark, "minhash_lsh_candidates_capped"))
    assert "RunningWindowFunction" in plan or "Window" in plan, plan
    assert "band_key" in plan
    assert "CartesianProduct" not in plan


def test_corpus_build_pushdown_and_broadcast(spark, queries):
    """Composed corpus build: the quality gate reaches the parquet scan
    (n_chars pushed) and the eval n-gram set broadcasts."""
    plan = plan_str(_df(queries, spark, "corpus_build_end_to_end"))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1].split("]", 1)[0]
    assert "n_chars" in pushed, pushed
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_png_roundtrip_python_is_batched_only(spark, queries):
    """The PNG query's Python surfaces are Arrow-batched (pandas UDF +
    mapInPandas) — no row-at-a-time BatchEvalPython."""
    plan = plan_str(_df(queries, spark, "multimodal_png_roundtrip"))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_prefix_sum_fact_window_is_partitioned(spark, queries):
    """The two-pass prefix sum's whole point: the window over the FACT
    rows is PARTITIONED by pid (parallel — its exchange is
    hashpartitioning(pid), not SinglePartition), only the
    |partitions|-row offsets relation sees the serial single-partition
    window, and the offsets join back as a broadcast."""
    plan = plan_str(_df(queries, spark, "prefix_sum_distributed_revenue"))
    # fact-side window keyed by the physical partition id
    assert "windowspecdefinition(pid" in plan
    # ... fed by a parallel hash exchange on pid
    assert "hashpartitioning(pid" in plan
    # the serial stage exists exactly once, for the pid-level offsets
    assert plan.count("SinglePartition") == 1
    # offsets relation ships back as a broadcast, not a shuffle join
    assert "BroadcastHashJoin" in plan


def _jobs(spark, action) -> int:
    """Spark jobs launched while ``action()`` runs."""
    sc = spark.sparkContext
    group = f"jobs-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        action()
        # the status store fills from the listener bus in order: once a
        # job run after the build shows, every build job shows too
        sc.setJobGroup(group + "-fence", group)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(group + "-fence"):
        assert time.monotonic() < deadline, "fence job never reached the status store"
        time.sleep(0.05)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _build_jobs(spark, fn) -> int:
    """Spark jobs launched while ``fn`` builds its plan at sf0.001."""
    return _jobs(spark, lambda: fn(spark, SF_SMALL))


@pytest.mark.parametrize(
    "name",
    [
        "sequence_pack_docs",
        "knn_bruteforce_cosine",
        "unigram_lm_segmentation",
        "wordpiece_greedy_regret",
    ],
)
def test_plan_build_launches_no_job(spark, queries, name):
    """Building a plan runs no Spark job once its tables' schemas are
    memoized (sources/catalog.py::read_parquet): no footer-inference job
    per read and no checkpoint in the piece-graph builder."""
    _build_jobs(spark, queries[name].fn)
    assert _build_jobs(spark, queries[name].fn) == 0


def test_unigram_piece_graph_one_gram_shuffle(spark, queries):
    """The piece graph counts all three gram orders in one aggregate and
    cuts both top-k lists in one window partitioned by order: exactly one
    exchange keyed on the gram, and no checkpointed relation in the plan.
    The gram count and the top-word window read the same word-frequency
    rollup, so once run, the final plan scans ``documents`` once and
    reuses that exchange."""
    df = _df(queries, spark, "unigram_lm_segmentation")
    plan = plan_str(df)
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan
    args = [ln for ln in plan.splitlines() if ln.startswith("Arguments: hashpartitioning(")]
    assert sum("gram#" in ln for ln in args) == 1, plan
    assert "windowspecdefinition(n#" in plan, plan
    df.collect()
    final = plan_str(df, "simple").split("== Final Plan ==")[1]
    final = final.split("== Initial Plan ==")[0]
    scans = [ln for ln in final.splitlines() if "FileScan parquet" in ln]
    assert sum("documents" in ln for ln in scans) == 1, final


def test_unigram_segmentation_runs_at_most_6_jobs(spark, queries):
    """The piece graph folds to one broadcast piece→cost map that each
    word's DP reads directly. The edge-list form, which grouped a per-word
    edge relation and joined it back to the words, ran 10 jobs."""
    df = _df(queries, spark, "unigram_lm_segmentation")
    n = _jobs(spark, df.collect)
    assert n <= 6, n


def test_piece_graph_builds_leave_no_session_state(spark, queries):
    """The piece graph is one ``spark.sql`` statement reading ``documents``
    through a temp view; building either query leaves the session's tables
    and views, and every pinned conf, as they were."""
    from multithreaded_map_reduce_library_spark.session import _conf_cache

    names = ("unigram_lm_segmentation", "wordpiece_greedy_regret")

    def state():
        tables = sorted((t.name, t.tableType, t.isTemporary) for t in spark.catalog.listTables())
        return tables, {k: spark.conf.get(k, None) for k in sorted(_conf_cache(spark))}

    # the first builds let the registry wrapper pin its per-query confs
    for name in names:
        _df(queries, spark, name)
    before = state()
    assert before[1]
    for name in names:
        _df(queries, spark, name)
    assert state() == before
