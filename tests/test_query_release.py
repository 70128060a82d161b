"""The registry's run lifecycle. It releases tracked per-query
checkpoints for every entry point: a query called through
``__spark_entry__.queries()`` frees the previous query's checkpoints before
it builds its own. ``registry.timed`` and ``oracle_util.check`` are the one
timed-run path and the one oracle-check path every harness goes through."""

from __future__ import annotations

import __spark_entry__ as E
from dask_recommender_system_spark.models.common import (
    QUERY_CHECKPOINTS,
    RELEASE_STATS,
)
from dask_recommender_system_spark.registry import ACTIONS, REGISTRY, timed

from .oracle_util import check, duckdb_con

#: the first three track checkpoints that feed their returned plans
#: (graph loops, triangle junctions, SNM ranks); the rest are queries
#: whose tracked checkpoints round 9 added, plus untracked neighbours
RELEASE_QUERIES = [
    "pagerank_items",
    "graph_triangle_stats",
    "dedup_sorted_neighborhood",
    "timeseries_resample",
    "data_drift_psi",
    "chi2_independence",
    "pareto_frontier_2d",
    "abc_classification",
    "quantile_normalize",
    "cramers_v_matrix",
    "conformal_prediction_interval",
    "isotonic_calibration",
    "graph_bfs_levels",
    "personalized_pagerank",
    "label_propagation_communities",
    "graph_shortest_paths_weighted",
    "dq_rule_violations",
    "doc_similarity_sparse",
    "vocab_coverage",
    "blocking_quality_eval",
]


def test_entry_queries_hold_one_querys_checkpoints(spark, sf_dir):
    qs = E.queries()
    failed0 = RELEASE_STATS["failed"]
    for name in RELEASE_QUERIES:
        prev = list(QUERY_CHECKPOINTS)
        released0 = RELEASE_STATS["released"]
        qs[name](spark, sf_dir).collect()
        assert RELEASE_STATS["released"] - released0 >= len(prev), name
        assert not any(df is p for df in QUERY_CHECKPOINTS for p in prev), name
        assert RELEASE_STATS["failed"] == failed0, name
        if name in RELEASE_QUERIES[:3]:
            assert QUERY_CHECKPOINTS, f"{name} tracked no checkpoint"


def test_timed_counts_like_count_and_leaves_nothing_cached(spark, sf_dir):
    cache = spark._jsparkSession.sharedState().cacheManager()
    # both persist an intermediate frame inside the query
    for name in ("dedup_minhash", "recommend_top_k"):
        fn = REGISTRY[name].fn
        t = timed(spark, f"test:{name}", lambda: ACTIONS["count"](fn(spark, sf_dir)))
        assert cache.isEmpty(), name
        assert t.counters["jobs"] >= 1, (name, t.counters)
        assert t.wall_s > 0
        assert t.value == fn(spark, sf_dir).count(), name
        spark.catalog.clearCache()


def test_check_builds_the_correctness_record(spark, sf_dir):
    con = duckdb_con(sf_dir)
    q = REGISTRY["agg_rollup"]

    def run():
        return q.fn(spark, sf_dir).toPandas()

    ok = check(run, con, q.name, q.oracle)
    assert ok["hash_match"] is True and ok["err"] is None, ok
    assert ok["spark_rows"] == ok["oracle_rows"] > 0

    wrong = check(run, con, q.name, "SELECT 1 AS x")
    assert wrong["hash_match"] is False and wrong["err"], wrong
    assert wrong["schema_match"] is False

    def boom():
        raise RuntimeError("query failed to build")

    failed = check(boom, con, q.name, q.oracle)
    assert failed["hash_match"] is None
    assert "Traceback" in failed["err"] and "query failed to build" in failed["err"]
