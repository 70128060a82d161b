"""The registry releases tracked per-query checkpoints, for every entry
point: a query called through ``__spark_entry__.queries()`` frees the
previous query's checkpoints before it builds its own."""

from __future__ import annotations

import __spark_entry__ as E
from dask_recommender_system_spark.models.common import (
    QUERY_CHECKPOINTS,
    RELEASE_STATS,
)

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
