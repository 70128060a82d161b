"""Query registry: the single source of truth behind the driver contract.

Every operator from SURVEY.md §2 registers itself here with

- a PySpark implementation ``fn(spark, sf_dir) -> DataFrame``, and
- (when SQL-expressible) its DuckDB oracle twin — an ANSI-SQL string over
  the pre-registered parquet views (region nation customer supplier part
  orders lineitem events documents embeddings).

``__spark_entry__.py`` re-exports this registry as ``queries()`` /
``oracle_sql()``. ``tests/test_oracle_parity.py`` runs the same
Spark-vs-DuckDB comparison the driver runs, locally at sf0.001.

Determinism rules (FIXTURES.md §6): every float output is ROUND(x, 6) on
both sides; every ranking has a unique tiebreak column; no wall-clock, no
unseeded randomness; timestamps leave the engine as epoch seconds BIGINT
so session-timezone settings cannot skew the comparison.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # None => driver falls back to rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def releasing(fn: QueryFn) -> QueryFn:
    """``fn`` that first releases the previous query's tracked checkpoints
    (models.common.QUERY_CHECKPOINTS), so a caller that runs queries one
    after another holds at most one query's worth."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .models.common import release_query_checkpoints

        release_query_checkpoints()
        return fn(spark, sf_dir)

    return run


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a declared query (SURVEY.md §2 inventory).

    ``REGISTRY[name].fn`` is ``releasing(fn)``, so every entry point —
    ``__spark_entry__.queries()`` included — releases between queries. The
    decorator returns the raw function: operators that build on another
    query call it directly and must not release mid-build."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(
            name=name, fn=releasing(fn), oracle=oracle, doc=fn.__doc__ or ""
        )
        return fn

    return deco


def load_all_operators() -> None:
    """Import every operator module so registration side effects run."""
    from .operators import (  # noqa: F401
        analytics,
        dedup,
        evaluation,
        extended,
        features,
        graph,
        grouped,
        linalg,
        multimodal,
        relational,
        scale,
        similarity,
        text,
        training,
        windows,
    )
    from .models import queries as model_queries  # noqa: F401
    from .streaming import windows as streaming_windows  # noqa: F401


#: how a harness makes a query's frame do its work: ``count`` (the bench's
#: historic action, which lets Catalyst prune unused columns), ``noop``
#: (computes every column, writes nothing) or ``pandas`` (collects, as
#: the oracle compare does)
ACTIONS: dict[str, Callable[[DataFrame], object]] = {
    "count": lambda df: df.count(),
    "noop": lambda df: df.write.format("noop").mode("overwrite").save(),
    "pandas": lambda df: df.toPandas(),
}


@dataclass(frozen=True)
class Timed:
    value: object
    wall_s: float
    counters: dict[str, object]


def group_counters(sc, group: str) -> dict[str, object]:
    """Machine-independent execution counters of every Spark job tagged
    with ``group``: job, stage, skipped-stage and task counts plus shuffle
    and input MB. A plan change moves them; host load cannot. Job ids come
    from the public StatusTracker, per-stage bytes from the JVM
    AppStatusStore; any failure gives a partial or empty dict rather than
    breaking the caller."""
    out: dict[str, object] = {}
    try:
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = stages = skipped = tasks = 0
        sr = sw = inp = 0
        for jid in tracker.getJobIdsForGroup(group):
            jobs += 1
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    s = store.lastStageAttempt(sid)
                except Exception:
                    # no attempt recorded: the stage was skipped (exchange
                    # or cache reuse), counted separately
                    skipped += 1
                    continue
                stages += 1
                tasks += s.numCompleteTasks()
                sr += s.shuffleReadBytes()
                sw += s.shuffleWriteBytes()
                inp += s.inputBytes()
        out = {
            "jobs": jobs,
            "stages": stages,
            "skipped_stages": skipped,
            "tasks": tasks,
            "shuffle_read_mb": round(sr / 1e6, 3),
            "shuffle_write_mb": round(sw / 1e6, 3),
            "input_mb": round(inp / 1e6, 3),
        }
    except Exception:
        pass
    return out


def timed(spark: SparkSession, group: str, thunk: Callable[[], object]) -> Timed:
    """Run ``thunk`` under Spark job group ``group`` and return its value,
    wall time and the group's counters. ``clearCache`` then runs outside
    the group, so whatever the thunk persisted does not bill the next run."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    value = thunk()
    wall_s = time.perf_counter() - t0
    counters = group_counters(sc, group)
    sc.setJobGroup("hygiene", "cache hygiene")
    spark.catalog.clearCache()
    return Timed(value, wall_s, counters)


def warm(spark: SparkSession, sf_dir: str) -> dict[str, Timed]:
    """Start the JVM's scan path and build the two derive-once views many
    queries read (ratings, and its dedup+encode form), so their one-time
    cost is ingest, not the first query's. Returns each build, timed."""
    from .data import ratings_cached
    from .operators.linalg import encoded_ratings

    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    return {
        "ratings_cache_ingest": timed(
            spark, "warm:ratings", lambda: ratings_cached(spark, sf_dir).count()
        ),
        "encoded_cache_ingest": timed(
            spark, "warm:encoded", lambda: encoded_ratings(spark, sf_dir).count()
        ),
    }


# The driver's CORRECTNESS gate checks the first 50 entries of ``queries()``
# per round. Every registered query had been checked there by round 9, so
# this list fronts the queries whose code changed since the last fully
# green round (round 8): the two model-fit queries, whose error cache was
# restored to the round-8 layout, then every query function round 9 edited
# or whose helper it edited (``git diff 355ebaa 93d26c1``). The rest follow
# in registration order.
DRIVER_PRIORITY: list[str] = [
    "funk_svd_fit_metrics",
    "als_fit_metrics",
    "timeseries_resample",
    "data_drift_psi",
    "chi2_independence",
    "pareto_frontier_2d",
    "abc_classification",
    "quantile_normalize",
    "cramers_v_matrix",
    "dedup_sorted_neighborhood",
    "blocking_quality_eval",
    "dedup_clusters",
    "dedup_fuzzy_clusters",
    "multimodal_dup_clusters",
    "conformal_prediction_interval",
    "isotonic_calibration",
    "pagerank_items",
    "graph_bfs_levels",
    "personalized_pagerank",
    "label_propagation_communities",
    "graph_shortest_paths_weighted",
    "graph_triangle_stats",
    "dq_rule_violations",
    "similarity_ann_ivf",
    "dedup_embedding_cosine",
    "doc_similarity_sparse",
    "vocab_coverage",
    "item_cf_similarity",
    "mmr_rerank",
    "stream_bin_pack",
    "stream_queue_lindley",
]


def _driver_order(names: list[str]) -> list[str]:
    """Priority names first (in DRIVER_PRIORITY order), the rest in
    registration order."""
    rank = {n: i for i, n in enumerate(DRIVER_PRIORITY)}
    prioritized = [n for n in DRIVER_PRIORITY if n in REGISTRY]
    rest = [n for n in names if n not in rank]
    return prioritized + rest


def all_queries() -> dict[str, QueryFn]:
    load_all_operators()
    return {n: REGISTRY[n].fn for n in _driver_order(list(REGISTRY))}


def all_oracles() -> dict[str, str]:
    load_all_operators()
    return {
        n: REGISTRY[n].oracle
        for n in _driver_order(list(REGISTRY))
        if REGISTRY[n].oracle is not None
    }
