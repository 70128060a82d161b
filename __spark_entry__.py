"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``dask_recommender_system_spark``; the query ↔
oracle pairs are registered side-by-side in the operator modules (see
``dask_recommender_system_spark/registry.py``) and re-exported here.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dask_recommender_system_spark.registry import all_oracles, all_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship (SURVEY.md §7.1 milestone 0): sf0.001 interactions →
    dedup-keep-last → encode → MLlib ALS fit → per-user top-5
    recommendations (X5), exercising S4, D2, A1-A4, J1 and the blocked-ALS
    training path in one pipe. Serves the RAW top-k rows; the registered
    `mllib_als_recommend` query emits the oracle-checkable per-user
    contract audit over the same model."""
    from dask_recommender_system_spark.models.mllib_als import (
        fit_mllib_als,
        recommend_top_k,
    )
    from dask_recommender_system_spark.data import latest_ratings as _ratings

    from pyspark.sql import functions as F

    r = _ratings(spark, "/root/testdata/sf0.001").withColumns(
        {
            "user_id": F.col("user_id").cast("int"),
            "item_id": F.col("item_id").cast("int"),
            "rating": F.col("rating").cast("float"),
        }
    )
    return recommend_top_k(fit_mllib_als(r, rank=8, max_iter=5), 5)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for EVERY registered query — since round 5 the three
    training queries emit invariant-audit columns whose expected rows a
    DuckDB oracle derives exactly (SURVEY.md §5.2), so no entry is
    absent and the driver runs full value checks across the board."""
    return all_oracles()
