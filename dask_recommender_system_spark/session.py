"""SparkSession factory.

Replaces the reference's Dask ``Client(n_workers=3)`` lifecycle
(``run_als.py:6,30``) with a SparkSession configured for correctness-stable
oracle comparison (UTC session TZ) and scale-minded defaults (AQE, Arrow,
shuffle partitions sized to cores locally — on a real cluster this would be
sized to ~2-3x total cores / target partition bytes instead).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "dask-recommender-system-spark") -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # floor on scan splits: a small single-file table must not serialize
        # a heavy downstream stage onto one task (at cluster scale this is a
        # harmless minimum; splittable formats still split by size)
        .config("spark.sql.files.minPartitionNum", str(max(cpus, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # the harnesses' machine-independent counters (registry.group_counters)
        # read job/stage data back from the AppStatusStore; the 1000-entry
        # defaults evict a 100-epoch fit's ~1400 jobs before they can be
        # counted. ~8k JobData/StageData entries are a few MB of driver
        # heap — noise against the 16g heap.
        .config("spark.ui.retainedJobs", "8000")
        .config("spark.ui.retainedStages", "8000")
        # local mode = one JVM for driver AND all 32 executor threads; 8g
        # starved AQE's runtime broadcast builds at the sf1 probe scale
        # (Not-enough-memory-to-broadcast), so size the heap to the box
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # the oracle sweeps collect data-grain results (e.g. the per-SKU
        # revenue bridge is 17.7M rows at the 30x sweep scale) — the 1g
        # default aborts the collect long before the 16g heap is at risk
        .config("spark.driver.maxResultSize", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
