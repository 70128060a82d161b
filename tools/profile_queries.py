"""Round-8/9 measurement harness (guide §1): time each named query with the
bench's own action (count) AND the noop sink (guide §1.4), and write
`.explain("formatted")` to plans/<round>/<name>_<tag>.txt so plan claims in
OPTIMIZATION_r*.md are checkable against committed artifacts.

    python tools/profile_queries.py before ranking_metrics_at_k auc_roc ...
    SPARK_GRAFT_PROFILE_RUNS=2 python tools/profile_queries.py after <names>

Timing methodology matches bench.py (count + clearCache between runs) so
numbers are comparable with BENCH_local.json; the noop column shows where
count() lets Catalyst prune whole subtrees (guide §1.4) — a query whose
noop time is far above its count time is NOT actually computing its full
result in the bench, and plan work should target the noop number.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_PROFILE_RUNS", "3"))
PLAN_DIR = os.path.join(REPO, "plans", os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r09"))


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(PLAN_DIR, exist_ok=True)
    from dask_recommender_system_spark.registry import REGISTRY, load_all_operators
    from dask_recommender_system_spark.session import get_spark

    load_all_operators()
    spark = get_spark("drs-profile")
    # same warmup as bench.py
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    from dask_recommender_system_spark.data import ratings_cached

    ratings_cached(spark, SF_DIR).count()
    # same pre-warm as bench.py (r08): the shared dedup+encode view's
    # one-time build is ingest, not query cost
    from dask_recommender_system_spark.operators.linalg import encoded_ratings

    encoded_ratings(spark, SF_DIR).count()

    import importlib
    _bench = importlib.import_module("bench")

    out: dict[str, dict] = {}
    sc = spark.sparkContext
    for name in names:
        fn = REGISTRY[name].fn
        # plan capture (cheap, planning only)
        df = fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(PLAN_DIR, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        counts, noops = [], []
        for run_i in range(RUNS):
            grp = f"profile:{name}:count:{run_i}"
            sc.setJobGroup(grp, grp)
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            counts.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        c_count = _bench._group_counters(sc, grp)
        for run_i in range(RUNS):
            grp = f"profile:{name}:noop:{run_i}"
            sc.setJobGroup(grp, grp)
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            noops.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        c_noop = _bench._group_counters(sc, grp)
        counts.sort(), noops.sort()
        out[name] = {
            "count_med": counts[len(counts) // 2],
            "noop_med": noops[len(noops) // 2],
            "count_runs": counts,
            "noop_runs": noops,
            "count_counters": c_count,
            "noop_counters": c_noop,
        }
        print(
            f"{name}: count={counts[len(counts)//2]} noop={noops[len(noops)//2]} "
            f"jobs={c_noop.get('jobs')} shW={c_noop.get('shuffle_write_mb')}MB "
            f"in={c_noop.get('input_mb')}MB",
            flush=True,
        )
    print(json.dumps(out))
    with open(os.path.join(PLAN_DIR, f"_timings_{tag}.json"), "a") as f:
        f.write(json.dumps({"sf": SF_DIR, "runs": RUNS, "timings": out}) + "\n")


if __name__ == "__main__":
    main()
