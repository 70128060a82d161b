"""Round-8/9 measurement harness (guide §1): time each named query with the
bench's own action (count) AND the noop sink (guide §1.4), and write
`.explain("formatted")` to plans/<round>/<name>_<tag>.txt so plan claims in
OPTIMIZATION_r*.md are checkable against committed artifacts.

    python tools/profile_queries.py before ranking_metrics_at_k auc_roc ...
    SPARK_GRAFT_PROFILE_RUNS=2 python tools/profile_queries.py after <names>

Timing goes through bench.py's own path (``registry.timed``) so numbers
are comparable with BENCH_local.json; the noop column shows where
count() lets Catalyst prune whole subtrees (guide §1.4) — a query whose
noop time is far above its count time is NOT actually computing its full
result in the bench, and plan work should target the noop number.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_PROFILE_RUNS", "3"))
PLAN_DIR = os.path.join(REPO, "plans", os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r09"))


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(PLAN_DIR, exist_ok=True)
    from dask_recommender_system_spark.registry import (
        ACTIONS,
        REGISTRY,
        load_all_operators,
        timed,
        warm,
    )
    from dask_recommender_system_spark.session import get_spark

    load_all_operators()
    spark = get_spark("drs-profile")
    warm(spark, SF_DIR)  # same warm-up as bench.py

    out: dict[str, dict] = {}
    for name in names:
        fn = REGISTRY[name].fn
        # plan capture (cheap, planning only)
        df = fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(PLAN_DIR, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        rec: dict = {}
        for action in ("count", "noop"):
            runs = [
                timed(
                    spark,
                    f"profile:{name}:{action}:{run_i}",
                    lambda: ACTIONS[action](fn(spark, SF_DIR)),
                )
                for run_i in range(RUNS)
            ]
            walls = sorted(round(t.wall_s, 3) for t in runs)
            rec[f"{action}_med"] = walls[len(walls) // 2]
            rec[f"{action}_runs"] = walls
            rec[f"{action}_counters"] = runs[-1].counters
        out[name] = rec
        c_noop = rec["noop_counters"]
        print(
            f"{name}: count={rec['count_med']} noop={rec['noop_med']} "
            f"jobs={c_noop.get('jobs')} shW={c_noop.get('shuffle_write_mb')}MB "
            f"in={c_noop.get('input_mb')}MB",
            flush=True,
        )
    print(json.dumps(out))
    with open(os.path.join(PLAN_DIR, f"_timings_{tag}.json"), "a") as f:
        f.write(json.dumps({"sf": SF_DIR, "runs": RUNS, "timings": out}) + "\n")


if __name__ == "__main__":
    main()
