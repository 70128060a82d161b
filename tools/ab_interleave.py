"""Interleaved A/B harness (VERDICT r08 item 1): time two variants of a
query ALTERNATING in one session, so machine-state drift lands on both
variants equally and the delta is attributable to the code change.

    python tools/ab_interleave.py <label_a> <module:callable_a> \
                                  <label_b> <module:callable_b> [count|noop]

Each callable has the registry signature fn(spark, sf_dir) -> DataFrame.
Old variants live in tools/ab_variants_r09.py (copies of the pre-change
implementations, kept for audit). Runs SPARK_GRAFT_AB_RUNS (default 5)
rounds of A,B; reports per-variant medians, spreads and the
machine-independent counters of the last run of each variant."""

from __future__ import annotations

import importlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_AB_RUNS", "5"))


def _resolve(spec: str):
    mod, _, attr = spec.partition(":")
    return getattr(importlib.import_module(mod), attr)


def main() -> None:
    label_a, spec_a, label_b, spec_b = sys.argv[1:5]
    action = sys.argv[5] if len(sys.argv) > 5 else "noop"
    from dask_recommender_system_spark.registry import load_all_operators, releasing
    from dask_recommender_system_spark.session import get_spark

    bench = importlib.import_module("bench")
    load_all_operators()
    fn_a, fn_b = releasing(_resolve(spec_a)), releasing(_resolve(spec_b))
    spark = get_spark("drs-ab")
    sc = spark.sparkContext
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    from dask_recommender_system_spark.data import ratings_cached
    from dask_recommender_system_spark.operators.linalg import encoded_ratings

    ratings_cached(spark, SF_DIR).count()
    encoded_ratings(spark, SF_DIR).count()

    def run_once(fn, group):
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        if action == "count":
            df.count()
        else:
            df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        return dt

    results = {label_a: [], label_b: []}
    # one unwarmed throwaway round so JIT/shuffle-file warmup hits neither
    run_once(fn_a, "ab:warmup_a")
    run_once(fn_b, "ab:warmup_b")
    last_group = {}
    for i in range(RUNS):
        for label, fn in ((label_a, fn_a), (label_b, fn_b)):
            g = f"ab:{label}:{i}"
            results[label].append(round(run_once(fn, g), 3))
            last_group[label] = g
    out = {}
    for label in (label_a, label_b):
        runs = sorted(results[label])
        out[label] = {
            "median": runs[len(runs) // 2],
            "runs": results[label],
            "counters": bench._group_counters(sc, last_group[label]),
        }
    out["speedup_b_over_a"] = round(
        out[label_a]["median"] / max(out[label_b]["median"], 1e-9), 3
    )
    out["action"] = action
    out["sf"] = SF_DIR
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
