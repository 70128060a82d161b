"""Interleaved A/B harness (VERDICT r08 item 1): time two variants of a
query ALTERNATING in one session, so machine-state drift lands on both
variants equally and the delta is attributable to the code change.

    python tools/ab_interleave.py <label_a> <module:callable_a> \
                                  <label_b> <module:callable_b> [count|noop]

Each callable has the registry signature fn(spark, sf_dir) -> DataFrame.
Runs SPARK_GRAFT_AB_RUNS (default 5) rounds of A,B; reports per-variant
medians, spreads and the machine-independent counters of the last run of
each variant."""

from __future__ import annotations

import importlib
import json
import os
import sys

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
    from dask_recommender_system_spark.registry import (
        ACTIONS,
        load_all_operators,
        releasing,
        timed,
        warm,
    )
    from dask_recommender_system_spark.session import get_spark

    load_all_operators()
    fns = {label_a: releasing(_resolve(spec_a)), label_b: releasing(_resolve(spec_b))}
    spark = get_spark("drs-ab")
    warm(spark, SF_DIR)

    def run_once(label: str, group: str):
        return timed(spark, group, lambda: ACTIONS[action](fns[label](spark, SF_DIR)))

    # one unwarmed throwaway round so JIT/shuffle-file warmup hits neither
    for label in fns:
        run_once(label, f"ab:warmup_{label}")
    results: dict[str, list] = {label: [] for label in fns}
    for i in range(RUNS):
        for label in fns:
            results[label].append(run_once(label, f"ab:{label}:{i}"))
    out: dict[str, object] = {}
    for label, runs in results.items():
        walls = [round(t.wall_s, 3) for t in runs]
        out[label] = {
            "median": sorted(walls)[len(walls) // 2],
            "runs": walls,
            "counters": runs[-1].counters,
        }
    out["speedup_b_over_a"] = round(
        out[label_a]["median"] / max(out[label_b]["median"], 1e-9), 3
    )
    out["action"] = action
    out["sf"] = SF_DIR
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
