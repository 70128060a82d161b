"""Builder-side correctness sweep (VERDICT r01 item 8): run EVERY
registered query against its DuckDB oracle at sf0.01 — the same
Spark-vs-DuckDB comparison the driver runs, over the FULL registry instead
of the driver's 50-entry window — and write ``CORRECTNESS_local.json`` in
the driver's format so regressions in driver-unchecked queries stay
visible between rounds.

    python correctness_local.py            # sf0.01, all queries
    SPARK_GRAFT_LOCAL_SF_DIR=/root/testdata/sf0.1 \
        SPARK_GRAFT_LOCAL_OUT=CORRECTNESS_sf01.json \
        python correctness_local.py        # 10x-scale sweep, own file
    SPARK_GRAFT_LOCAL_ONLY=join_asof,decimal_money_suite \
        python correctness_local.py        # targeted subset (VERDICT r05
                                           # item 3: sf1 float-surface sweep)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))

SF_DIR = os.environ.get("SPARK_GRAFT_LOCAL_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    from dask_recommender_system_spark.registry import all_oracles, all_queries
    from dask_recommender_system_spark.session import get_spark
    from oracle_util import duckdb_con, sweep

    spark = get_spark("drs-correctness-local")
    qs = all_queries()
    names = list(qs)
    only = os.environ.get("SPARK_GRAFT_LOCAL_ONLY", "").strip()
    if only:
        wanted = [n.strip() for n in only.split(",") if n.strip()]
        unknown = [n for n in wanted if n not in qs]
        if unknown:
            raise SystemExit(f"unknown query names in SPARK_GRAFT_LOCAL_ONLY: {unknown}")
        names = wanted
    out = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        os.environ.get("SPARK_GRAFT_LOCAL_OUT", "CORRECTNESS_local.json"),
    )
    sweep(spark, SF_DIR, duckdb_con(SF_DIR), names, qs, all_oracles(), out)


if __name__ == "__main__":
    main()
