"""Plain-session replay of the driver window (VERDICT r07 item 7).

The r07 `recs_intra_list_diversity` miss showed the residual risk class is
harness-environment divergence: the builder's sweeps run under
`session.get_spark` (UTC, Arrow, tuned shuffle), while the driver imports
`__spark_entry__` with its OWN plain SparkSession. This tool replays the
first 50 entries of `queries()` (the window the external correctness check
reads), or the queries named on the command line, through a deliberately
plain, NON-UTC session and the dtype-strict comparator, writing a
CORRECTNESS-format artifact — so any config-sensitive value (shuffle
partitioning, Arrow behavior, defaults `get_spark` overrides) surfaces
before that check runs, and a query that escapes the UTC pin every query
gets at entry (`registry.releasing`) shows as a timezone-shifted value.

    python tools/plain_session_replay.py                 # first 50, sf0.01
    python tools/plain_session_replay.py sql_interface_q13 sql_interface_q14
    PLAIN_REPLAY_SF_DIR=<sf dir> PLAIN_REPLAY_OUT=out.json \
        python tools/plain_session_replay.py <names>
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

SF_DIR = os.environ.get("PLAIN_REPLAY_SF_DIR", "/root/testdata/sf0.01")
OUT = os.environ.get("PLAIN_REPLAY_OUT", "CORRECTNESS_r08_preflight.json")
CHECK_WINDOW = 50


def main() -> None:
    from pyspark.sql import SparkSession

    # Plain session like the driver's: no get_spark overrides, non-UTC tz
    # so timezone-sensitive values can't hide, modest parallelism.
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.driver.memory", "16g")
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E
    from oracle_util import duckdb_con, sweep

    print(f"entry() smoke: {E.entry(spark).count()} rows", flush=True)
    qs = E.queries()
    names = sys.argv[1:] or list(qs)[:CHECK_WINDOW]
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown query names: {unknown}")
    out = os.path.join(REPO, OUT)
    sweep(spark, SF_DIR, duckdb_con(SF_DIR), names, qs, E.oracle_sql(), out)


if __name__ == "__main__":
    main()
