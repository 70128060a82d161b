"""Local replica of the driver's Spark-vs-DuckDB oracle comparison
(row count + schema + order-insensitive values), strict enough that a pass
here predicts a pass in CORRECTNESS_r{N}.json."""

from __future__ import annotations

import json
import math
import os
import sys
import traceback
from collections.abc import Callable

import duckdb
import pandas as pd

from dask_recommender_system_spark.data import TABLES


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # Bound the oracle engine: an inlined-CTE plan at the 10x sweep scale
    # once ballooned past 50 GB RSS and drew the kernel OOM-killer (which
    # takes the whole compare process down, Spark side included). With a
    # cap DuckDB spills to disk instead and the sweep stays alive.
    con.sql("SET memory_limit='24GB'")
    # per-process spill dir: concurrent sweep workers sharing one temp
    # directory remove each other's files (fatal IOException in DuckDB)
    con.sql(f"SET temp_directory='/tmp/drs_duck_spill_{os.getpid()}'")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # Spark-written tables (e.g. the synthesized sf1 copy under
        # /tmp/drs_sf1) are DIRECTORIES of part files; DuckDB needs the
        # glob form for those, while the driver's single-file testdata
        # keeps the plain path.
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def dtype_class(series: pd.Series) -> str:
    """Coarse dtype class used for strict Spark-vs-oracle comparison.

    The driver's value-hash distinguishes 10 (BIGINT) from 10.0 (DOUBLE),
    so a pass here must too: normalize() coerces each frame per its OWN
    dtype, which silently forgave int-vs-double finals (the
    recs_intra_list_diversity r07 miss). Classes: bool < int < float are
    checked as distinct; decimal objects count as 'decimal'; everything
    else stringifies."""
    if pd.api.types.is_bool_dtype(series):
        return "bool"
    if pd.api.types.is_integer_dtype(series):
        return "int"
    if pd.api.types.is_float_dtype(series):
        return "float"
    if series.dtype == object:
        import decimal

        for v in series:
            if v is None:
                continue
            return "decimal" if isinstance(v, decimal.Decimal) else "str"
        return "str"
    return "str"


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str) -> list[str]:
    problems: list[str] = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"{name}: row count {len(spark_pdf)} vs oracle {len(oracle_pdf)}")
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        problems.append(f"{name}: columns {s_cols} vs oracle {o_cols}")
        return problems
    if problems:
        return problems
    for c in s_cols:
        sc, oc = dtype_class(spark_pdf[c]), dtype_class(oracle_pdf[c])
        if sc != oc:
            # A null-bearing int column arrives as float64 from BOTH
            # Spark (Arrow toPandas) and DuckDB, so a genuine int/float
            # class split here means the engines disagree on the column
            # type — exactly what the driver's value-hash will reject.
            problems.append(
                f"{name}: column {c}: dtype class {sc} (spark) vs {oc} (oracle)"
            )
    if problems:
        return problems
    s, o = normalize(spark_pdf), normalize(oracle_pdf)
    for c in s.columns:
        sv, ov = s[c].values, o[c].values
        if pd.api.types.is_float_dtype(s[c]):
            bad = 0
            for a, b in zip(sv, ov):
                if (math.isnan(a) != math.isnan(b)) or (
                    not math.isnan(a) and a != b
                ):
                    bad += 1
            if bad:
                problems.append(f"{name}: column {c}: {bad} exact-value float mismatches")
        else:
            neq = (sv != ov).sum()
            if neq:
                idx = (sv != ov).argmax()
                problems.append(
                    f"{name}: column {c}: {neq} mismatches (first: {sv[idx]!r} vs {ov[idx]!r})"
                )
    return problems


def check(
    run: Callable[[], pd.DataFrame],
    con: duckdb.DuckDBPyConnection,
    name: str,
    oracle: str | None,
) -> dict:
    """The CORRECTNESS_*.json record of one query: ``run()`` gives
    the engine's rows, ``oracle`` is its DuckDB SQL (None: rows only). An
    exception from either side lands in ``err`` as a traceback."""
    rec: dict = dict.fromkeys(
        ("rows_match", "schema_match", "hash_match", "spark_rows", "oracle_rows", "err")
    )
    try:
        spark_pdf = run()
        rec["spark_rows"] = len(spark_pdf)
        if oracle is None:
            rec["err"] = "no_oracle"
            return rec
        oracle_pdf = con.sql(oracle).df()
        rec["oracle_rows"] = len(oracle_pdf)
        problems = compare(spark_pdf, oracle_pdf, name)
        rec["rows_match"] = len(spark_pdf) == len(oracle_pdf)
        rec["schema_match"] = not any("columns" in p for p in problems)
        rec["hash_match"] = not problems
        rec["err"] = "; ".join(problems) or None
    except Exception:
        rec["err"] = traceback.format_exc(limit=3)
    return rec


def sweep(
    spark,
    sf_dir: str,
    con: duckdb.DuckDBPyConnection,
    names: list[str],
    fns: dict[str, Callable],
    oracles: dict[str, str],
    out: str,
) -> None:
    """``check`` every name in turn, print its status, write the records to
    ``out`` as JSON and exit 1 if any query failed."""
    from dask_recommender_system_spark.registry import ACTIONS

    results: dict[str, dict] = {}
    for name in names:
        rec = results[name] = check(
            lambda: ACTIONS["pandas"](fns[name](spark, sf_dir)),
            con,
            name,
            oracles.get(name),
        )
        spark.catalog.clearCache()
        status = (
            "PASS"
            if rec["hash_match"]
            else ("rows-only" if rec["err"] == "no_oracle" else "FAIL")
        )
        print(f"{name}: {status}", flush=True)
    with open(out, "w") as f:
        json.dump(results, f, indent=2)
    n_pass = sum(1 for r in results.values() if r["hash_match"])
    n_ro = sum(1 for r in results.values() if r["err"] == "no_oracle")
    n_fail = len(results) - n_pass - n_ro
    print(f"\n{len(results)} queries: {n_pass} pass, {n_ro} rows-only, {n_fail} FAIL")
    if n_fail:
        sys.exit(1)
