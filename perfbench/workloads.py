"""The two workloads and the operations they run.

Every call into the package goes through ``Bench.op``: it times the call in
a span, catches any exception the program raises, and records its class and
first line, so a broken package yields a complete report of failures.
"""

from __future__ import annotations

import gc
import importlib
import os
import statistics
import sys
import time

import numpy as np

from spans import SparkCounters, Tracer, first_line

PKG = "dask_recommender_system_spark"

# workload -> the module that registers each query (the layer its time is
# billed to) -> the queries.  Importing a module registers its queries, so
# set-up imports exactly these modules.  No query here reaches the
# ``models`` package, which does not import while models/base.py asks
# models/common.py for names it lacks.
QUERIES = {
    # LLM-data-pipeline operators over documents and embeddings: Python
    # UDF and Arrow stages, shingling, hashing and self-joins
    "corpus": {
        "operators.dedup": ["dedup_exact", "dedup_minhash"],
        "operators.text": ["tfidf_top_terms", "bm25_score", "text_quality_score",
                           "corpus_curation_pipeline"],
        "operators.multimodal": ["multimodal_decode"],
    },
    # feature, grouped-map and join-strategy operators over orders,
    # lineitem, events and the ratings view: many short Spark SQL queries
    # where per-query planning and scheduling count
    "tabular": {
        "operators.features": ["target_encoding", "feature_hashing"],
        "operators.grouped": ["user_ewma", "grouped_agg_pandas_udf"],
        "operators.scale": ["join_salted", "join_bloom_pruned", "heavy_hitters"],
        "operators.training": ["sample_per_key", "feature_winsorize"],
    },
}
#: every operator module any workload calls, for the per-layer metrics
OP_MODULES = sorted({m for w in QUERIES.values() for m in w})
#: FunkSVD shape of the single-thread numpy baseline epoch (report.pdf config)
K, LR, REG = 30, 0.001, 0.001


def oracle_util():
    """The repository's replica of the Spark-vs-DuckDB oracle check
    (``tests/oracle_util.py``), imported on first use: it imports the
    package, which may fail, and that failure belongs to the operation."""
    return importlib.import_module("tests.oracle_util")


class CheckFailed(Exception):
    """The program ran but its output was wrong."""


class Bench:
    def __init__(self, tracer: Tracer, workload: str, data_dir: str, seed: int,
                 cores: int) -> None:
        self.tr = tracer
        self.queries = QUERIES[workload]
        self.data_dir = data_dir
        self.cores = cores
        self.rng = np.random.default_rng(seed)
        self.spark = None
        self.counters: SparkCounters | None = None
        self.ops: list[dict] = []  # op spans, check and timed passes
        self.errors: list[str] = []  # set-up and ingest failures
        self.notes: dict = {}
        self.duck = None
        self.logged: set[str] = set()
        self.oracle_dir = os.path.join(os.path.dirname(data_dir), "oracle")

    def pkg(self, name: str):
        return importlib.import_module(f"{PKG}.{name}")

    # ------------------------------------------------------------ plumbing

    def op(self, name: str, layer: str, phase, fn):
        """Run one operation; never raises on the program's behalf."""
        with self.tr.span(name, layer, kind="op", phase=phase, new_op=True) as rec:
            try:
                rec["value"] = fn(rec)
            except Exception as exc:  # the program's failure, recorded
                rec["error"] = first_line(exc)
        self.ops.append(rec)
        # progress on stderr; an error already shown once is not repeated
        error = rec.get("error", "")
        if not error or error not in self.logged:
            self.logged.add(error)
            print(f"perfbench: {phase} {name} {rec['end'] - rec['start']:.3f}s",
                  f"oracle {rec['oracle_s']:.3f}s" if "oracle_s" in rec else "",
                  error, file=sys.stderr)
        return rec

    def step(self, name: str, layer: str, fn):
        """A set-up or ingest step: timed and checked like an operation but
        not counted in the workload's operation total."""
        with self.tr.span(name, layer, kind="step") as rec:
            try:
                rec["value"] = fn()
            except Exception as exc:
                rec["error"] = first_line(exc)
                self.errors.append(f"{name}: {rec['error']}")
        print(f"perfbench: step {name} {rec['end'] - rec['start']:.3f}s",
              rec.get("error", ""), file=sys.stderr)
        return rec

    def release(self) -> None:
        """After each operation: drop cached frames, and record the executor
        storage still in use, which shows what an operation leaks."""
        with self.tr.span("release", "spark", kind="release") as rec:
            self.spark.catalog.clearCache()
            if self.counters:
                rec["storage_mb"] = self.counters.storage_mb()

    # -------------------------------------------------------------- set-up

    def load_operators(self) -> None:
        """Register the workload's queries by importing their modules."""
        self.pkg("registry")
        for module in self.queries:
            self.pkg(module)

    def setup(self, reps: int) -> list[float]:
        """``session.get_spark`` + importing the workload's operator modules
        + the first parquet read, ``reps`` times.  The first repetition
        starts the JVM; later ones stop the session, import the package
        anew and start a new session in the same JVM, each after a full
        garbage collection in Python and in the JVM, so no repetition pays
        for the garbage of the one before."""
        from pyspark import SparkContext

        totals = []
        for rep in range(reps):
            if rep:
                self.spark.stop()
                for mod in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
                    del sys.modules[mod]
                gc.collect()
                SparkContext._jvm.System.gc()
            with self.tr.span("setup", "setup", kind="setup", rep=rep) as rec:
                s = self.step("session.get_spark", "session",
                              lambda: self.pkg("session").get_spark("perfbench"))
                self.spark = s.get("value")
                if self.spark is None:
                    raise RuntimeError(f"no Spark session: {s.get('error')}")
                self.step("registry.load_operators", "registry", self.load_operators)
                self.step("data.first_read", "data",
                          lambda: self.pkg("data").load_table(
                              self.spark, self.data_dir, "region").collect())
            totals.append(rec["end"] - rec["start"])
        self.registry = self.pkg("registry")
        self.data = self.pkg("data")
        return totals

    def host_probe(self, ratings_np) -> dict:
        """Fixed work that only the machine can slow down: single-thread
        numpy FunkSVD epochs and a small Spark shuffle."""
        epochs = [numpy_funk_epoch(*ratings_np) for _ in range(5)]
        shuffles = []
        from pyspark.sql import functions as F

        for _ in range(3):
            t0 = time.perf_counter()
            (self.spark.range(0, 400_000, numPartitions=self.cores)
             .groupBy((F.col("id") % 1009).alias("k")).agg(F.sum("id"))
             .write.format("noop").mode("overwrite").save())
            shuffles.append(time.perf_counter() - t0)
        ep, sh = statistics.median(epochs), statistics.median(shuffles)
        return {"numpy_epoch_s": ep, "shuffle_s": sh, "probe_s": ep + sh}

    def ingest(self) -> None:
        """Materialize the ratings view the workload's queries share."""
        self.step("data.ratings_cached", "data",
                  lambda: self.data.ratings_cached(self.spark, self.data_dir))

    # ------------------------------------------------------------- queries

    def _query(self, name: str, layer: str):
        # REGISTRY, not all_queries(): that one imports every operator
        # module, and a module the workload does not call must not fail it
        with self.tr.span(f"{name}:build", layer, kind="build"):
            df = self.registry.REGISTRY[name].fn(self.spark, self.data_dir)
        return df

    def query_pass(self, phase) -> None:
        layer_of = {q: layer for layer, qs in self.queries.items() for q in qs}
        for name in map(str, self.rng.permutation(sorted(layer_of))):
            layer = layer_of[name]

            def timed(rec, name=name, layer=layer):
                df = self._query(name, layer)
                with self.tr.span(f"{name}:action", layer, kind="action"):
                    df.write.format("noop").mode("overwrite").save()

            def checked(rec, name=name, layer=layer):
                pdf = self._query(name, layer).toPandas()
                oracle = self.registry.REGISTRY[name].oracle
                if oracle is None:
                    raise CheckFailed(f"{name}: no oracle registered")
                t0 = time.perf_counter()
                expected = self.oracle_result(name, oracle)
                rec["oracle_s"] = time.perf_counter() - t0
                problems = oracle_util().compare(pdf, expected, name)
                if problems:
                    raise CheckFailed("; ".join(problems))
                fn_module = self.registry.REGISTRY[name].fn.__module__
                if not fn_module.endswith(layer):
                    self.notes.setdefault("module_moved", {})[name] = fn_module

            self.op(name, layer, phase, checked if phase == "check" else timed)
            self.release()

    def oracle_result(self, name: str, sql: str):
        """The DuckDB oracle's rows for ``sql`` over the fixed tables.  The
        tables never change between runs, so the rows are kept under
        ``oracle_dir``, keyed by the SQL text, the data version and the
        DuckDB version; an edited oracle is simply recomputed."""
        import hashlib

        import duckdb
        import pandas as pd

        key = hashlib.md5(f"{sql}|{self.data_dir}|{duckdb.__version__}".encode()).hexdigest()
        path = os.path.join(self.oracle_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        if self.duck is None:
            self.duck = oracle_util().duckdb_con(self.data_dir)
            # this run's own bounds: spill inside the checkout, small memory
            self.duck.sql(f"SET temp_directory='{os.environ['TMPDIR']}/duckdb'")
            self.duck.sql("SET memory_limit='1GB'")
        rows = self.duck.sql(sql).df()
        os.makedirs(self.oracle_dir, exist_ok=True)
        rows.to_pickle(f"{path}.{os.getpid()}")
        os.replace(f"{path}.{os.getpid()}", path)
        return rows


def numpy_funk_epoch(users, items, ratings) -> float:
    """One full-batch FunkSVD epoch (k=30, the package's update rule) in
    single-thread numpy; returns its wall time."""
    t0 = time.perf_counter()
    u, nu = users, int(users.max()) + 1
    i, ni = items, int(items.max()) + 1
    rng = np.random.default_rng(0)
    P, Q = rng.uniform(0, 0.1, (nu, K)), rng.uniform(0, 0.1, (ni, K))
    bu, bi = np.zeros(nu), np.zeros(ni)
    mu = ratings.mean()
    err = ratings - (mu + bu[u] + bi[i] + np.einsum("ij,ij->i", P[u], Q[i]))
    gP = np.stack([np.bincount(u, err * Q[i, j], nu) for j in range(K)], axis=1)
    bu += LR * (np.bincount(u, err, nu) - ni * REG * bu)
    P += LR * (gP - REG * P)
    gQ = np.stack([np.bincount(i, err * P[u, j], ni) for j in range(K)], axis=1)
    bi += LR * (np.bincount(i, err, ni) - nu * REG * bi)
    Q += LR * (gQ - REG * Q)
    return time.perf_counter() - t0
