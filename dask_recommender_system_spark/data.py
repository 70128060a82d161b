"""Schema-explicit table loaders for the testdata star schema, plus the
derived ``ratings`` view the recommender operators run on.

The reference's data model is a 4-column ratings table
``(user, item, rating, time)`` loaded positionally from header-less CSV
(``run_als.py:8``: ``pd.read_csv(path, names=["item","user","rating","time"])``).
The driver testdata has no ratings table, so we derive an equivalent
interactions table from ``orders ⋈ lineitem``: user = o_custkey,
item = l_partkey, rating in 1..5 derived deterministically from quantity,
time = l_shipdate. The derivation is pure SQL so every downstream operator
stays oracle-checkable.

All parquet reads rely on the parquet footer schema (schema-on-read is
exact for parquet); CSV/JSONL sources in ``sources/`` are schema-explicit
(never ``inferSchema`` — SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan (SURVEY.md S4). Column pruning + predicate pushdown are
    handled by Catalyst; callers select/filter on the returned frame.

    ``events.ts`` has been generated as both TIMESTAMP(NANOS) (which Spark
    refuses by default — read as int64 nanos via the legacy conf) and
    TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Normalize both to a
    microsecond session-tz TimestampType — queries run in a UTC session
    (registry.releasing sets it at entry), so this is a
    wall-clock-preserving relabel and DuckDB's epoch() agrees."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a session-tz TimestampType
    whatever the parquet wire type was — int64 nanos (legacy conf) or
    TIMESTAMP_NTZ micros. Shared by the batch loader and the streaming
    reader so the two can never desynchronize when the testdata encoding
    changes again (it already flipped nanos → micros once)."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition IFF the input has fewer partitions than the
    cluster has slots. A parquet scan parallelizes at row-group granularity,
    so a small single-row-group table (documents/embeddings at low SF) lands
    in ONE task — and any CPU-heavy narrow stage downstream (shingling,
    per-vector math) serializes. At 100 TB inputs already arrive in
    thousands of row groups and this is a no-op; the guard means we never
    pay an unnecessary full-payload shuffle."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# interaction_id layout: high bits keep the ordinal (orderkey, linenumber)
# pair; the low 32 bits are a content hash that restores UNIQUENESS — the
# round-6 testdata generator emits up to ~20% duplicate
# (l_orderkey, l_linenumber) pairs (600k sf0.1 rows, 456,861 distinct),
# which silently broke the FIXTURES.md "interaction_id is the unique
# tiebreak" rule: every window ordered by it was deterministic only while
# both engines happened to stable-sort the same single-file scan order
# (the sf1 directory-layout sweep caught it — CORRECTNESS_sf1 round 6).
# (l_partkey, l_suppkey, FLOOR(l_quantity)) is unique WITHIN a duplicate
# group at every SF, and all-integer, so the hash input needs no float
# formatting and is portable across engines. 2^32 low bits keep the
# composite under 2^63 up to ~10^9 orders; within-group collision odds are
# ~(group_size^2 / 2^33) per group — negligible, and a collision would only
# reintroduce one tie, visible in both engines identically.
_TIE_MOD = 4_294_967_296  # 2^32

# Portable 60-bit string hash: the first 15 hex digits of md5, exact in
# BIGINT on both engines. Defined here because the ratings derivation
# hashes with it; operators/dedup.py re-exports it for the hash families.
_H60_POWERS = [16 ** (14 - i) for i in range(15)]


def h60_spark(col) -> "F.Column":
    """First 60 bits of md5(col) as a positive BIGINT (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    """The same 60-bit md5 value in DuckDB SQL — hex digits → BIGINT via
    strpos arithmetic against literal powers of 16 (no float anywhere;
    16^14 = 2^56 < 2^63 so every term and the sum stay exact)."""
    powers = ", ".join(str(p) for p in _H60_POWERS)
    return (
        "CAST(list_sum(list_transform(range(15), i -> "
        f"(strpos('0123456789abcdef', substr(md5({expr}), CAST(i + 1 AS INT), 1)) - 1)"
        f" * [{powers}][i + 1])) AS BIGINT)"
    )


_TIE_EXPR_DUCK = h60_sql(
    "CONCAT(l.l_partkey, '|', l.l_suppkey, '|', CAST(FLOOR(l.l_quantity) AS BIGINT))"
)

# DuckDB body of the ratings derivation — the oracle twin of
# :func:`ratings_from_df` (interpolated into every recommender oracle).
# DuckDB-dialect only since the list_transform hash landed; the Spark side
# is the DataFrame derivation below, kept expression-for-expression in sync.
RATINGS_SQL = f"""
SELECT o.o_custkey AS user_id,
       l.l_partkey AS item_id,
       CAST(1 + CAST(FLOOR(l.l_quantity) AS BIGINT) % 5 AS DOUBLE) AS rating,
       l.l_shipdate AS ts,
       (l.l_orderkey * 10 + l.l_linenumber) * {_TIE_MOD}
           + ({_TIE_EXPR_DUCK} % {_TIE_MOD}) AS interaction_id
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


def ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's COO-form ratings table (SURVEY.md §1.1): the relational
    equivalent of the reference's ``sparse.COO`` user×item matrix
    (``models/als.py:51``) — triples, never densified (SURVEY.md §1.4).

    orders→lineitem is a 1:N equi-join on the orderkey; at 100 TB this is a
    co-partitioned sort-merge join (both sides hash-shuffled on orderkey,
    AQE handles skew); at testdata scale AQE turns it into a broadcast."""
    return ratings_from_df(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    )


def content_fingerprint(*paths: str) -> str:
    """Content fingerprint of parquet sources: each path plus every file
    under it as (relative path, size, mtime_ns). A staged copy or derived
    view keyed on this — not on the path alone — re-materializes when a
    dataset is regenerated at the same path instead of replaying stale
    rows. Relative paths, not basenames: two layouts whose part files
    share names in different subdirs must not collide."""
    import hashlib
    import os

    h = hashlib.md5()
    for p in paths:
        h.update(f"{p};".encode())
        files = [p] if os.path.isfile(p) else [
            os.path.join(root, fn) for root, _dirs, fns in os.walk(p) for fn in fns
        ]
        for f in sorted(files):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, p)}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:16]


def _ratings_fingerprint(sf_dir: str) -> str:
    """The ratings view's key: the fingerprint of its two inputs."""
    return content_fingerprint(f"{sf_dir}/lineitem.parquet", f"{sf_dir}/orders.parquet")


# Process-lifetime root for the materialized ratings view (and, under
# io/, for the files queries write and read back). A cross-run
# cache under a stable /tmp path (round 7) would let a later bench/oracle
# invocation skip the derivation entirely — a persisted intermediate keyed
# on the test data, which the optimization-round rules prohibit. Scoping
# the root to THIS process (fresh mkdtemp, removed at exit) keeps the
# derive-once-per-invocation win (the md5-per-row view is built once per
# process, not once per consumer query) while every new invocation
# recomputes from the parquet inputs; bench.py times that first
# materialization as `ratings_cache_ingest_s`.
_CACHE_ROOT: str | None = None


def _cache_root() -> str:
    global _CACHE_ROOT
    if _CACHE_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _CACHE_ROOT = tempfile.mkdtemp(prefix="drs_ratings_cache_")
        atexit.register(shutil.rmtree, _CACHE_ROOT, ignore_errors=True)
    return _CACHE_ROOT


def view_stage(sf_dir: str, name: str) -> str:
    """Stage path for a derived-view materialization under the
    process-lifetime cache root, keyed by the view name and the dataset
    content fingerprint. The root dies with the process, so the
    derivation code cannot change under a live stage. Shared by
    ratings_cached and operators/linalg.encoded_ratings."""
    return f"{_cache_root()}/{name}_{_ratings_fingerprint(sf_dir)}"


def ratings_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive-once-materialize form of :func:`ratings` — the 100 TB answer
    to the md5-per-row cost of the content-hash ``interaction_id``
    (SCALE.md: a derived view consumed by many queries is materialized
    once, not recomputed per consumer; the round-6 determinism fix made
    every re-derivation pay an md5 per row, which tripled
    join_predict_lookup's bench time purely in view prep). First call per
    (process, dataset content) writes the view to a fingerprint-keyed
    parquet under a process-lifetime tempdir; later calls in the SAME
    process are a plain parquet scan. The fingerprint keeps a long-lived
    process (pytest, the oracle sweeps) correct across multiple sf_dirs
    and regenerated fixtures. Values are identical to :func:`ratings` —
    parquet round-trips BIGINT/DOUBLE/DATE exactly."""
    import os

    stage = view_stage(sf_dir, "ratings")
    if not os.path.exists(f"{stage}/_SUCCESS"):
        ratings(spark, sf_dir).write.mode("overwrite").parquet(stage)
    return spark.read.parquet(stage)


def latest_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's prep (run_als.py:9-10): the cached ratings view,
    deduplicated to the latest rating per (user, item) — ts DESC, then
    the unique interaction_id breaks ties."""
    w = W.partitionBy("user_id", "item_id").orderBy(
        F.col("ts").desc(), F.col("interaction_id").desc()
    )
    return (
        ratings_cached(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "item_id", "rating", "interaction_id")
    )


def ratings_from_df(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Same derivation as :func:`ratings` from already-loaded frames.
    ``interaction_id`` must stay expression-for-expression in sync with
    ``RATINGS_SQL`` above (the oracles recompute it)."""
    l, o = lineitem.alias("l"), orders.alias("o")
    tie = (
        h60_spark(
            F.concat_ws(
                "|",
                F.col("l.l_partkey"),
                F.col("l.l_suppkey"),
                F.floor("l.l_quantity").cast("bigint"),
            )
        )
        % _TIE_MOD
    )
    return (
        l.join(o, F.col("l.l_orderkey") == F.col("o.o_orderkey"))
        .select(
            F.col("o.o_custkey").alias("user_id"),
            F.col("l.l_partkey").alias("item_id"),
            (1 + F.floor("l.l_quantity").cast("bigint") % 5).cast("double").alias("rating"),
            F.col("l.l_shipdate").alias("ts"),
            (
                (F.col("l.l_orderkey") * 10 + F.col("l.l_linenumber")) * F.lit(_TIE_MOD)
                + tie
            ).alias("interaction_id"),
        )
    )
