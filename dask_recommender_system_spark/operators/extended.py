"""Extended relational operators beyond the reference's inventory
(SURVEY.md §2.8-§2.9 scope note): as-of join, range/band join, cube,
exact percentiles, deterministic hash sampling, EXISTS semi-join, and
the distribution-rank window suite.

The reference (anzemur/dask-recommender-system) has none of these —
its only joins are the three equi-join shapes in SURVEY.md §2.5
(models/als.py:31-32, 202-214; run_als.py:14) — but a user migrating a
production pipeline onto this engine needs them, and each one pins a
100 TB-relevant physical strategy:

- ``join_asof``: union + last-ignorenulls window — ONE shuffle on the
  key, never the O(events x orders) range-explosion an inequality join
  would plan.
- ``join_range_band``: non-equi band predicate against a literal
  broadcast dim — NLJ is bounded by the handful of bands.
- ``sample_deterministic``: md5-hash gate — reproducible across engines
  and runs, no RNG state; the idiom for carving stable eval slices out
  of a 100 TB corpus.

Every query here is oracle-checked (DuckDB twin alongside).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..data import load_table
from ..registry import query
from .relational import ORACLE_EPOCH

# ---------------------------------------------------------------------------
# Joins: as-of, range/band, EXISTS
# ---------------------------------------------------------------------------

ASOF_SQL = f"""
    SELECT event_id, user_id, ts_epoch, o_orderkey, o_totalprice
    FROM (
        SELECT e.event_id, e.user_id,
               {ORACLE_EPOCH.format(col="e.ts")} AS ts_epoch,
               o.o_orderkey, ROUND(o.o_totalprice, 6) AS o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
               ) AS rn
        FROM events e
        JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    )
    WHERE rn = 1
"""


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    tiebreak: str,
    how: str = "inner",
) -> DataFrame:
    """Generic as-of join: each ``left`` row gets the latest ``right`` row
    with the same ``key`` and ``right_ts`` <= ``left_ts``; ties on
    ``right_ts`` break to max ``tiebreak``. Matched payload columns come
    back as ``asof_<col>``.

    Physical strategy (the 100 TB shape): tag both sides, UNION, then one
    ``last(payload, ignorenulls) OVER (PARTITION BY key ORDER BY t, side)``
    running window — a single shuffle on the join key, linear in
    |left| + |right|. The naive inequality join plans a per-key range
    explosion that is quadratic on hot keys.
    """
    payload = F.struct(*payload_cols).alias("__payload")
    l_tag = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(right.schema[tiebreak].dataType).alias("__tb"),
        F.struct(*left.columns).alias("__row"),
        F.lit(None).cast(f"struct<{','.join(f'{c}:{right.schema[c].dataType.simpleString()}' for c in payload_cols)}>").alias("__payload"),
    )
    r_tag = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__side"),
        F.col(tiebreak).alias("__tb"),
        F.lit(None).cast(
            f"struct<{','.join(f'{c}:{left.schema[c].dataType.simpleString()}' for c in left.columns)}>"
        ).alias("__row"),
        payload,
    )
    # Right rows at t sort before left rows at the same t (side 0 < 1):
    # at-or-before is inclusive. NULL __tb (left rows) first, then
    # ascending tiebreak => last() = max tiebreak among tied right rows.
    w = (
        W.partitionBy("__k")
        .orderBy("__t", "__side", F.col("__tb").asc_nulls_first())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    out = (
        l_tag.unionByName(r_tag)
        .withColumn("__match", F.last("__payload", ignorenulls=True).over(w))
        .where(F.col("__side") == 1)
    )
    if how == "inner":
        out = out.where(F.col("__match").isNotNull())
    elif how != "left":
        raise ValueError(f"asof_join: how must be inner|left, got {how}")
    return out.select(
        *[F.col(f"__row.{c}").alias(c) for c in left.columns],
        *[F.col(f"__match.{c}").alias(f"asof_{c}") for c in payload_cols],
    )


@query("join_asof", oracle=ASOF_SQL)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (inner): each event gets the latest order by the same
    key at-or-before its timestamp; ties on date break to max orderkey.
    Mechanism + scale notes: see ``asof_join``; union-window semantics are
    property-tested against a brute-force replica in
    tests/test_properties.py. The oracle uses the inequality-join +
    row_number form DuckDB can afford at sf0.01."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("ts_epoch")
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.unix_timestamp("o_orderdate").alias("odate_epoch"),
        "o_orderkey",
        F.round("o_totalprice", 6).alias("o_totalprice"),
    )
    return asof_join(
        ev,
        od,
        key="user_id",
        left_ts="ts_epoch",
        right_ts="odate_epoch",
        payload_cols=["o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
    ).select(
        "event_id",
        "user_id",
        "ts_epoch",
        F.col("asof_o_orderkey").alias("o_orderkey"),
        F.col("asof_o_totalprice").alias("o_totalprice"),
    )


PRICE_BANDS = [  # (band, lo inclusive, hi exclusive) — p_retailprice ~ 900..2000
    ("budget", 0.0, 1100.0),
    ("mid", 1100.0, 1500.0),
    ("premium", 1500.0, 1e12),
]

_BANDS_VALUES = ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in PRICE_BANDS)

RANGE_BAND_SQL = f"""
    WITH bands(band, lo, hi) AS (VALUES {_BANDS_VALUES})
    SELECT b.band, COUNT(*) AS n_parts,
           ROUND(CAST(SUM(CAST(p.p_retailprice AS DECIMAL(18,2)))
                 AS DOUBLE), 6) AS sum_price
    FROM part p
    JOIN bands b ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.band
"""


@query("join_range_band", oracle=RANGE_BAND_SQL)
def join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: fact rows matched to [lo, hi) interval dims.
    The dim is a literal handful of rows, so the non-equi predicate plans
    as a broadcast nested-loop bounded by |bands| — each fact row tests 3
    intervals, still a narrow scan-side pipeline at 100 TB. (For large
    interval dims the scale path is equi-bucketizing both sides first.)"""
    bands = spark.createDataFrame(PRICE_BANDS, "band string, lo double, hi double")
    p = load_table(spark, sf_dir, "part")
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_parts"),
            # DECIMAL(18,2) accumulate: ~600k-row per-band double sums at
            # sf1 drift past the ROUND(6) grid with summation order
            F.round(
                F.sum(F.col("p_retailprice").cast("decimal(18,2)")).cast("double"),
                6,
            ).alias("sum_price"),
        )
    )


EXISTS_SQL = """
    SELECT c.c_custkey, c.c_name, ROUND(c.c_acctbal, 6) AS c_acctbal
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
"""


@query("subquery_exists", oracle=EXISTS_SQL)
def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS decorrelation: customers with >= 1 urgent order. Expressed
    as LEFT SEMI join — the probe side streams, the build side is the
    filtered orders projection (keys only cross the shuffle, and the
    filter is pushed to the orders scan)."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", F.round("c_acctbal", 6).alias("c_acctbal")
    )


# ---------------------------------------------------------------------------
# Aggregations: cube, exact percentiles
# ---------------------------------------------------------------------------

CUBE_SQL = """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 6) AS sum_qty, COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@query("agg_cube", oracle=CUBE_SQL)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 2^2 grouping sets in ONE
    Expand + hash aggregate — 4x the rows into one shuffle, never four
    jobs. Completes the grouping-sets family next to agg_rollup."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 6).alias("sum_qty"), F.count("*").alias("n"))
    )


GSETS_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(year(l_shipdate) AS INT) AS ship_year,
           ROUND(SUM(l_quantity), 6) AS sum_qty, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (ship_year), ())
"""


@query("agg_grouping_sets", oracle=GSETS_SQL)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form rollup/cube specialize:
    an arbitrary set list {(flag,status), (ship_year), ()} that neither
    ROLLUP's prefix chain nor CUBE's power set can express. Same physical
    shape as agg_cube: ONE Expand (3x rows) into one hash aggregate with
    map-side combine — one shuffle, not one job per set."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .withColumn("ship_year", F.year("l_shipdate"))
        .groupingSets(
            [["l_returnflag", "l_linestatus"], ["ship_year"], []],
            "l_returnflag",
            "l_linestatus",
            "ship_year",
        )
        .agg(F.round(F.sum("l_quantity"), 6).alias("sum_qty"), F.count("*").alias("n"))
    )


PCTL_SQL = """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
           ROUND(quantile_cont(l_quantity, 0.50), 6) AS p50,
           ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75,
           ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS price_p95
    FROM lineitem
    GROUP BY l_returnflag
"""


@query("agg_percentiles", oracle=PCTL_SQL)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (SQL PERCENTILE_CONT
    semantics on both engines). Exact percentile buffers the group's
    values — fine for bounded groups; the 100 TB default for unbounded
    cardinality is approx_percentile (t-digest, mergeable map-side),
    benchmarked in tests as the scale twin."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(l_quantity, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 6).alias("p75"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6).alias("price_p95"),
    )


# ---------------------------------------------------------------------------
# Deterministic sampling
# ---------------------------------------------------------------------------

SAMPLE_SQL = """
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 6) AS o_totalprice
    FROM orders
    WHERE SUBSTR(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) <= '19'
"""


@query("sample_deterministic", oracle=SAMPLE_SQL)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample: gate on the first md5 byte of the key
    ('00'..'19' = 26/256 ~ 10.2%). Unlike df.sample(), identical across
    engines, runs, and partitionings — the idiom for stable held-out
    slices of a 100 TB corpus (same family as the md5 bucketing the
    dedup ladder uses). Narrow: filter evaluates at the scan, no
    shuffle, no RNG state per task."""
    return (
        load_table(spark, sf_dir, "orders")
        .where(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) <= "19")
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 6).alias("o_totalprice"))
    )


STRAT_SAMPLE_SQL = """
    SELECT o_orderkey, o_orderpriority
    FROM orders
    WHERE SUBSTR(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) <=
          CASE o_orderpriority
               WHEN '1-URGENT' THEN '33'
               WHEN '2-HIGH'   THEN '19'
               ELSE '0c'
          END
"""


@query("sample_stratified", oracle=STRAT_SAMPLE_SQL)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-stratum md5 gates (~20%
    URGENT / ~10% HIGH / ~5% rest) — the class-rebalancing primitive for
    training-data curation (upweight rare strata, downsample the bulk).
    Unlike ``df.sampleBy()``, the gate is engine/run/partitioning-stable
    and needs no RNG state. Still a narrow scan-side filter: the CASE
    over the stratum column evaluates per row at the scan, no shuffle,
    so it streams through 100 TB at scan speed like the unstratified
    `sample_deterministic`."""
    gate = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2)
    thr = (
        F.when(F.col("o_orderpriority") == "1-URGENT", "33")
        .when(F.col("o_orderpriority") == "2-HIGH", "19")
        .otherwise("0c")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .where(gate <= thr)
        .select("o_orderkey", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Distribution-rank windows (ntile / percent_rank / cume_dist)
# ---------------------------------------------------------------------------

NTILE_SQL = """
    SELECT o_orderkey, o_orderpriority,
           ROUND(o_totalprice, 6) AS o_totalprice,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


@query("window_ntile_suite", oracle=NTILE_SQL)
def window_ntile_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution ranks per priority class: NTILE(4) quartile bucketing,
    PERCENT_RANK, CUME_DIST — completes the window family next to
    window_functions_suite's rank/lag/frame set. Unique (price, orderkey)
    sort key keeps every rank deterministic. One shuffle on the partition
    key; at scale a skewed partition class is the watch-item (windows
    can't partial-aggregate), so partition columns must be chosen with
    bounded per-key cardinality."""
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice", 6).alias("o_totalprice"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Semi-structured & reshaping: JSON extraction, unpivot/melt, array explode
# ---------------------------------------------------------------------------

JSON_SQL = """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
"""


@query("json_extract_props", oracle=JSON_SQL)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a typed field out of a JSON string
    column, then aggregate. Uses ``from_json`` with an explicit schema —
    a single JVM-side projection, no Python, evaluated inside the scan
    stage; at 100 TB prefer this (one parse, all fields) over repeated
    ``get_json_object`` calls which each re-parse the string."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("p", F.from_json("props", "k BIGINT"))
        .groupBy("event_type")
        .agg(F.sum("p.k").alias("sum_k"), F.count("*").alias("n"))
    )


_MEASURES = ["l_quantity", "l_extendedprice", "l_discount"]

UNPIVOT_SQL = " UNION ALL ".join(
    f"SELECT l_orderkey, l_linenumber, '{m}' AS measure,"
    f" ROUND({m}, 6) AS value FROM lineitem"
    for m in _MEASURES
)


@query("unpivot_measures", oracle=UNPIVOT_SQL)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide measure columns -> long (measure, value) rows —
    the inverse of pivot_events. Spark's native ``unpivot`` plans ONE
    Expand over a single scan (3x rows, 1 read), where the naive
    UNION-ALL form (the oracle's, for ANSI portability) scans the table
    once per measure — a 3x I/O difference at 100 TB."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .withColumn("l_quantity", F.round("l_quantity", 6))
        .withColumn("l_extendedprice", F.round("l_extendedprice", 6))
        .withColumn("l_discount", F.round("l_discount", 6))
        .unpivot(
            ["l_orderkey", "l_linenumber"], _MEASURES, "measure", "value"
        )
    )


EXPLODE_SQL = """
    SELECT vec_id, pos, ROUND(val, 6) AS val
    FROM (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    )
    WHERE pos < 8
"""


@query("explode_embedding", oracle=EXPLODE_SQL)
def explode_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array explode with position (``posexplode`` / UNNEST WITH
    ORDINALITY): vector column -> one row per component, keeping the
    component index. Narrow generator — no shuffle; row count multiplies
    by the array length, so at scale explode AFTER filtering/projecting
    to the rows and prefix you need (here: first 8 dims), never before."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, 8)).alias("pos", "v")
    ).select("vec_id", "pos", F.round(F.col("v").cast("double"), 6).alias("val"))



L2NORM_SQL = """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
          FROM v)
    SELECT vec_id,
           ROUND(nrm, 6) AS l2_norm,
           CAST(generate_subscripts(v, 1) - 1 AS INT) AS pos,
           ROUND(unnest(v) / CASE WHEN nrm > 0 THEN nrm ELSE 1.0 END, 6) AS nval
    FROM n
"""


@query("embedding_l2_normalize", oracle=L2NORM_SQL)
def embedding_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalization of the embedding column — the preprocessing step
    every cosine-similarity path (similarity_topk, ANN, embedding dedup)
    assumes: after it, cosine is a plain dot product. Pure JVM
    higher-order functions (aggregate for Σx², transform for the scaled
    components) — a narrow map stage that streams at scan speed; emitted
    as exploded (vec_id, pos, nval) scalars with the vector's l2_norm so
    the driver canonicalizer can sort rows. Zero vectors pass through
    unscaled (norm reported 0)."""
    from ..data import spread

    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    nrm = F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    safe = F.when(nrm > 0, nrm).otherwise(F.lit(1.0))
    nv = F.transform("v", lambda x: F.round(x / safe, 6))
    return e.select(
        "vec_id", F.round(nrm, 6).alias("l2_norm"), nv.alias("nv")
    ).select("vec_id", "l2_norm", F.posexplode("nv").alias("pos", "nval"))


CENTROIDS_SQL = """
    WITH e AS (SELECT label,
                      CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
                      CAST(unnest(embedding) AS DOUBLE) AS val
               FROM embeddings)
    SELECT label, pos,
           ROUND(AVG(val), 6) AS centroid,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM e GROUP BY label, pos
"""


@query("embedding_centroids", oracle=CENTROIDS_SQL)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class centroid vectors — the aggregation step of k-means / IVF
    cell training and of class-prototype classifiers, over the embedding
    column. posexplode to (label, pos, val) scalars, then ONE hash
    aggregate keyed (label, pos): map-side partial sums shrink the shuffle
    to |labels| x dims rows no matter how many vectors feed it — the same
    reduction the SGD gradient aggregate uses (operators/linalg.py). At
    100 TB this is the pattern for any per-class vector statistic; output
    stays exploded scalars so the driver canonicalizer can sort rows."""
    from ..data import spread

    e = spread(load_table(spark, sf_dir, "embeddings"))
    return (
        e.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "val"
            ),
        )
        .groupBy("label", "pos")
        .agg(
            F.round(F.avg("val"), 6).alias("centroid"),
            F.count("*").alias("n_vectors"),
        )
    )


# --- one-pass embedding covariance/correlation (X89) ----------------------
# First COV_D dimensions only: the moment set is D(D+1)/2 + D aggregate
# expressions in ONE pass with NO explode — at D=8 that is 44 columns; at
# the full 64 dims it would be 2 144, where the right tool becomes a
# block-matrix aggregation (or sampling) rather than named columns. The
# corr_matrix operator (relational.py) is the scalar-column twin.
COV_D = 8


def _cov_pairs() -> list[tuple[int, int]]:
    return [(i, j) for i in range(COV_D) for j in range(i, COV_D)]


def _cov_oracle() -> str:
    sums = ", ".join(
        f"SUM(embedding[{i + 1}] * embedding[{j + 1}]) AS s_{i}_{j}"
        for i, j in _cov_pairs()
    )
    means = ", ".join(
        f"AVG(embedding[{i + 1}]) AS m_{i}" for i in range(COV_D)
    )
    def cov(i, j):
        return f"(s_{i}_{j} / n - m_{i} * m_{j})"
    rows = "\nUNION ALL\n".join(
        f"""SELECT {i} AS i, {j} AS j,
            ROUND({cov(i, j)}, 6) AS cov,
            ROUND({cov(i, j)} / SQRT(({cov(i, i)}) * ({cov(j, j)})), 6) AS corr
        FROM w"""
        for i, j in _cov_pairs()
    )
    return f"""
    WITH w AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, {means}, {sums}
               FROM embeddings)
    {rows}
    """


@query("embedding_covariance", oracle=_cov_oracle())
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X89: covariance + correlation matrix over the leading COV_D
    embedding dimensions — the feature-screening / whitening statistic
    for vector columns, and the input a PCA step would eigendecompose.
    ONE scan, ONE aggregate: every second moment is a named expression
    over array element accesses (no posexplode — an exploded pairwise
    form would shuffle rows × D² instead of aggregating map-side), and
    the |pairs|-long output unpivots from the single wide row via
    stack(). The scalar-column twin is corr_matrix; see the COV_D
    constant note for where the named-column form stops scaling in D."""
    e = load_table(spark, sf_dir, "embeddings")
    aggs = [F.count("*").cast("double").alias("n")]
    aggs += [
        F.avg(F.col("embedding").getItem(i)).alias(f"m_{i}")
        for i in range(COV_D)
    ]
    aggs += [
        F.sum(
            F.col("embedding").getItem(i) * F.col("embedding").getItem(j)
        ).alias(f"s_{i}_{j}")
        for i, j in _cov_pairs()
    ]
    wide = e.agg(*aggs)

    def cov(i, j):
        return f"(s_{i}_{j} / n - m_{i} * m_{j})"

    stack = ", ".join(
        f"{i}L, {j}L, ROUND({cov(i, j)}, 6),"
        f" ROUND({cov(i, j)} / SQRT(({cov(i, i)}) * ({cov(j, j)})), 6)"
        for i, j in _cov_pairs()
    )
    return wide.selectExpr(
        f"stack({len(_cov_pairs())}, {stack}) AS (i, j, cov, corr)"
    )


# --- as-of direction variants (X93, X94) ----------------------------------
def _asof_inputs(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("ts_epoch")
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.unix_timestamp("o_orderdate").alias("odate_epoch"),
        "o_orderkey",
        F.round("o_totalprice", 6).alias("o_totalprice"),
    )
    return ev, od


ASOF_FWD_SQL = f"""
    SELECT o_orderkey, user_id, odate_s, next_orderkey, next_odate_s,
           (next_odate_s - odate_s) / 86400 AS gap_days
    FROM (
        SELECT a.o_orderkey, a.o_custkey AS user_id,
               {ORACLE_EPOCH.format(col="a.o_orderdate")} AS odate_s,
               b.o_orderkey AS next_orderkey,
               {ORACLE_EPOCH.format(col="b.o_orderdate")} AS next_odate_s,
               ROW_NUMBER() OVER (
                   PARTITION BY a.o_orderkey
                   ORDER BY b.o_orderdate ASC, b.o_orderkey DESC
               ) AS rn
        FROM orders a
        JOIN orders b
          ON b.o_custkey = a.o_custkey AND b.o_orderdate > a.o_orderdate
    )
    WHERE rn = 1
"""


@query("join_asof_forward", oracle=ASOF_FWD_SQL)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X93: forward as-of join — each order gets the customer's NEXT
    order strictly after it (pandas merge_asof direction='forward'; the
    repurchase-interval building block; the backward twin is join_asof).
    Same union-window machinery on NEGATED time — backward-on(-t) IS
    forward-on(t) — with the right side shifted by +1 s on the negated
    axis to make the bound STRICT (dates are whole-day epochs, so 1 s
    cannot reorder distinct dates); strictness is also what excludes the
    row itself. One shuffle on the join key, linear in |L|+|R|; ties at
    the next date break to max orderkey like the backward twin. gap_days
    is exact integer arithmetic."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("user_id"),
        F.unix_timestamp("o_orderdate").alias("odate_s"),
    )
    out = asof_join(
        od.withColumn("neg_t", -F.col("odate_s")),
        od.select(
            "user_id",
            F.col("o_orderkey").alias("next_orderkey"),
            F.col("odate_s").alias("next_odate_s"),
        ).withColumn("neg_t", -F.col("next_odate_s") + 1),
        key="user_id",
        left_ts="neg_t",
        right_ts="neg_t",
        payload_cols=["next_orderkey", "next_odate_s"],
        tiebreak="next_orderkey",
    )
    return out.select(
        "o_orderkey",
        "user_id",
        "odate_s",
        F.col("asof_next_orderkey").alias("next_orderkey"),
        F.col("asof_next_odate_s").alias("next_odate_s"),
        (
            (F.col("asof_next_odate_s") - F.col("odate_s"))
            / F.lit(86400)
        ).alias("gap_days"),
    )


ASOF_NEAREST_SQL = f"""
    SELECT event_id, user_id, ts_epoch, o_orderkey, o_totalprice, went_back
    FROM (
        SELECT e.event_id, e.user_id,
               {ORACLE_EPOCH.format(col="e.ts")} AS ts_epoch,
               o.o_orderkey, ROUND(o.o_totalprice, 6) AS o_totalprice,
               CAST(o.o_orderdate <= e.ts AS BIGINT) AS went_back,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY ABS({ORACLE_EPOCH.format(col="o.o_orderdate")}
                               - {ORACLE_EPOCH.format(col="e.ts")}),
                            CASE WHEN o.o_orderdate <= e.ts THEN 0 ELSE 1 END,
                            o.o_orderkey DESC
               ) AS rn
        FROM events e
        JOIN orders o ON o.o_custkey = e.user_id
    )
    WHERE rn = 1
"""


@query("join_asof_nearest", oracle=ASOF_NEAREST_SQL)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X94: nearest as-of join — each event gets whichever order is
    closest in time, either direction; exact ties go backward (pandas
    merge_asof direction='nearest'). Two union-window passes (backward +
    forward — each one keyed shuffle, linear) LEFT-joined on the event
    key, then a narrow argmin over the two candidate distances. The
    oracle affords the unconstrained per-key pair join + global argmin
    ROW_NUMBER at sf0.01; the engine never builds per-key pairs — at
    100 TB the two-pass form stays linear while the oracle's form is
    Σ_key |E_k|·|O_k|."""
    ev, od = _asof_inputs(spark, sf_dir)
    back = asof_join(
        ev,
        od,
        key="user_id",
        left_ts="ts_epoch",
        right_ts="odate_epoch",
        payload_cols=["o_orderkey", "o_totalprice", "odate_epoch"],
        tiebreak="o_orderkey",
        how="left",
    ).select(
        "event_id",
        "user_id",
        "ts_epoch",
        F.col("asof_o_orderkey").alias("b_key"),
        F.col("asof_o_totalprice").alias("b_price"),
        F.col("asof_odate_epoch").alias("b_t"),
    )
    fwd = asof_join(
        ev.withColumn("neg_ts", -F.col("ts_epoch")),
        od.withColumn("neg_odate", -F.col("odate_epoch")),
        key="user_id",
        left_ts="neg_ts",
        right_ts="neg_odate",
        payload_cols=["o_orderkey", "o_totalprice", "odate_epoch"],
        tiebreak="o_orderkey",
        how="left",
    ).select(
        F.col("event_id").alias("f_event_id"),
        F.col("asof_o_orderkey").alias("f_key"),
        F.col("asof_o_totalprice").alias("f_price"),
        F.col("asof_odate_epoch").alias("f_t"),
    )
    j = back.join(fwd, back["event_id"] == fwd["f_event_id"])
    d_b = F.col("ts_epoch") - F.col("b_t")
    d_f = F.col("f_t") - F.col("ts_epoch")
    take_back = F.col("b_t").isNotNull() & (
        F.col("f_t").isNull() | (d_b <= d_f)
    )
    return (
        j.filter(F.col("b_t").isNotNull() | F.col("f_t").isNotNull())
        .select(
            "event_id",
            "user_id",
            "ts_epoch",
            F.when(take_back, F.col("b_key")).otherwise(F.col("f_key")).alias(
                "o_orderkey"
            ),
            F.when(take_back, F.col("b_price"))
            .otherwise(F.col("f_price"))
            .alias("o_totalprice"),
            take_back.cast("long").alias("went_back"),
        )
    )


# --- last-touch attribution (X95) -----------------------------------------
ATTR_CONVERSION = "purchase"
ATTR_TOUCH = "click"

ATTR_SQL = f"""
    SELECT conv_event_id, user_id, conv_ts_s, touch_event_id, touch_ts_s,
           conv_ts_s - touch_ts_s AS latency_s
    FROM (
        SELECT c.event_id AS conv_event_id, c.user_id,
               {ORACLE_EPOCH.format(col="c.ts")} AS conv_ts_s,
               t.event_id AS touch_event_id,
               {ORACLE_EPOCH.format(col="t.ts")} AS touch_ts_s,
               ROW_NUMBER() OVER (
                   PARTITION BY c.event_id
                   ORDER BY {ORACLE_EPOCH.format(col="t.ts")} DESC,
                            t.event_id DESC
               ) AS rn
        FROM events c
        JOIN events t
          ON t.user_id = c.user_id
         AND {ORACLE_EPOCH.format(col="t.ts")}
             <= {ORACLE_EPOCH.format(col="c.ts")}
         AND t.event_type = '{ATTR_TOUCH}'
        WHERE c.event_type = '{ATTR_CONVERSION}'
    )
    WHERE rn = 1
"""
# NOTE the epoch-FLOOR on both join and order sides: the declared
# semantics are second-granular (the engine compares unix_timestamp
# seconds), so a touch 100 ms after a conversion within the same second
# IS at-or-before it and same-second ties break purely on event_id. The
# raw-timestamp oracle diverged exactly once at sf0.1 — the first
# same-second cross-sub-second pair in any fixture (CORRECTNESS_sf01).


@query("attribution_last_touch", oracle=ATTR_SQL)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X95: last-touch attribution — every conversion ('purchase') event
    credited to the user's most recent 'touch' ('click') event
    at-or-before it, with the conversion latency. The marketing-analytics
    staple, and the as-of machinery's third configuration: same-domain,
    second-granularity, type-filtered sides (join_asof: cross-table
    backward; join_asof_forward: self next-row). Both sides prefilter
    BEFORE the union — the window walks |touches|+|conversions| rows per
    user, not the whole event stream — and the single keyed shuffle +
    running-last window stays linear where the oracle's inequality join
    is Σ_user |touch_u|·|conv_u|. Ties (same second) break to max
    event_id."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_timestamp("ts").alias("ts_s")
    )
    conv = ev.filter(F.col("event_type") == ATTR_CONVERSION).select(
        F.col("event_id").alias("conv_event_id"),
        "user_id",
        F.col("ts_s").alias("conv_ts_s"),
    )
    touch = ev.filter(F.col("event_type") == ATTR_TOUCH).select(
        "user_id",
        F.col("event_id").alias("touch_event_id"),
        F.col("ts_s").alias("touch_ts_s"),
    )
    out = asof_join(
        conv,
        touch,
        key="user_id",
        left_ts="conv_ts_s",
        right_ts="touch_ts_s",
        payload_cols=["touch_event_id", "touch_ts_s"],
        tiebreak="touch_event_id",
    )
    return out.select(
        "conv_event_id",
        "user_id",
        "conv_ts_s",
        F.col("asof_touch_event_id").alias("touch_event_id"),
        F.col("asof_touch_ts_s").alias("touch_ts_s"),
        (F.col("conv_ts_s") - F.col("asof_touch_ts_s")).alias("latency_s"),
    )


# --- PCA first principal component via power iteration (X118) -------------
# Fixed-iteration power method on the (rounded) covariance of PCA_D scaled
# order-line measures: C is tiny (D x D scalars in ONE row), so the whole
# eigen-solve is scalar column math after a single moment aggregate — the
# eigendecomposition step embedding_covariance (X89) stops short of.
# Feature scaling to O(1) is what makes the moment sums small enough that
# ROUND(C, 9) pins bit-identical matrices across engines; the net-price
# feature f_2 = (1-disc)*price is correlated with f_1 BY CONSTRUCTION, so
# the spectrum has a genuine leading direction (eigengap ratio ~0.48 at
# sf0.01 — PCA_ITERS=12 leaves a residual ~0.48^12 ~ 1e-4).
PCA_D = 4
PCA_ITERS = 12
PCA_FEATS_SQL = [
    "l_quantity / 50",
    "l_extendedprice / 100000",
    "(1 - l_discount) * l_extendedprice / 100000",
    "l_tax / 0.1",
]


def _pca_oracle() -> str:
    dims = range(PCA_D)
    pairs = [(i, j) for i in dims for j in dims if i <= j]
    feats = ", ".join(f"{e} AS f_{i}" for i, e in enumerate(PCA_FEATS_SQL))
    mom = ", ".join(
        ["CAST(COUNT(*) AS DOUBLE) AS n"]
        + [f"AVG(f_{i}) AS m_{i}" for i in dims]
        + [f"SUM(f_{i} * f_{j}) AS s_{i}_{j}" for i, j in pairs]
    )
    cov = ", ".join(
        ["n"]
        + [
            f"ROUND(s_{i}_{j} / n - m_{i} * m_{j}, 9) AS c_{i}_{j}"
            for i, j in pairs
        ]
    )

    def c(i, j):
        a, b = min(i, j), max(i, j)
        return f"c_{a}_{b}"

    ctes = [
        f"feats AS (SELECT {feats} FROM lineitem)",
        f"m AS (SELECT {mom} FROM feats)",
        f"cv AS (SELECT {cov} FROM m)",
    ]
    prev = {i: "0.5" for i in dims}
    src = "cv"
    carry = "n, " + ", ".join(f"c_{i}_{j}" for i, j in pairs)
    for t in range(1, PCA_ITERS + 1):
        w = ", ".join(
            "("
            + " + ".join(f"{c(i, j)} * ({prev[j]})" for j in dims)
            + f") AS w_{i}"
            for i in dims
        )
        ctes.append(f"i{t} AS (SELECT {carry}, {w} FROM {src})")
        nrm = " + ".join(f"w_{i} * w_{i}" for i in dims)
        ctes.append(
            f"v{t} AS (SELECT {carry}, "
            + ", ".join(f"w_{i} / SQRT({nrm}) AS v_{i}" for i in dims)
            + f" FROM i{t})"
        )
        prev = {i: f"v_{i}" for i in dims}
        src = f"v{t}"
    lam = " + ".join(f"v_{i} * {c(i, j)} * v_{j}" for i in dims for j in dims)
    trace = " + ".join(f"c_{i}_{i}" for i in dims)
    sgn = "CASE WHEN v_0 < 0 THEN -1.0 ELSE 1.0 END"
    out = ", ".join(
        ["CAST(n AS BIGINT) AS n_rows"]
        + [f"ROUND({sgn} * v_{i}, 6) AS pc1_{i}" for i in dims]
        + [
            f"ROUND({lam}, 6) AS eigenvalue",
            f"ROUND(({lam}) / ({trace}), 6) AS explained_var",
        ]
    )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT {out} FROM {src}"


@query("pca_power_iteration", oracle=_pca_oracle())
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X118: first principal component of PCA_D scaled order-line
    measures via PCA_ITERS fixed power-method iterations — the
    eigen-solve embedding_covariance's moment set (X89) stops short of,
    emitted as the sign-normalized direction, its eigenvalue (Rayleigh
    quotient), and the explained-variance ratio. Scale split: the ONLY
    data-sized work is the single moment aggregate (map-side
    combinable); the covariance is then D x D scalars in one row and
    every power step is closed-form column arithmetic on that row — no
    loop ever touches the data again, no driver collect. Unit-scaling
    the features to O(1) keeps the moment sums small enough that
    ROUND(C, 9) pins bit-identical matrices across engines; the
    iteration count is fixed (not convergence-tested) to keep the
    operator deterministic and oracle-checkable — tests/test_properties
    checks the result against numpy's eigh of the same matrix. The
    near-isotropic embeddings table is deliberately NOT the input: with
    an eigengap ratio ~0.95 a fixed power method cannot separate PC1
    (use orthogonal/subspace iteration there); these measures have a
    genuine leading direction. At D ~ 100 the same split holds with the
    gram carried as an array column and the solve in a 1-row pandas_udf
    eigh."""
    li = load_table(spark, sf_dir, "lineitem")
    dims = range(PCA_D)
    pairs = [(i, j) for i in dims for j in dims if i <= j]
    e = li.select(
        (F.col("l_quantity") / 50).alias("f_0"),
        (F.col("l_extendedprice") / 100000).alias("f_1"),
        ((1 - F.col("l_discount")) * F.col("l_extendedprice") / 100000).alias(
            "f_2"
        ),
        (F.col("l_tax") / 0.1).alias("f_3"),
    )
    aggs = [F.count("*").cast("double").alias("n")]
    aggs += [F.avg(F.col(f"f_{i}")).alias(f"m_{i}") for i in dims]
    aggs += [
        F.sum(F.col(f"f_{i}") * F.col(f"f_{j}")).alias(f"s_{i}_{j}")
        for i, j in pairs
    ]
    m = e.agg(*aggs)
    cv = m.select(
        "n",
        *[
            F.round(
                F.col(f"s_{i}_{j}") / F.col("n") - F.col(f"m_{i}") * F.col(f"m_{j}"),
                9,
            ).alias(f"c_{i}_{j}")
            for i, j in pairs
        ],
    )

    def c(i, j):
        a, b = min(i, j), max(i, j)
        return F.col(f"c_{a}_{b}")

    carry = ["n"] + [f"c_{i}_{j}" for i, j in pairs]
    cur = cv
    prev = {i: F.lit(0.5) for i in dims}
    for _t in range(PCA_ITERS):
        cur = cur.select(
            *carry,
            *[
                sum((c(i, j) * prev[j] for j in dims), F.lit(0.0)).alias(f"w_{i}")
                for i in dims
            ],
        )
        nrm = F.sqrt(sum((F.col(f"w_{i}") * F.col(f"w_{i}") for i in dims), F.lit(0.0)))
        cur = cur.select(
            *carry, *[(F.col(f"w_{i}") / nrm).alias(f"v_{i}") for i in dims]
        )
        prev = {i: F.col(f"v_{i}") for i in dims}
    lam = sum(
        (F.col(f"v_{i}") * c(i, j) * F.col(f"v_{j}") for i in dims for j in dims),
        F.lit(0.0),
    )
    trace = sum((c(i, i) for i in dims), F.lit(0.0))
    sgn = F.when(F.col("v_0") < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    return cur.select(
        F.col("n").cast("long").alias("n_rows"),
        *[F.round(sgn * F.col(f"v_{i}"), 6).alias(f"pc1_{i}") for i in dims],
        F.round(lam, 6).alias("eigenvalue"),
        F.round(lam / trace, 6).alias("explained_var"),
    )


@query(
    "variant_shred",
    oracle="""
    SELECT l_returnflag AS flag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(l_orderkey) AS BIGINT) AS sum_id,
           ROUND(SUM(l_quantity), 6) AS sum_q,
           ROUND(MAX(l_extendedprice), 6) AS max_p
    FROM lineitem GROUP BY l_returnflag
    """,
)
def variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT shredding (Spark 4): serialize each row to a
    nested JSON document, `parse_json` it ONCE into the binary VARIANT
    encoding, then shred typed fields back out with `variant_get` path
    expressions ($.id, $.m.q, $.flag — including a nested object) and
    aggregate. VARIANT is the 100 TB answer to schema-on-read logs: the
    binary encoding parses once at ingest, stores columnar-shreddable, and
    path access is JVM-side expression work — unlike `get_json_object`,
    which re-parses the raw string per call (`json_extract_props` pins the
    one-parse from_json form; this pins the schema-FLEXIBLE form).

    The oracle computes the same aggregates directly from the base columns,
    so the value check proves the whole serialize -> VARIANT -> typed-shred
    round trip is lossless (including double round-tripping via JSON)."""
    li = load_table(spark, sf_dir, "lineitem")
    j = li.select(
        F.to_json(
            F.struct(
                F.col("l_orderkey").alias("id"),
                F.struct(
                    F.col("l_quantity").alias("q"),
                    F.col("l_extendedprice").alias("p"),
                ).alias("m"),
                F.col("l_returnflag").alias("flag"),
            )
        ).alias("j")
    )
    shredded = j.select(F.parse_json("j").alias("v")).select(
        F.variant_get("v", "$.flag", "string").alias("flag"),
        F.variant_get("v", "$.id", "bigint").alias("id"),
        F.variant_get("v", "$.m.q", "double").alias("q"),
        F.variant_get("v", "$.m.p", "double").alias("p"),
    )
    return shredded.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.sum("id").alias("sum_id"),
        F.round(F.sum("q"), 6).alias("sum_q"),
        F.round(F.max("p"), 6).alias("max_p"),
    )


# A-ES weighted sampling: K kept rows, 48-bit md5-derived uniforms.
ARES_K = 100


@query(
    "weighted_sample_topk",
    oracle=f"""
    WITH w AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS w_cents,
               ('0x' || SUBSTR(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))
                   ::BIGINT AS v
        FROM orders),
    k AS (
        SELECT o_orderkey, w_cents,
               LN((v + 0.5) / 281474976710656.0) / w_cents AS ares_key
        FROM w),
    top AS (
        SELECT * FROM k ORDER BY ares_key DESC, o_orderkey LIMIT {ARES_K})
    SELECT o_orderkey, w_cents,
           ROUND(ares_key * 1099511627776.0, 6) AS ares_key_e12
    FROM top
    """,
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES),
    fully deterministic: each row draws u from the first 48 bits of
    md5(key) — the same engine-stable hash family as
    `sample_deterministic` — and the K rows with the largest
    ln(u)/weight survive, which selects each row with probability
    proportional to its weight. The top-K is a `TakeOrderedAndProject`
    (per-partition heaps + K-row merge), NEVER a global sort — the
    revenue-weighted audit-sample shape for a 10^12-row ledger. No RNG
    state: retries, repartitionings and the oracle all agree on the
    sample."""
    o = load_table(spark, sf_dir, "orders")
    v = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 12), 16, 10
    ).cast("long")
    w = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("w_cents"),
        (F.log((v + 0.5) / F.lit(float(1 << 48))) / F.col("w_cents")).alias(
            "ares_key"
        ),
    )
    # the key is O(1e-12); report it scaled by 2^40 (an EXACT dyadic
    # rescale) so 6-decimal rounding keeps real precision. The oracle
    # must rank on the UNROUNDED key in a subquery — ordering on the
    # rounded output alias would collapse everything into ties.
    return (
        w.orderBy(F.col("ares_key").desc(), "o_orderkey")
        .limit(ARES_K)
        .select(
            "o_orderkey",
            "w_cents",
            F.round(F.col("ares_key") * F.lit(float(1 << 40)), 6).alias(
                "ares_key_e12"
            ),
        )
    )


TOPK_DIMS = 8


@query(
    "embedding_topk_dims",
    oracle=f"""
    WITH d AS (
        SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
               UNNEST(embedding) AS val
        FROM embeddings),
    s AS (
        SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(AVG(val), 6) AS mean_val,
               ROUND(VAR_SAMP(val), 6) AS var_val
        FROM d GROUP BY dim)
    SELECT dim, n, mean_val, var_val
    FROM s ORDER BY var_val DESC, dim LIMIT {TOPK_DIMS}
    """,
)
def embedding_topk_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding dimension screening: per-dimension mean/variance, top-K
    by variance — the cheap first cut of embedding compression (a
    near-constant dimension carries no information; drop or quantize it
    harder — see `embedding_quantize_int8`). posexplode is narrow; ONE
    dim-keyed moments aggregate collapses the corpus to |dims| rows
    (map-side partials, |dims| is a model constant); the top-K over that
    bounded table is a TakeOrderedAndProject ranked on the ROUNDED
    variance (dim tiebreak) so cross-engine last-ulp moment noise cannot
    reorder the cut."""
    e = load_table(spark, sf_dir, "embeddings")
    d = e.select(F.posexplode("embedding").alias("dim", "val")).select(
        F.col("dim").cast("long").alias("dim"), "val"
    )
    s = d.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.round(F.avg("val"), 6).alias("mean_val"),
        F.round(F.var_samp("val"), 6).alias("var_val"),
    )
    return s.orderBy(F.col("var_val").desc(), "dim").limit(TOPK_DIMS)


@query(
    "array_functions_suite",
    oracle="""
    SELECT vec_id,
           CAST(LEN(embedding) AS INT) AS n_dims,
           ROUND(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * 2)), 6) AS sum_doubled,
           CAST(LEN(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
           ROUND(list_max(embedding), 6) AS max_val,
           CAST(list_sum(list_transform(list_zip(embedding,
                    list_reverse(embedding)),
                 p -> CASE WHEN p[1] > p[2] THEN 1 ELSE 0 END)) AS BIGINT)
               AS n_gt_reversed
    FROM embeddings
    """,
)
def array_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function surface (transform / filter /
    aggregate / zip_with / reverse / size) pinned as a value-checked
    suite — the `string_date_suite` discipline applied to the HOF family
    every embedding/text operator leans on. Everything stays IN-ROW (no
    explode, no shuffle, whole-stage codegen): at 100 TB this family is
    what keeps vector arithmetic a scan-speed narrow stage instead of a
    posexplode row blowup."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.size(emb).alias("n_dims"),
        F.round(
            F.aggregate(
                F.transform(emb, lambda x: x.cast("double") * 2),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("sum_doubled"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_pos"),
        F.round(F.array_max(emb), 6).alias("max_val"),
        F.aggregate(
            F.zip_with(
                emb, F.reverse(emb), lambda a, b: F.when(a > b, 1).otherwise(0)
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_gt_reversed"),
    )


@query(
    "null_semantics_suite",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN NULL
                ELSE o_totalprice END IS NULL AS v_is_null,
           (CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_totalprice END
            IS NOT DISTINCT FROM
            CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_totalprice END)
               AS null_safe_eq,
           ROUND(COALESCE(CASE WHEN o_orderkey % 3 = 0 THEN NULL
                 ELSE o_totalprice END, -1.0), 6) AS coalesced,
           CAST((CASE WHEN o_orderkey % 3 = 0 THEN NULL
                 ELSE o_totalprice END > 1000) AS VARCHAR) AS cmp_3vl
    FROM orders
    """,
)
def null_semantics_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic surface pinned as a value-checked suite: IS
    NULL, null-safe equality (<=> / IS NOT DISTINCT FROM), COALESCE, and
    a comparison whose result is genuinely NULL (not false) — the
    semantics most likely to silently differ when a pipeline migrates
    engines. The NULL-producing expressions are derived (orderkey % 3)
    so the fixture exercises all branches deterministically. Narrow,
    zero-shuffle, codegen."""
    o = load_table(spark, sf_dir, "orders")
    v3 = F.when(F.col("o_orderkey") % 3 == 0, None).otherwise(
        F.col("o_totalprice")
    )
    v2 = F.when(F.col("o_orderkey") % 2 == 0, None).otherwise(
        F.col("o_totalprice")
    )
    return o.select(
        "o_orderkey",
        v3.isNull().alias("v_is_null"),
        v3.eqNullSafe(v2).alias("null_safe_eq"),
        F.round(F.coalesce(v3, F.lit(-1.0)), 6).alias("coalesced"),
        (v3 > 1000).cast("string").alias("cmp_3vl"),
    )


@query(
    "date_functions_suite",
    oracle="""
    SELECT o_orderkey,
           CAST(FLOOR(epoch(o_orderdate + INTERVAL 3 MONTH)) AS BIGINT)
               AS plus_3mo_epoch,
           CAST(FLOOR(epoch(last_day(o_orderdate))) AS BIGINT)
               AS month_end_epoch,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(isodow(o_orderdate) AS INT) AS iso_dow,
           CAST(FLOOR(epoch(date_trunc('week', o_orderdate))) AS BIGINT)
               AS week_start_epoch,
           CAST(date_diff('day', DATE '2024-01-01', o_orderdate) AS BIGINT)
               AS days_since_2024
    FROM orders WHERE o_orderkey % 11 = 0
    """,
)
def date_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-function surface pinned as a value-checked suite:
    add_months, last_day, quarter, ISO day-of-week, week truncation and
    day diffs — the calendar edge cases (month-length clamping, ISO vs
    US week starts) that bite exactly once, in production. All outputs
    leave as epoch/integer so the comparison is session-tz-proof; Spark's
    Sunday-based dayofweek is converted to ISO (Monday=1) to match the
    ISO standard DuckDB follows. Narrow, zero-shuffle, codegen."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 11 == 0)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.unix_timestamp(F.add_months(d, 3)).alias("plus_3mo_epoch"),
        F.unix_timestamp(F.last_day(d)).alias("month_end_epoch"),
        F.quarter(d).alias("qtr"),
        (((F.dayofweek(d) + 5) % 7) + 1).alias("iso_dow"),
        F.unix_timestamp(F.date_trunc("week", d)).alias("week_start_epoch"),
        F.datediff(d, F.lit("2024-01-01").cast("date")).alias("days_since_2024"),
    )


@query(
    "map_functions_suite",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice, 6) AS price_at_key,
           3 AS map_size,
           'disc,price,qty' AS sorted_keys,
           TRUE AS has_qty,
           ROUND(l_quantity + l_extendedprice + l_discount, 6) AS values_sum
    FROM lineitem WHERE l_orderkey % 17 = 0
    """,
)
def map_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface pinned as a value-checked suite: build a map from
    arrays, probe it (element_at / contains), enumerate it (map_keys
    sorted / size), and reduce its values — the round-trip discipline of
    `variant_shred`: the oracle computes every output directly from the
    base columns, so the check proves the map construction and access
    path loses nothing. Maps are how sparse per-row feature bags ship at
    100 TB without a column per feature; everything here is in-row,
    zero-shuffle codegen."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 17 == 0
    )
    mp = F.map_from_arrays(
        F.array(F.lit("qty"), F.lit("price"), F.lit("disc")),
        F.array("l_quantity", "l_extendedprice", "l_discount"),
    )
    w = li.withColumn("m", mp)
    return w.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.element_at("m", "price"), 6).alias("price_at_key"),
        F.size("m").alias("map_size"),
        F.array_join(F.array_sort(F.map_keys("m")), ",").alias("sorted_keys"),
        F.map_contains_key("m", "qty").alias("has_qty"),
        F.round(
            F.aggregate(
                F.map_values("m"), F.lit(0.0), lambda acc, x: acc + x
            ),
            6,
        ).alias("values_sum"),
    )


RANGE_BUCKET_W = 500.0  # equi-bucket width for the bucketized interval join


@query(
    "join_range_bucketized",
    oracle="""
    WITH iv AS (
        SELECT s_suppkey AS iv_id,
               ROUND(s_acctbal * 2, 6) AS lo,
               ROUND(s_acctbal * 2 + 900, 6) AS hi
        FROM supplier WHERE s_acctbal > 0)
    SELECT iv_id, CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6)
               AS sum_price
    FROM iv JOIN orders
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY iv_id
    """,
)
def join_range_bucketized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join against a LARGE interval dim — the equi-bucketize
    scale twin `join_range_band` promises: a broadcast NLJ is fine for 3
    literal bands but quadratic against 10⁶ intervals. Each interval
    explodes IN-ROW to the fixed-width buckets it covers (×(len/W)
    bounded amplification), each fact row computes its bucket, the join
    becomes a plain EQUI-join on the bucket key (shuffle- or
    broadcast-hash, never nested-loop — plan-asserted), and an exact
    containment filter after removes the bucket-edge false candidates —
    the same candidates-then-verify shape as the dedup ladder. Interval
    bounds are rounded to a shared 6-decimal constant BEFORE bucketing
    so both engines place edges identically."""
    sup = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 0)
    iv = sup.select(
        F.col("s_suppkey").alias("iv_id"),
        F.round(F.col("s_acctbal") * 2, 6).alias("lo"),
        F.round(F.col("s_acctbal") * 2 + 900, 6).alias("hi"),
    )
    ivb = iv.select(
        "iv_id",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / RANGE_BUCKET_W).cast("long"),
                F.floor(F.col("hi") / RANGE_BUCKET_W).cast("long"),
            )
        ).alias("bucket"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_totalprice",
        F.floor(F.col("o_totalprice") / RANGE_BUCKET_W).cast("long").alias(
            "bucket"
        ),
    )
    return (
        o.join(ivb, "bucket")
        .filter(
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi"))
        )
        .groupBy("iv_id")
        .agg(
            F.count("*").alias("n_orders"),
            # money sums accumulate in DECIMAL(18,2): prices carry exactly
            # 2 decimals, so the decimal sum is EXACT and order-independent
            # — double accumulation differed from DuckDB by ULPs once sf1
            # groups got 10x more addends (CORRECTNESS_sf1 round 6)
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
                6,
            ).alias("sum_price"),
        )
    )


N_SHARDS = 8


@query(
    "consistent_hash_assignment",
    oracle=f"""
    WITH k AS (SELECT DISTINCT o_custkey AS key FROM orders),
    s AS (
        SELECT key,
               list_transform(range(0, {N_SHARDS}), s ->
                   ('0x' || SUBSTR(md5(CAST(key AS VARCHAR) || ':' ||
                        CAST(s AS VARCHAR)), 1, 8))::BIGINT) AS scores
        FROM k),
    a AS (
        SELECT key,
               CAST(list_position(scores, list_max(scores)) - 1 AS BIGINT)
                   AS shard
        FROM s),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM a)
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_keys,
           ROUND(CAST(COUNT(*) AS DOUBLE) / total, 6) AS share
    FROM a CROSS JOIN t GROUP BY shard, total
    """,
)
def consistent_hash_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) hashing — the shard-assignment
    scheme whose defining property is MINIMAL movement: adding a shard
    reassigns only ~1/(N+1) of keys (mod-N reshuffles nearly all — the
    operational difference between draining one node and re-shuffling a
    100 TB keyspace). Each key scores every shard with the
    `sample_deterministic` md5 family and takes the argmax — pure IN-ROW
    array work, no shuffle until the |shards|-row balance summary. The
    balance profile (share per shard) is the output a capacity planner
    reads."""
    o = load_table(spark, sf_dir, "orders")
    keys = o.select(F.col("o_custkey").alias("key")).distinct()
    scores = F.transform(
        F.sequence(F.lit(0), F.lit(N_SHARDS - 1)),
        lambda s: F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("key").cast("string"), s.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
    )
    a = keys.withColumn("scores", scores).select(
        "key",
        (F.array_position(F.col("scores"), F.array_max("scores")) - 1)
        .cast("long")
        .alias("shard"),
    )
    t = a.agg(F.count("*").alias("total"))
    return (
        a.groupBy("shard")
        .agg(F.count("*").alias("n_keys"))
        .crossJoin(F.broadcast(t))
        .select(
            "shard",
            "n_keys",
            F.round(F.col("n_keys").cast("double") / F.col("total"), 6).alias(
                "share"
            ),
        )
    )


# Tolerance: max staleness for a valid match. The fixture's clocks are
# decades apart (events in 2024, TPC-H order dates in the 1990s), so a
# realistic 30-day SLA would never fire; 8400 days splits the fixture's
# staleness distribution near its median so BOTH branches (fresh match /
# nulled stale match) are exercised by the value check.
ASOF_TOL_S = 8400 * 86400


@query(
    "join_asof_tolerance",
    oracle=f"""
    WITH m AS (
        SELECT e.event_id, e.user_id,
               {ORACLE_EPOCH.format(col="e.ts")} AS ts_epoch,
               o.o_orderkey,
               {ORACLE_EPOCH.format(col="o.o_orderdate")} AS odate_epoch,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e
        JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
    SELECT event_id, user_id, ts_epoch,
           CASE WHEN ts_epoch - odate_epoch <= {ASOF_TOL_S}
                THEN o_orderkey END AS o_orderkey,
           CASE WHEN ts_epoch - odate_epoch <= {ASOF_TOL_S}
                THEN CAST(ts_epoch - odate_epoch AS BIGINT) END AS staleness_s,
           CAST((ts_epoch - odate_epoch <= {ASOF_TOL_S}) AS BIGINT) AS fresh
    FROM m WHERE rn = 1
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a max-staleness TOLERANCE (pandas merge_asof's
    `tolerance=`): each event takes the latest order at-or-before it
    ONLY if that order is within the staleness SLA — older context is worse
    than none (feature-store reads, price lookups, consent checks all
    carry freshness SLAs). Mechanically the tolerance is a POST-window
    filter on the matched timestamp — the union-window single-shuffle
    plan of `join_asof` is untouched, the match is nulled (not dropped)
    past tolerance, and a 0/1 freshness flag ships for monitoring. The
    inner-match row set equals join_asof's; only staleness gates the
    payload."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("ts_epoch")
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.unix_timestamp("o_orderdate").alias("odate_epoch"),
        "o_orderkey",
    )
    m = asof_join(
        ev,
        od,
        key="user_id",
        left_ts="ts_epoch",
        right_ts="odate_epoch",
        payload_cols=["o_orderkey", "odate_epoch"],
        tiebreak="o_orderkey",
    )
    stale = F.col("ts_epoch") - F.col("asof_odate_epoch")
    fresh = stale <= ASOF_TOL_S
    return m.select(
        "event_id",
        "user_id",
        "ts_epoch",
        F.when(fresh, F.col("asof_o_orderkey")).alias("o_orderkey"),
        F.when(fresh, stale).cast("long").alias("staleness_s"),
        fresh.cast("long").alias("fresh"),
    )


@query(
    "grouping_id_semantics",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def grouping_id_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() marker semantics on ROLLUP — the disambiguation the
    NULL-filled subtotal rows need: a NULL key in a rollup row can mean
    'this level is totalled away' OR 'the data value was NULL', and only
    the GROUPING() flag tells them apart. Every BI tool on top of a
    rollup depends on this; pinning it cross-engine closes the classic
    migration trap. Same single Expand + one keyed aggregate plan as
    `agg_rollup` — the flags are free metadata columns, not extra
    passes."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        F.count("*").alias("n"),
    ).select(
        "o_orderstatus", "o_orderpriority", "g_status", "g_priority", "n"
    )


@query(
    "explode_outer_semantics",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(text), '\\s+')[:3]
               END AS toks
        FROM documents)
    SELECT doc_id,
           CAST(NULL AS BIGINT) AS pos, CAST(NULL AS VARCHAR) AS tok
    FROM d WHERE len(toks) = 0
    UNION ALL
    SELECT doc_id,
           CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos,
           UNNEST(toks) AS tok
    FROM d WHERE len(toks) > 0
    """,
)
def explode_outer_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTER explode semantics pinned: `posexplode_outer` keeps the
    parent row (with NULL pos/element) when the array is EMPTY, where
    plain `posexplode` silently DROPS it — the difference between 'this
    document produced no chunks' being visible downstream or the
    document vanishing from the pipeline (a silent data-loss class in
    ETL). Empty arrays are derived (doc_id % 5) so the fixture
    exercises both branches; the oracle models the outer branch with an
    explicit UNION since UNNEST drops empties too."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.array().cast("array<string>"))
        .otherwise(F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 3))
        .alias("toks"),
    )
    return d.select(
        "doc_id", F.posexplode_outer("toks").alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "tok")


@query(
    "try_arithmetic_suite",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0 THEN NULL
                ELSE ROUND(l_extendedprice / l_discount, 6)
           END AS safe_div,
           TRY_CAST(CASE WHEN l_linenumber % 3 = 0 THEN 'not-a-number'
                         ELSE CAST(l_linenumber AS VARCHAR) END AS BIGINT)
               AS safe_cast,
           CASE WHEN l_quantity = 0 THEN NULL
                ELSE CAST(FLOOR(l_extendedprice / l_quantity) AS BIGINT)
           END AS unit_price_floor
    FROM lineitem WHERE l_orderkey % 13 = 0
    """,
)
def try_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic surface: `try_divide` / `try_cast` turn the
    rows that would kill an ANSI-mode job (division by zero, garbage in
    a numeric column) into NULLs the pipeline can quarantine — the
    row-level sibling of `scan_csv_quarantine`'s file-level capture, and
    the semantics that silently differ between engines' strict/lenient
    modes. Bad inputs are DERIVED (zero discounts exist in the data;
    non-numeric strings planted by l_linenumber % 3) so every branch is
    exercised. The oracle models try-semantics with explicit CASE
    guards — the portable ANSI spelling of the same contract. Narrow,
    zero shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 13 == 0
    )
    dirty = F.when(
        F.col("l_linenumber") % 3 == 0, F.lit("not-a-number")
    ).otherwise(F.col("l_linenumber").cast("string"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.try_divide("l_extendedprice", "l_discount"), 6).alias(
            "safe_div"
        ),
        dirty.try_cast("bigint").alias("safe_cast"),
        F.floor(F.try_divide("l_extendedprice", "l_quantity"))
        .cast("bigint")
        .alias("unit_price_floor"),
    )


@query(
    "union_schema_drift",
    oracle="""
    SELECT o_orderkey AS id, ROUND(o_totalprice, 6) AS amount,
           o_orderpriority AS priority, CAST(NULL AS VARCHAR) AS channel
    FROM orders WHERE o_orderkey % 4 = 0
    UNION ALL BY NAME
    SELECT o_orderkey AS id, ROUND(o_totalprice, 6) AS amount,
           CAST(NULL AS VARCHAR) AS priority, 'web' AS channel
    FROM orders WHERE o_orderkey % 4 = 1
    """,
)
def union_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift union — the v1/v2 feed problem: two extracts of the
    same entity where each side carries columns the other lacks.
    `unionByName(allowMissingColumns=True)` aligns BY NAME and
    null-fills the gaps (positional `union` would silently pair the
    wrong columns — the classic corruption, not an error); DuckDB's
    `UNION ALL BY NAME` is the same contract, so the semantics are
    value-pinned cross-engine. Complements `schema_evolution_merge`
    (which handles drift at the STORAGE layer via mergeSchema); this is
    the in-flight form."""
    o = load_table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 4 == 0).select(
        F.col("o_orderkey").alias("id"),
        F.round("o_totalprice", 6).alias("amount"),
        F.col("o_orderpriority").alias("priority"),
    )
    v2 = o.filter(F.col("o_orderkey") % 4 == 1).select(
        F.col("o_orderkey").alias("id"),
        F.round("o_totalprice", 6).alias("amount"),
        F.lit("web").alias("channel"),
    )
    return v1.unionByName(v2, allowMissingColumns=True)


# Overflow gate for try_multiply: |cents| above this would overflow BIGINT
# when multiplied by OVF_FACTOR.
OVF_FACTOR = 1_000_000_000_000


@query(
    "overflow_semantics",
    oracle=f"""
    SELECT o_orderkey,
           CASE WHEN ABS(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                     > 9223372036854775807 // {OVF_FACTOR}
                THEN NULL
                ELSE CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                     * {OVF_FACTOR}
           END AS scaled_or_null,
           CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) *
                CAST({OVF_FACTOR} AS HUGEINT) >
                CAST(9223372036854775807 AS HUGEINT) AS BOOLEAN)
               AS would_overflow
    FROM orders WHERE o_orderkey % 19 = 0
    """,
)
def overflow_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-overflow semantics: `try_multiply` yields NULL where the
    BIGINT product would overflow — the third member of the try-family
    next to `try_arithmetic_suite`'s division/cast, and the one that
    differs most across engines (wrap, error, saturate, or NULL). The
    factor is sized so the fixture's larger amounts genuinely cross the
    64-bit boundary; the oracle models the same contract by computing
    the product in HUGEINT and gating on the BIGINT max — the portable
    spelling of overflow detection."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 19 == 0)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return o.select(
        "o_orderkey",
        F.try_multiply(cents, F.lit(OVF_FACTOR)).alias("scaled_or_null"),
        F.try_multiply(cents, F.lit(OVF_FACTOR)).isNull().alias(
            "would_overflow"
        ),
    )


@query(
    "decimal_money_suite",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS VARCHAR)
               AS total_exact,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def decimal_money_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DecimalType money aggregation — EXACT by type, not by discipline:
    where the integer-cents idiom (`hierarchy_rollup`) carries exactness
    manually, DECIMAL(18,2) carries it in the type system — sums are
    exact at any partitioning/order and overflow raises instead of
    silently degrading. The value check serializes totals to STRINGS:
    pandas materializes Spark decimals as Python Decimal and DuckDB
    decimals as float64, so the decimal wire form is the only
    representation both engines agree on byte-for-byte — the same
    serialize-the-contract move as `grouped_topk_array`'s JSON."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("string")
        .alias("total_exact"),
        F.count("*").alias("n"),
    )


@query(
    "collation_semantics",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0
                    THEN UPPER(regexp_split_to_array(p_name, ' ')[1])
                    ELSE regexp_split_to_array(p_name, ' ')[1]
               END AS word
        FROM (SELECT p_partkey AS doc_id, p_name FROM part))
    SELECT LOWER(word) AS word_ci,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT word) AS BIGINT) AS n_case_variants
    FROM w GROUP BY LOWER(word)
    """,
)
def collation_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 COLLATION semantics: grouping under UTF8_LCASE merges
    case variants AT THE TYPE LEVEL — `collate(col, 'UTF8_LCASE')` makes
    'Apple' and 'APPLE' one group key without rewriting every expression
    through lower() (and, unlike lower(), collation also drives joins,
    DISTINCT and ORDER BY consistently). Mixed-case data is derived
    (every even key upper-cases its word) so collated and binary
    groupings demonstrably differ — n_case_variants > 1 proves the
    merge happened. The oracle is the portable LOWER() spelling of the
    same contract."""
    p = load_table(spark, sf_dir, "part")
    w = p.select(
        F.when(
            F.col("p_partkey") % 2 == 0,
            F.upper(F.split("p_name", " ")[0]),
        )
        .otherwise(F.split("p_name", " ")[0])
        .alias("word")
    )
    return (
        w.groupBy(F.collate("word", "UTF8_LCASE").alias("k"))
        .agg(
            F.count("*").alias("n"),
            F.countDistinct(F.collate("word", "UTF8_BINARY")).alias(
                "n_case_variants"
            ),
        )
        .select(
            F.lower(F.col("k").cast("string")).alias("word_ci"),
            "n",
            "n_case_variants",
        )
    )


@query(
    "interval_overlap_join",
    oracle="""
    WITH a AS (
        SELECT s_suppkey AS a_id,
               ROUND(s_acctbal * 2, 6) AS a_lo,
               ROUND(s_acctbal * 2 + 900, 6) AS a_hi
        FROM supplier WHERE s_acctbal > 0),
    b AS (
        SELECT p_partkey AS b_id,
               ROUND(p_retailprice * 3, 6) AS b_lo,
               ROUND(p_retailprice * 3 + 600, 6) AS b_hi
        FROM part WHERE p_partkey % 7 = 0)
    SELECT a_id, CAST(COUNT(*) AS BIGINT) AS n_overlaps
    FROM a JOIN b ON a_lo < b_hi AND b_lo < a_hi
    GROUP BY a_id
    """,
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval OVERLAP join (availability windows × promotion
    windows, outage ranges × deploy ranges) — the fourth interval-join
    shape after point-in-interval, band, and bucketized containment.
    Overlap (a.lo < b.hi AND b.lo < a.hi) equi-izes like containment
    did: BOTH interval sets explode in-row onto the same fixed-width
    bucket grid, the join is a plain equi-join on bucket, pairs dedup
    (an overlapping pair shares >= 1 bucket — guaranteed because two
    overlapping intervals both cover any point in their intersection),
    and the exact predicate verifies after. No nested loop at any dim
    size; bounds rounded to shared constants before bucketing."""
    sup = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 0)
    a = sup.select(
        F.col("s_suppkey").alias("a_id"),
        F.round(F.col("s_acctbal") * 2, 6).alias("a_lo"),
        F.round(F.col("s_acctbal") * 2 + 900, 6).alias("a_hi"),
    )
    pt = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 7 == 0)
    b = pt.select(
        F.col("p_partkey").alias("b_id"),
        F.round(F.col("p_retailprice") * 3, 6).alias("b_lo"),
        F.round(F.col("p_retailprice") * 3 + 600, 6).alias("b_hi"),
    )

    def bucketize(df, lo, hi):
        return df.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / RANGE_BUCKET_W).cast("long"),
                    F.floor(F.col(hi) / RANGE_BUCKET_W).cast("long"),
                )
            ),
        )

    cand = (
        bucketize(a, "a_lo", "a_hi")
        .join(bucketize(b, "b_lo", "b_hi"), "bucket")
        .filter((F.col("a_lo") < F.col("b_hi")) & (F.col("b_lo") < F.col("a_hi")))
        .select("a_id", "b_id")
        .distinct()
    )
    return cand.groupBy("a_id").agg(F.count("*").alias("n_overlaps"))


@query(
    "date_format_suite",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS iso_date,
           strftime(o_orderdate, '%Y/%m') AS year_month,
           strftime(o_orderdate, '%d.%m.%Y') AS eu_date
    FROM orders WHERE o_orderkey % 23 = 0
    """,
)
def date_format_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date FORMATTING parity — the export/filename/partition-label
    surface: identical output strings from different token dialects
    (Spark's SimpleDateFormat-style `yyyy-MM-dd` vs DuckDB's strftime
    `%Y-%m-%d`). The check is on the RESULT strings, which is the only
    contract that matters — a pipeline migrating engines rewrites the
    tokens once and pins the outputs, exactly what this query does.
    Zero-padding and century handling are where dialects silently
    differ; three formats cover ISO, path-label, and EU conventions.
    Narrow, zero shuffle."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 23 == 0)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("iso_date"),
        F.date_format(d, "yyyy/MM").alias("year_month"),
        F.date_format(d, "dd.MM.yyyy").alias("eu_date"),
    )


@query(
    "join_dirty_keys",
    oracle="""
    WITH v1 AS (
        SELECT c_custkey, c_name FROM customer),
    v2 AS (
        SELECT c_custkey AS ext_id,
               CASE WHEN c_custkey % 3 = 0 THEN UPPER(c_name) || '  '
                    WHEN c_custkey % 3 = 1 THEN ' ' || c_name
                    ELSE c_name END AS dirty_name,
               ROUND(c_acctbal, 6) AS balance
        FROM customer)
    SELECT v1.c_custkey, v1.c_name, v2.balance,
           (v1.c_name <> v2.dirty_name) AS was_dirty
    FROM v1 JOIN v2
      ON LOWER(TRIM(v1.c_name)) = LOWER(TRIM(v2.dirty_name))
    """,
)
def join_dirty_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-key join — the ETL reality check: a second feed carries the
    SAME entities with whitespace-padded / case-mangled keys (planted
    deterministically on 2/3 of rows), and the join succeeds only
    because both sides normalize (trim + casefold) IN the join
    condition. The normalization is a narrow expression evaluated
    map-side before the shuffle — the join still hash-partitions on the
    normalized key like any equi-join; `was_dirty` reports how much of
    the feed needed repair (the data-quality metric this pattern should
    always emit). A raw-key join here would silently drop 2/3 of
    matches — the oracle pins full recovery."""
    c = load_table(spark, sf_dir, "customer")
    v1 = c.select("c_custkey", "c_name")
    v2 = c.select(
        F.col("c_custkey").alias("ext_id"),
        F.when(
            F.col("c_custkey") % 3 == 0, F.concat(F.upper("c_name"), F.lit("  "))
        )
        .when(F.col("c_custkey") % 3 == 1, F.concat(F.lit(" "), F.col("c_name")))
        .otherwise(F.col("c_name"))
        .alias("dirty_name"),
        F.round("c_acctbal", 6).alias("balance"),
    )
    norm = lambda col: F.lower(F.trim(col))  # noqa: E731
    return v1.join(v2, norm(v1.c_name) == norm(v2.dirty_name)).select(
        "c_custkey",
        "c_name",
        "balance",
        (F.col("c_name") != F.col("dirty_name")).alias("was_dirty"),
    )


@query(
    "array_set_ops_suite",
    oracle="""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents WHERE LENGTH(trim(text)) > 0),
    h AS (
        SELECT doc_id,
               list_distinct(toks[:GREATEST(len(toks) // 2, 1)]) AS a,
               list_distinct(toks[GREATEST(len(toks) // 2, 1) + 1:]) AS b
        FROM t)
    SELECT doc_id,
           CAST(len(list_distinct(a || b)) AS INT) AS n_union,
           CAST(len(list_intersect(a, b)) AS INT) AS n_intersect,
           CAST(len(list_filter(a, x -> NOT list_contains(b, x))) AS INT)
               AS n_except
    FROM h
    """,
)
def array_set_ops_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-row array SET algebra (array_union / array_intersect /
    array_except) — vocabulary overlap between each document's two
    halves, entirely inside the row: the scalar counterpart of
    `set_ops_bag`'s relational forms, and the primitive behind
    shingle/token overlap scoring without an explode-join. The pinned
    CONTRACT is the sizes only: the element ORDER these functions
    return is engine-defined (Spark preserves first-seen, DuckDB
    differs), so comparing the arrays themselves would test an
    accident. Dedup semantics (union/except deduplicate) are part of
    the pin. Zero shuffle, codegen."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    half = F.greatest((F.size(toks) / 2).cast("int"), F.lit(1))
    h = d.select(
        "doc_id",
        F.array_distinct(F.slice(toks, 1, half)).alias("a"),
        F.array_distinct(
            F.slice(toks, half + 1, F.size(toks) - half)
        ).alias("b"),
    )
    return h.select(
        "doc_id",
        F.size(F.array_union("a", "b")).alias("n_union"),
        F.size(F.array_intersect("a", "b")).alias("n_intersect"),
        F.size(F.array_except("a", "b")).alias("n_except"),
    )


@query(
    "string_functions_extra",
    oracle="""
    SELECT p_partkey,
           split_part(p_name, ' ', 2) AS second_word,
           translate(p_brand, '#', '-') AS brand_dashed,
           repeat('*', CAST(p_size % 5 AS INTEGER)) AS stars,
           lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
           reverse(p_brand) AS brand_rev
    FROM part WHERE p_partkey % 29 = 0
    """,
)
def string_functions_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string-function surface beyond `string_date_suite`:
    split_part (the delimited-field extractor ETL leans on), translate,
    repeat, lpad (fixed-width key formatting — the `dedup_sorted_
    neighborhood` sort-key trick), reverse. Each exists on both engines
    with matching 1-based/first-empty edge semantics — which is the pin;
    initcap is deliberately EXCLUDED (its word-boundary definition
    differs across engines, so a portable pipeline shouldn't rely on
    it). Narrow, zero shuffle, codegen."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 29 == 0)
    return p.select(
        "p_partkey",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("second_word"),
        F.translate("p_brand", "#", "-").alias("brand_dashed"),
        F.repeat(F.lit("*"), (F.col("p_size") % 5).cast("int")).alias("stars"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("key_padded"),
        F.reverse("p_brand").alias("brand_rev"),
    )


@query(
    "bitwise_ops_suite",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey & 255 AS BIGINT) AS low_byte,
           CAST(o_orderkey | 4096 AS BIGINT) AS with_flag,
           CAST(xor(o_orderkey, o_custkey) AS BIGINT) AS keys_xor,
           CAST(o_orderkey << 3 AS BIGINT) AS shifted_up,
           CAST(o_orderkey >> 2 AS BIGINT) AS shifted_down,
           CAST(bit_count(o_orderkey) AS BIGINT) AS popcount
    FROM orders WHERE o_orderkey % 31 = 0
    """,
)
def bitwise_ops_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar surface (& | xor << >> popcount) — the primitives
    behind flag packing, `sink_parquet_zorder`'s Morton interleave, and
    `dedup_simhash`'s Hamming verify, pinned as a value-checked suite in
    their own right: bit semantics are exact integers, so any
    cross-engine divergence is a sign-extension or operator-precedence
    bug, not a tolerance question. Narrow, zero shuffle."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 31 == 0)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.col("o_custkey")).alias("keys_xor"),
        F.shiftleft(k, 3).alias("shifted_up"),
        F.shiftright(k, 2).alias("shifted_down"),
        F.bit_count(k).cast("long").alias("popcount"),
    )


@query(
    "boolean_agg_suite",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) FILTER (WHERE value > 100) AS BIGINT) AS n_high,
           bool_or(value > 100) AS any_high,
           bool_and(value > 0) AS all_positive,
           bool_and(value > 100) AS all_high
    FROM events GROUP BY event_type
    """,
)
def boolean_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate surface (count_if / any / every) — the
    assertion-style aggregates data-quality checks compose from: 'did
    ANY row breach', 'did EVERY row satisfy', 'how many'. The fixture
    exercises all four truth outcomes (any_high true, all_high false,
    all_positive true, n_high mid-range) so a short-circuit bug can't
    hide behind a constant column. One keyed agg, map-side
    combinable."""
    ev = load_table(spark, sf_dir, "events")
    high = F.col("value") > 100
    return ev.groupBy("event_type").agg(
        F.count_if(high).alias("n_high"),
        F.bool_or(high).alias("any_high"),
        F.bool_and(F.col("value") > 0).alias("all_positive"),
        F.bool_and(high).alias("all_high"),
    )


@query(
    "join_null_safe_keys",
    oracle="""
    WITH a AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN NULL
                    ELSE o_orderpriority END AS k,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 2 = 0),
    b AS (
        SELECT CASE WHEN n % 5 = 0 THEN NULL
                    ELSE pri END AS k,
               n AS grp_id
        FROM (SELECT DISTINCT o_orderpriority AS pri,
                     CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS n
              FROM orders))
    SELECT a.o_orderkey, a.cents, b.grp_id,
           (a.k IS NULL) AS null_key
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE join keys (`<=>` / IS NOT DISTINCT FROM): a plain
    equi-join silently DROPS every null-keyed row (NULL = NULL is
    unknown), which is right for FKs and wrong for
    unknown-bucket-matches-unknown-bucket semantics — the choice must
    be explicit, and this pins the null-safe side with planted NULL
    keys on BOTH inputs (the null⋈null matches are the rows a plain
    join loses). Null-safe equality still hash-partitions (NULL is just
    a key value under <=>), so the plan is an ordinary equi-join, not a
    nested loop."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, None)
        .otherwise(F.col("o_orderpriority"))
        .alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    pri = o.select("o_orderpriority").distinct().select(
        F.col("o_orderpriority").alias("pri"),
        F.substring("o_orderpriority", 1, 1).cast("long").alias("n"),
    )
    b = pri.select(
        F.when(F.col("n") % 5 == 0, None).otherwise(F.col("pri")).alias("k"),
        F.col("n").alias("grp_id"),
    )
    return a.join(F.broadcast(b), a.k.eqNullSafe(b.k)).select(
        "o_orderkey", "cents", "grp_id", a.k.isNull().alias("null_key")
    )


@query(
    "join_outer_suite",
    oracle="""
    WITH a AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS a_cents
        FROM orders WHERE o_orderkey % 3 = 0),
    b AS (
        SELECT o_orderkey AS k,
               CAST(o_custkey AS BIGINT) AS b_cust
        FROM orders WHERE o_orderkey % 2 = 0)
    SELECT COALESCE(a.k, b.k) AS k, a_cents, b_cust,
           CASE WHEN a.k IS NULL THEN 'right_only'
                WHEN b.k IS NULL THEN 'left_only'
                ELSE 'both' END AS side
    FROM a FULL OUTER JOIN b ON a.k = b.k
    """,
)
def join_outer_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join pinned with all three populations planted
    (left-only: keys ≡ 3 (mod 6) except even ones; right-only: ≡ 2,4
    (mod 6); both: ≡ 0 (mod 6)): the unmatched sides carry NULLs and
    the COALESCE'd key + side label is the reconciliation-report shape.
    Full outer is the one join that cannot broadcast (both sides must
    see unmatched rows), so it always sort-merges on the shuffled key —
    when only counts are needed, the union-tag aggregate
    (`snapshot_diff`) is the cheaper plan; when the joined ROWS are
    needed, this is the honest one."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("a_cents"),
    )
    b = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k2"),
        F.col("o_custkey").cast("long").alias("b_cust"),
    )
    j = a.join(b, a.k == b.k2, "full_outer")
    return j.select(
        F.coalesce(a.k, F.col("k2")).alias("k"),
        "a_cents",
        "b_cust",
        F.when(a.k.isNull(), "right_only")
        .when(F.col("k2").isNull(), "left_only")
        .otherwise("both")
        .alias("side"),
    )


@query(
    "join_fallback_hierarchy",
    oracle="""
    WITH spec AS (
        SELECT c_custkey AS user_id,
               CAST(5 + c_custkey % 10 AS BIGINT) AS rate_pct
        FROM customer WHERE c_custkey % 4 = 0),
    seg AS (
        SELECT DISTINCT c_mktsegment AS segment,
               CAST(LENGTH(c_mktsegment) % 5 + 1 AS BIGINT) AS rate_pct
        FROM customer)
    SELECT c.c_custkey, c.c_mktsegment AS segment,
           COALESCE(s.rate_pct, g.rate_pct) AS rate_pct,
           CASE WHEN s.rate_pct IS NOT NULL THEN 'user_specific'
                ELSE 'segment_default' END AS rate_source
    FROM customer c
    LEFT JOIN spec s ON c.c_custkey = s.user_id
    LEFT JOIN seg g ON c.c_mktsegment = g.segment
    """,
)
def join_fallback_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fallback-hierarchy enrichment — the dimensional COALESCE ladder
    (user-specific rate, else segment default): pricing, quotas,
    feature flags and ML feature defaults all resolve this way. TWO
    LEFT joins (both broadcastable dims here) + COALESCE in specificity
    order + a provenance column saying WHICH level matched — the
    provenance is the part naive implementations drop and the first
    thing an audit asks for. Specific rates exist for 1/4 of users
    (planted) so both resolution branches fire."""
    c = load_table(spark, sf_dir, "customer")
    spec = c.filter(F.col("c_custkey") % 4 == 0).select(
        F.col("c_custkey").alias("user_id"),
        (5 + F.col("c_custkey") % 10).cast("long").alias("spec_rate"),
    )
    seg = c.select("c_mktsegment").distinct().select(
        F.col("c_mktsegment").alias("segment"),
        (F.length("c_mktsegment") % 5 + 1).cast("long").alias("seg_rate"),
    )
    return (
        c.join(F.broadcast(spec), c.c_custkey == spec.user_id, "left")
        .join(F.broadcast(seg), c.c_mktsegment == seg.segment, "left")
        .select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            F.coalesce("spec_rate", "seg_rate").alias("rate_pct"),
            F.when(F.col("spec_rate").isNotNull(), "user_specific")
            .otherwise("segment_default")
            .alias("rate_source"),
        )
    )


SK_NAMESPACE = "orders-v2"


@query(
    "surrogate_keys",
    oracle=f"""
    WITH k AS (
        SELECT o_orderkey,
               ('0x' || SUBSTR(md5('{SK_NAMESPACE}' || ':' ||
                    CAST(o_orderkey AS VARCHAR) || ':' ||
                    CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS sk
        FROM orders)
    SELECT o_orderkey, sk,
           CAST((SELECT COUNT(*) - COUNT(DISTINCT sk) FROM k) AS BIGINT)
               AS n_collisions
    FROM k
    """,
)
def surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic namespaced surrogate keys — warehouse key
    generation WITHOUT a sequence/identity column (sequences don't
    distribute and don't reproduce): sk = 60 bits of
    md5(namespace:natural-key), stable across engines, runs and
    backfills, re-keyable by bumping the namespace. The collision count
    over the whole table ships IN the result (birthday bound at 60
    bits: ~50% only at ~10⁹ keys; a collision in your keyspace is a
    fact you want surfaced, not assumed away). The hash is the
    `sample_deterministic` md5 family — one narrow map, no
    shuffle until the verification count."""
    o = load_table(spark, sf_dir, "orders")
    sk = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(SK_NAMESPACE),
                    F.col("o_orderkey").cast("string"),
                    F.col("o_custkey").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    k = o.select("o_orderkey", sk.alias("sk"))
    coll = k.agg(
        (F.count("*") - F.countDistinct("sk")).alias("n_collisions")
    )
    return k.crossJoin(F.broadcast(coll))


@query(
    "table_fingerprint",
    oracle=f"""
    WITH h AS (
        SELECT ('0x' || SUBSTR(md5(
                   CAST(o_orderkey AS VARCHAR) || '|' ||
                   CAST(o_custkey AS VARCHAR) || '|' ||
                   CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                        AS VARCHAR)), 1, 8))::BIGINT AS rh
        FROM orders)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(rh) AS BIGINT) AS fingerprint_sum,
           CAST(MAX(rh) AS BIGINT) AS fingerprint_max
    FROM h
    """,
)
def table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-INDEPENDENT table fingerprint — did the replica / migration
    / engine-swap preserve every row, answered with three numbers
    instead of a row-by-row diff: each row hashes its canonical
    serialization (pipe-joined string forms, money as integer cents so
    the serialization itself is engine-stable), and the fingerprint is
    the SUM of row hashes — commutative, so partitioning and row order
    cannot change it (a concat-based checksum would). 32-bit row hashes
    keep the sum far from BIGINT overflow at any real row count; same
    fingerprint ⇒ same multiset of serialized rows with ~2⁻³² per-row
    error. This is `snapshot_diff`'s cheap precursor: fingerprints
    disagree → run the diff."""
    o = load_table(spark, sf_dir, "orders")
    ser = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
    )
    rh = F.conv(F.substring(F.md5(ser), 1, 8), 16, 10).cast("long")
    return o.select(rh.alias("rh")).agg(
        F.count("*").alias("n_rows"),
        F.sum("rh").alias("fingerprint_sum"),
        F.max("rh").alias("fingerprint_max"),
    )


# --- product quantization (X245) ------------------------------------------

PQ_M = 8  # subspaces (64-dim embedding → 8 × 8-dim subvectors)
PQ_K = 4  # centroids per subspace → 2 bits/subspace, 16 bits/vector
PQ_SUBDIM = 8


def _pq_codebook() -> list[list[list[float]]]:
    """Literal codebook [m][c][i] from a fixed seed — module-level
    constants so the DuckDB oracle embeds the identical values (the
    similarity_ann_lsh plane-literal promotion pattern). In production
    the codebook comes from k-means on a sample; the assignment/encode
    plan below is unchanged by where the constants come from."""
    import random

    rng = random.Random(45245)
    return [
        [
            [round(rng.uniform(-0.25, 0.25), 4) for _ in range(PQ_SUBDIM)]
            for _ in range(PQ_K)
        ]
        for _ in range(PQ_M)
    ]


PQ_CODEBOOK = _pq_codebook()


def _pq_dist_sql(m: int, c: int) -> str:
    """Squared distance of subvector m to centroid (m, c): an explicit
    8-term sum in fixed index order — bit-identical on both engines (no
    list_sum, no aggregate reordering)."""
    terms = [
        f"(CAST(embedding[{m * PQ_SUBDIM + i + 1}] AS DOUBLE) - ({PQ_CODEBOOK[m][c][i]!r}))"
        for i in range(PQ_SUBDIM)
    ]
    return " + ".join(f"{t} * {t}" for t in terms)


def _pq_oracle() -> str:
    cols = ["vec_id"]
    err_terms = []
    pre = []
    for m in range(PQ_M):
        ds = [f"d{m}_{c}" for c in range(PQ_K)]
        pre.extend(
            f"{_pq_dist_sql(m, c)} AS d{m}_{c}," for c in range(PQ_K)
        )
        cols.append(
            f"CASE WHEN {ds[0]} <= {ds[1]} AND {ds[0]} <= {ds[2]} AND {ds[0]} <= {ds[3]} THEN 0 "
            f"WHEN {ds[1]} <= {ds[2]} AND {ds[1]} <= {ds[3]} THEN 1 "
            f"WHEN {ds[2]} <= {ds[3]} THEN 2 ELSE 3 END AS code_{m}"
        )
        err_terms.append(f"LEAST({', '.join(ds)})")
    return f"""
    WITH d AS (SELECT vec_id, {' '.join(pre)} label FROM embeddings)
    SELECT {', '.join(cols)},
           ROUND({' + '.join(err_terms)}, 6) AS recon_err
    FROM d
    """


@query("embedding_pq_quantize", oracle=_pq_oracle())
def embedding_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X245: product quantization — THE billion-scale ANN memory move
    (Jégou et al. 2011; FAISS IVF-PQ): each 64-dim float vector becomes
    {PQ_M} 2-bit codes (16 bits vs 2 KB, a 1000× compression) by encoding
    each 8-dim subvector as its nearest literal centroid. Complements
    similarity_ann_{{lsh,ivf}} (which prune the SEARCH; PQ shrinks the
    RESIDENT set). Encoding is a pure narrow JVM projection — explicit
    fixed-order arithmetic per subspace, argmin by CASE chain with
    lowest-code tiebreak, zero shuffles, scan-speed at any corpus size;
    the emitted recon_err (sum of the chosen squared distances, the
    quantity PQ training minimizes) makes codebook quality a checked
    value. DuckDB recomputes every code and error from the same literal
    codebook — full value verdict on the quantizer itself."""
    e = load_table(spark, sf_dir, "embeddings")
    out = [F.col("vec_id")]
    errs = []
    for m in range(PQ_M):
        ds = []
        for c in range(PQ_K):
            t = [
                F.element_at("embedding", m * PQ_SUBDIM + i + 1).cast("double")
                - F.lit(PQ_CODEBOOK[m][c][i])
                for i in range(PQ_SUBDIM)
            ]
            d = t[0] * t[0]
            for x in t[1:]:
                d = d + x * x
            ds.append(d)
        code = (
            F.when((ds[0] <= ds[1]) & (ds[0] <= ds[2]) & (ds[0] <= ds[3]), 0)
            .when((ds[1] <= ds[2]) & (ds[1] <= ds[3]), 1)
            .when(ds[2] <= ds[3], 2)
            .otherwise(3)
        )
        out.append(code.cast("int").alias(f"code_{m}"))
        errs.append(F.least(*ds))
    total = errs[0]
    for x in errs[1:]:
        total = total + x
    return e.select(*out, F.round(total, 6).alias("recon_err"))


ATTR_PB_LOOKBACK_S = 7 * 86400  # position-based attribution lookback
ATTR_PB_FIRST_BP = 4000  # U-shape: 40% first, 40% last, 20% middles


@query(
    "attribution_position_based",
    oracle=f"""
    WITH conv AS (
        SELECT event_id AS conv_id, user_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS conv_s,
               CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        FROM events WHERE event_type = 'purchase'),
    touch AS (
        SELECT event_id AS touch_id, user_id, event_type AS touch_type,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS touch_s
        FROM events WHERE event_type IN ('view', 'click')),
    j AS (
        SELECT c.conv_id, c.user_id, c.value_cents,
               t.touch_id, t.touch_type, t.touch_s,
               ROW_NUMBER() OVER (PARTITION BY c.conv_id
                                  ORDER BY t.touch_s, t.touch_id) AS rk,
               COUNT(*) OVER (PARTITION BY c.conv_id) AS n_touches
        FROM conv c JOIN touch t
          ON c.user_id = t.user_id
         AND t.touch_s < c.conv_s
         AND t.touch_s >= c.conv_s - {ATTR_PB_LOOKBACK_S})
    SELECT conv_id, user_id, touch_id, touch_type,
           CAST(rk AS BIGINT) AS pos, CAST(n_touches AS BIGINT) AS n_touches,
           CAST(CASE WHEN n_touches = 1 THEN 10000
                     WHEN n_touches = 2 THEN 5000
                     WHEN rk = 1 OR rk = n_touches THEN {ATTR_PB_FIRST_BP}
                     ELSE 2000 // (n_touches - 2)
                          + CASE WHEN rk - 1 <= 2000 % (n_touches - 2)
                                 THEN 1 ELSE 0 END
                END AS BIGINT) AS credit_bp,
           CAST(value_cents * CASE WHEN n_touches = 1 THEN 10000
                     WHEN n_touches = 2 THEN 5000
                     WHEN rk = 1 OR rk = n_touches THEN {ATTR_PB_FIRST_BP}
                     ELSE 2000 // (n_touches - 2)
                          + CASE WHEN rk - 1 <= 2000 % (n_touches - 2)
                                 THEN 1 ELSE 0 END
                END AS BIGINT) AS credit_bp_cents
    FROM j ORDER BY conv_id, pos
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X273: position-based (U-shaped, 40/20/40) multi-touch attribution
    — the industry-default middle ground between last-touch (X95) and
    linear credit: first and last touch in the 7-day lookback each get
    40%, the middles split 20%. Credit is allocated in EXACT basis
    points with a largest-remainder tail (earliest middles absorb the
    2000 mod (n−2) leftover), so Σcredit_bp = 10000 per conversion by
    construction (test-pinned) and the credited amount ships as the
    exact integer value_cents·bp — zero float surface anywhere. Plan:
    both sides prefilter by type BEFORE a user-keyed join bounded by
    the lookback predicate (per-user touch×conv fanout is
    window-bounded), then ONE conversion-keyed ranking window — the
    join and windows all key on user/conversion, so the plan shards at
    any event volume."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.unix_timestamp("ts").alias("conv_s"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("touch_id"),
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("touch_type"),
        F.unix_timestamp("ts").alias("touch_s"),
    )
    j = conv.join(
        touch,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("touch_s") < F.col("conv_s"))
        & (F.col("touch_s") >= F.col("conv_s") - ATTR_PB_LOOKBACK_S),
    )
    wr = W.partitionBy("conv_id").orderBy("touch_s", "touch_id")
    wn = W.partitionBy("conv_id")
    ranked = j.select(
        "conv_id",
        "user_id",
        "value_cents",
        "touch_id",
        "touch_type",
        F.row_number().over(wr).alias("pos"),
        F.count("*").over(wn).alias("n_touches"),
    )
    credit_bp = (
        F.when(F.col("n_touches") == 1, 10000)
        .when(F.col("n_touches") == 2, 5000)
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("n_touches")),
            ATTR_PB_FIRST_BP,
        )
        .otherwise(
            F.expr("2000 DIV (n_touches - 2)")
            + F.when(
                F.col("pos") - 1 <= F.expr("2000 % (n_touches - 2)"), 1
            ).otherwise(0)
        )
    ).cast("long")
    return ranked.select(
        "conv_id",
        "user_id",
        "touch_id",
        "touch_type",
        F.col("pos").cast("long").alias("pos"),
        F.col("n_touches").cast("long").alias("n_touches"),
        credit_bp.alias("credit_bp"),
        (F.col("value_cents") * credit_bp).alias("credit_bp_cents"),
    ).orderBy("conv_id", "pos")


ATTR_DECAY_WINDOW_D = 30  # touches eligible within 30 days before conversion


@query(
    "attribution_time_decay",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events),
    conv AS (
        SELECT event_id AS conv_id, user_id, ts_s AS conv_s, cents
        FROM ev WHERE event_type = 'purchase'),
    touch AS (
        SELECT event_id AS touch_id, user_id, event_type AS channel,
               ts_s AS touch_s
        FROM ev WHERE event_type IN ('click', 'view', 'signup')),
    pairs AS (
        SELECT t.channel, c.cents,
               0.5 ** ((c.conv_s - t.touch_s) // 604800) AS w
        FROM conv c
        JOIN touch t ON t.user_id = c.user_id
                    AND t.touch_s <= c.conv_s
                    AND t.touch_s > c.conv_s - {ATTR_DECAY_WINDOW_D} * 86400),
    per AS (
        SELECT channel,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               SUM(w) AS credit,
               SUM(w * cents) AS credit_cents
        FROM pairs GROUP BY 1),
    tot AS (SELECT SUM(credit) AS total FROM per)
    SELECT p.channel, p.n_pairs, p.credit, p.credit_cents,
           ROUND(p.credit / t.total, 6) AS credit_share
    FROM per p, tot t
    ORDER BY p.channel
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X339: time-decay multi-touch attribution — every purchase spreads
    credit over ALL the user's touches (click/view/signup) in the prior
    {ATTR_DECAY_WINDOW_D} days with a 7-day half-life, completing the
    attribution family (last-touch X95, position-based X273, Shapley
    X297). The half-life weight is the DYADIC 0.5^(Δ DIV 604800) —
    Δdays under 30 keeps the exponent <= 4, so every weight has at most
    4 fractional bits, every product weight*cents and every partial sum
    is EXACTLY representable in double, and the float SUMs are
    order-free by exactness (no rounding ever happens) — bit-identical
    across engines without rounding discipline; the one inexact float
    is the final share division, rounded 6. Pair generation is a
    user-keyed equi-join band-limited by the window (per-user touches x
    conversions, the asof family's cost envelope, linear after the
    user shuffle at 100 TB). Exponent is integer DIV on epoch
    seconds."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("CAST(FLOOR(unix_timestamp(ts)) AS BIGINT)").alias("ts_s"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_s").alias("conv_s"), "cents"
    )
    touch = ev.filter(
        F.col("event_type").isin("click", "view", "signup")
    ).select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.col("ts_s").alias("touch_s"),
    )
    pairs = conv.join(touch, "user_id").filter(
        (F.col("touch_s") <= F.col("conv_s"))
        & (
            F.col("touch_s")
            > F.col("conv_s") - ATTR_DECAY_WINDOW_D * 86400
        )
    ).select(
        "channel",
        "cents",
        F.pow(
            F.lit(0.5),
            F.expr("(conv_s - touch_s) DIV 604800").cast("double"),
        ).alias("w"),
    )
    per = pairs.groupBy("channel").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("w").alias("credit"),
        F.sum(F.col("w") * F.col("cents")).alias("credit_cents"),
    )
    tot = per.agg(F.sum("credit").alias("total"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "n_pairs",
            "credit",
            "credit_cents",
            F.round(F.col("credit") / F.col("total"), 6).alias(
                "credit_share"
            ),
        )
        .orderBy("channel")
    )
