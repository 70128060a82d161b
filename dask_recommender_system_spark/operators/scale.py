"""Scale-technique operators: the two join strategies that keep a 100 TB
join healthy when AQE alone is not enough — key salting for skew, and
bucketed storage for repeated co-located joins. Both are declared queries
whose RESULTS equal the plain join (oracle-checked), so the techniques are
pinned as semantics-preserving rewrites, not just prose in a README.

The reference never needed either (its datasets fit one machine —
report.pdf §7.1.2 shows what happened when they didn't: workers OOM'd),
but its chunk-grid tuning (models/als.py:53-62, chunk_size 4000/5000) is
the same engineering concern: bound the per-task working set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data import RATINGS_SQL, load_table, ratings_cached
from ..registry import query

N_SALTS = 8


@query(
    "join_salted",
    oracle=f"""
    WITH r AS MATERIALIZED ({RATINGS_SQL})
    SELECT r.item_id,
           p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(r.rating), 6) AS sum_rating
    FROM r JOIN part p ON r.item_id = p.p_partkey
    GROUP BY r.item_id, p.p_brand
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join, result-identical to the plain join (the
    oracle IS the plain join). Fact side: salt = interaction_id % S
    (deterministic — no rand(), so retries and the oracle agree); dim
    side: each row replicated S ways via explode. The join key becomes
    (item_id, salt), splitting a hot item's rows across S tasks. At 100 TB
    this is the manual fallback when AQE's skew splitting can't help —
    e.g. a skewed *aggregation* key or a non-shuffle-joinable build side;
    S scales with observed skew (p99 key count / median)."""
    r = ratings_cached(spark, sf_dir).withColumn(
        "salt", (F.col("interaction_id") % N_SALTS).cast("int")
    )
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("item_id"), "p_brand"
    )
    p_salted = p.withColumn(
        "salt", F.explode(F.array(*[F.lit(s) for s in range(N_SALTS)]))
    )
    return (
        r.join(p_salted, ["item_id", "salt"])
        .groupBy("item_id", "p_brand")
        .agg(F.count("*").alias("n"), F.round(F.sum("rating"), 6).alias("sum_rating"))
    )


SKEW_TOP_K = 20


@query(
    "key_skew_profile",
    oracle=f"""
    WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY user_id),
    t AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM c),
    r AS (SELECT user_id, n,
                 CAST(ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS BIGINT)
                     AS rank
          FROM c)
    SELECT r.rank, r.user_id, r.n,
           ROUND(r.n / t.total, 6) AS share
    FROM r, t WHERE r.rank <= {SKEW_TOP_K}
    """,
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter key profile: the top-{SKEW_TOP_K} join/agg keys by row
    count with their share of the table — the diagnostic that decides
    whether a key needs `join_salted` (or AQE skew splitting) before a
    100 TB shuffle. Plan shape matters here: counts are a map-side-partial
    hash aggregate, the global top-k is orderBy+limit — Spark compiles
    that to TakeOrderedAndProject (per-partition top-k, then a k-row merge
    on one task), NOT a single-partition global sort, so the distinct-key
    table never lands on one executor. The rank window and the one-row
    total join both run on ≤ {SKEW_TOP_K} rows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").cast("double").alias("total"))
    top = counts.orderBy(F.col("n").desc(), "user_id").limit(SKEW_TOP_K)
    # pmod-constant partition: ≤ SKEW_TOP_K rows in one explicit group —
    # avoids the unpartitioned-WindowExec warning (see sort_by_time)
    w = Window.partitionBy(F.pmod(F.col("user_id"), F.lit(1))).orderBy(
        F.col("n").desc(), "user_id"
    )
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "rank",
            "user_id",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
        )
    )


@query(
    "join_bucketed",
    oracle="""
    SELECT o.o_orderkey,
           o.o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(l.l_extendedprice), 6) AS sum_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_custkey
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides written once with
    bucketBy(orderkey) + sortBy, then joined WITHOUT a shuffle — the scan
    partitioning satisfies the join's distribution requirement
    (tests/test_plans.py asserts zero Exchange between the bucketed scans
    and the join). This is the 100 TB answer to a fact⋈fact join both
    sides of which are reused across many queries: pay the shuffle once at
    write time, never again at read time. The result is oracle-identical
    to the plain join."""
    import hashlib

    from .relational import IO_DIR

    n_buckets = 8
    sf_tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        tbl = f"drs_bucketed_{name}_{sf_tag}"
        if not spark.catalog.tableExists(tbl):
            (
                load_table(spark, sf_dir, name)
                .write.mode("overwrite")
                .option("path", f"{IO_DIR}/bucketed/{sf_tag}/{name}")
                .bucketBy(n_buckets, key)
                .sortBy(key)
                .saveAsTable(tbl)
            )
    l = spark.table(f"drs_bucketed_lineitem_{sf_tag}")
    o = spark.table(f"drs_bucketed_orders_{sf_tag}")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", "o_custkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 6).alias("sum_price"),
        )
    )


# --- runtime bloom-style join pruning -----------------------------------
# Single-hash bloom expressed relationally: the build side's occupied
# hash-bucket set (<= BLOOM_M distinct ints, ~1 MB broadcast at any build
# size) prunes the probe side map-side BEFORE its shuffle. Spark's own
# runtime bloom filter (spark.sql.optimizer.runtime.bloomFilter.enabled)
# injects exactly this rewrite when statistics allow; declaring it as an
# operator pins the semantics (result == plain join — no false negatives)
# and keeps it available when the optimizer's thresholds say no.
BLOOM_M = 1 << 17


@query(
    "join_bloom_pruned",
    # revenue in exact integer cents x (100 - basis points): plain
    # SUM(double) diverged at sf0.1 row counts (add-order ULP drift —
    # CORRECTNESS_sf01 find); the integer sum is order-independent
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
                      AS BIGINT) / 10000.0, 6) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F' AND o.o_totalprice > 200000
    GROUP BY o.o_orderpriority
    """,
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X65: bloom-pruned fact⋈dim join, result-identical to the plain join (the
    oracle IS the plain join). Build: the selective orders subset's
    occupied bucket set ``pmod(xxhash64(key), M)`` — bounded at M rows no
    matter how large the build side, unlike a broadcast hash join's full
    relation. Probe: lineitem joins the broadcast bucket set LEFT SEMI on
    its own key hash — a map-side filter that drops ~(1 - n/M) of probe
    rows BEFORE the join shuffle — then the exact equi-join removes the
    false positives. At 100 TB the win is shuffle-volume: only surviving
    probe rows are hashed across the wire. One hash function suffices —
    the exact join makes precision a cost knob, not a correctness one."""
    sel = (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 200000))
        .select("o_orderkey", "o_orderpriority")
    )
    buckets = sel.select(
        F.pmod(F.xxhash64("o_orderkey"), F.lit(BLOOM_M)).alias("_b")
    ).distinct()
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    pruned = l.withColumn(
        "_b", F.pmod(F.xxhash64("l_orderkey"), F.lit(BLOOM_M))
    ).join(F.broadcast(buckets), "_b", "left_semi")
    rev_e4 = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        pruned.join(sel, pruned["l_orderkey"] == sel["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum(rev_e4) / 10000.0, 6).alias("revenue"),
        )
    )


# --- Misra-Gries heavy hitters ------------------------------------------
# Threshold: a key is heavy iff freq * HH_K > total (share > 1/HH_K).
# Per-partition Misra-Gries with HH_CAP counters keeps every key whose
# partition share exceeds 1/(HH_CAP+1); by pigeonhole a globally-heavy key
# is partition-heavy somewhere, so with HH_CAP >= HH_K the candidate union
# is a guaranteed superset — the exact recount then yields EXACTLY the
# true heavy-hitter set, which is why a sketch op can have a plain-SQL
# oracle. The synthetic ratings are near-uniform (TPC-H parts), so the
# query plants deterministic skew first — 3/4 of the mass collapses onto
# 16 hot keys — the same planted-fixture pattern text_pii_redact uses.
HH_K = 50
HH_CAP = 64
_HH_SKEW = "CASE WHEN user_id % 4 = 0 THEN item_id ELSE item_id % 16 END"


@query(
    "heavy_hitters",
    oracle=f"""
    WITH r AS MATERIALIZED ({RATINGS_SQL}),
    s AS (SELECT {_HH_SKEW} AS key FROM r),
    t AS (SELECT COUNT(*) AS total FROM s)
    SELECT s.key, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM s CROSS JOIN t
    GROUP BY s.key, t.total
    HAVING COUNT(*) * {HH_K} > t.total
    """,
)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X66: Misra-Gries heavy hitters (share > 1/HH_K) — candidate-then-verify,
    the same two-phase shape as the dedup family: a bounded in-memory
    sketch per partition (HH_CAP counters, Arrow-batched) emits candidate
    keys, then ONE keyed exact recount over the broadcast candidate set
    confirms. Why not a plain groupBy? At 100 TB a full (key, count)
    aggregate materializes |keys| rows ACROSS the shuffle to find the top
    handful; here the shuffle carries only |partitions| × HH_CAP candidate
    rows plus the recount of candidate-matching rows — the standard
    streaming-sketch trade, with exactness restored by the verify pass
    (see module comment for the superset guarantee)."""
    import pandas as pd

    r = ratings_cached(spark, sf_dir).select(F.expr(_HH_SKEW).alias("key"))

    def mg(batches):
        counters: dict[int, int] = {}
        for pdf in batches:
            for k, c in pdf["key"].value_counts().items():
                counters[k] = counters.get(int(k), 0) + int(c)
                if len(counters) > HH_CAP:
                    d = min(counters.values())
                    counters = {
                        k2: c2 - d for k2, c2 in counters.items() if c2 > d
                    }
        yield pd.DataFrame({"key": list(counters.keys())}, dtype="int64")

    cand = r.mapInPandas(mg, "key long").distinct()
    total = r.agg(F.count("*").alias("_total"))
    return (
        r.join(F.broadcast(cand), "key", "left_semi")
        .groupBy("key")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * HH_K > F.col("_total"))
        .select("key", "cnt")
    )


GEO_SPAN = 1_000_000  # synthetic plane: integer micro-units per axis
GEO_R = 200_000  # search radius (= grid cell size, so 3x3 covers R)
GEO_K = 3  # neighbors kept per customer


@query(
    "geo_grid_knn",
    oracle=f"""
    WITH c AS (
        SELECT c_custkey,
               CAST(list_sum(list_transform(range(15), i -> (strpos('0123456789abcdef', substr(md5('gx:' || c_custkey), CAST(i + 1 AS INT), 1)) - 1) * [72057594037927936, 4503599627370496, 281474976710656, 17592186044416, 1099511627776, 68719476736, 4294967296, 268435456, 16777216, 1048576, 65536, 4096, 256, 16, 1][i + 1])) AS BIGINT) % {GEO_SPAN} AS cx,
               CAST(list_sum(list_transform(range(15), i -> (strpos('0123456789abcdef', substr(md5('gy:' || c_custkey), CAST(i + 1 AS INT), 1)) - 1) * [72057594037927936, 4503599627370496, 281474976710656, 17592186044416, 1099511627776, 68719476736, 4294967296, 268435456, 16777216, 1048576, 65536, 4096, 256, 16, 1][i + 1])) AS BIGINT) % {GEO_SPAN} AS cy
        FROM customer),
    s AS (
        SELECT s_suppkey,
               CAST(list_sum(list_transform(range(15), i -> (strpos('0123456789abcdef', substr(md5('sx:' || s_suppkey), CAST(i + 1 AS INT), 1)) - 1) * [72057594037927936, 4503599627370496, 281474976710656, 17592186044416, 1099511627776, 68719476736, 4294967296, 268435456, 16777216, 1048576, 65536, 4096, 256, 16, 1][i + 1])) AS BIGINT) % {GEO_SPAN} AS sx,
               CAST(list_sum(list_transform(range(15), i -> (strpos('0123456789abcdef', substr(md5('sy:' || s_suppkey), CAST(i + 1 AS INT), 1)) - 1) * [72057594037927936, 4503599627370496, 281474976710656, 17592186044416, 1099511627776, 68719476736, 4294967296, 268435456, 16777216, 1048576, 65536, 4096, 256, 16, 1][i + 1])) AS BIGINT) % {GEO_SPAN} AS sy
        FROM supplier),
    pairs AS (
        SELECT c_custkey, s_suppkey,
               CAST((cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)
                    AS BIGINT) AS d2
        FROM c, s
        WHERE (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)
              <= CAST({GEO_R} AS BIGINT) * {GEO_R}),
    r AS (
        SELECT c_custkey, s_suppkey, d2,
               ROW_NUMBER() OVER (PARTITION BY c_custkey
                                  ORDER BY d2, s_suppkey) AS rnk
        FROM pairs)
    SELECT c_custkey, CAST(rnk AS BIGINT) AS rank, s_suppkey, d2
    FROM r WHERE rnk <= {GEO_K}
    ORDER BY c_custkey, rank
    """,
)
def geo_grid_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X292: grid-bucketed spatial k-nearest-neighbors — the third
    bucketing strategy of the scale family (join_salted: skew,
    join_bucketed: co-location, here: SPACE). Radius-limited kNN
    (nearest {GEO_K} suppliers within R of each customer) over a
    synthetic integer plane whose coordinates derive from the portable
    h60 hash, so the oracle rebuilds the exact geometry. The scale
    move: cell size = R, supplier side exploded into its 3x3 cell
    neighborhood (9 rows), customer side keyed on its ONE cell — an
    EQUI-join on (cell_x, cell_y) that PROVABLY contains every pair
    within R (any point at distance <= R lies within one cell step),
    so the grid join is exact, not approximate — the oracle checks it
    against the naive all-pairs filter. Distances are exact BIGINT
    squared micro-units (no sqrt, no float anywhere); ties break on
    supplier key. Pinned (tests): some customers have ZERO suppliers
    in range (empty-neighborhood branch fires), per-customer ranks are
    dense from 1, and every emitted d2 <= R^2. At 100 TB both sides
    are data-sized: the join stays keyed on cells (shuffle ~9x the
    supplier side, bounded fan-out), per-customer top-k is a keyed
    window — the BucketedRandomProjectionLSH shape with exactness the
    hash family cannot give."""
    from .dedup import h60_spark

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.pmod(
            h60_spark(F.concat(F.lit("gx:"), F.col("c_custkey").cast("string"))),
            F.lit(GEO_SPAN),
        ).alias("cx"),
        F.pmod(
            h60_spark(F.concat(F.lit("gy:"), F.col("c_custkey").cast("string"))),
            F.lit(GEO_SPAN),
        ).alias("cy"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.pmod(
            h60_spark(F.concat(F.lit("sx:"), F.col("s_suppkey").cast("string"))),
            F.lit(GEO_SPAN),
        ).alias("sx"),
        F.pmod(
            h60_spark(F.concat(F.lit("sy:"), F.col("s_suppkey").cast("string"))),
            F.lit(GEO_SPAN),
        ).alias("sy"),
    )
    # supplier exploded into its 3x3 cell neighborhood: offset index
    # o in 0..8 decodes to (o % 3 - 1, o DIV 3 - 1)
    s9 = supp.withColumn(
        "o", F.explode(F.sequence(F.lit(0), F.lit(8)))
    ).select(
        "s_suppkey",
        "sx",
        "sy",
        (F.expr(f"sx DIV {GEO_R}") + (F.col("o") % 3 - 1)).alias("cell_x"),
        (F.expr(f"sy DIV {GEO_R}") + F.expr("o DIV 3") - 1).alias("cell_y"),
    )
    c_cells = cust.select(
        "c_custkey",
        "cx",
        "cy",
        F.expr(f"cx DIV {GEO_R}").alias("cell_x"),
        F.expr(f"cy DIV {GEO_R}").alias("cell_y"),
    )
    d2 = (F.col("cx") - F.col("sx")) * (F.col("cx") - F.col("sx")) + (
        F.col("cy") - F.col("sy")
    ) * (F.col("cy") - F.col("sy"))
    from pyspark.sql import Window as W

    wk = W.partitionBy("c_custkey").orderBy("d2", "s_suppkey")
    return (
        c_cells.join(s9, ["cell_x", "cell_y"])
        .select(
            "c_custkey",
            "s_suppkey",
            d2.cast("long").alias("d2"),
        )
        .filter(F.col("d2") <= GEO_R * GEO_R)
        .withColumn("rank", F.row_number().over(wk).cast("long"))
        .filter(F.col("rank") <= GEO_K)
        .select("c_custkey", "rank", "s_suppkey", "d2")
        .orderBy("c_custkey", "rank")
    )


@query(
    "user_segment_bitmaps",
    oracle="""
    WITH seg AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS buyer,
               MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   AS err,
               MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                   AS signup
        FROM events GROUP BY 1),
    words AS (
        SELECT user_id // 63 AS word_idx,
               CAST(SUM(CASE WHEN buyer = 1
                             THEN (CAST(1 AS BIGINT) << (user_id % 63))
                             ELSE 0 END) AS BIGINT) AS w_buyer,
               CAST(SUM(CASE WHEN err = 1
                             THEN (CAST(1 AS BIGINT) << (user_id % 63))
                             ELSE 0 END) AS BIGINT) AS w_err,
               CAST(SUM(CASE WHEN signup = 1
                             THEN (CAST(1 AS BIGINT) << (user_id % 63))
                             ELSE 0 END) AS BIGINT) AS w_signup
        FROM seg GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(bit_count(w_buyer)) AS BIGINT) AS buyers,
           CAST(SUM(bit_count(w_err)) AS BIGINT) AS erroring,
           CAST(SUM(bit_count(w_signup)) AS BIGINT) AS signups,
           CAST(SUM(bit_count(w_buyer & w_err)) AS BIGINT)
               AS buyer_and_err,
           CAST(SUM(bit_count(w_buyer | w_err)) AS BIGINT)
               AS buyer_or_err,
           CAST(SUM(bit_count(w_buyer & w_signup)) AS BIGINT)
               AS buyer_and_signup,
           CAST(SUM(bit_count(xor(w_buyer, w_err))) AS BIGINT)
               AS buyer_xor_err,
           ROUND(CAST(SUM(bit_count(w_buyer & w_err)) AS DOUBLE)
                 / SUM(bit_count(w_buyer | w_err)), 6)
               AS jaccard_buyer_err
    FROM words
    """,
)
def user_segment_bitmaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X336: bitmap-index segment algebra — the audience-overlap
    technique OLAP engines (Druid/Pinot/ClickHouse) use at scale:
    encode each behavioral segment as a bitmap over the user-id space
    (63 users per BIGINT word — bit 63 is the sign bit, and DuckDB
    refuses 1<<63 on signed integers while Spark would wrap silently,
    so both engines stay in the 0..62 shift range; word_idx = uid DIV
    63, bit = uid MOD 63), then set operations become BITWISE
    AND/OR/XOR on co-keyed
    words and cardinalities become popcounts — segment intersection
    never touches user rows again. Everything is integer (shifts,
    masks, bit_count); the single float is the final Jaccard division,
    rounded 6. Plan: one user rollup -> one word_idx rollup (63x
    compression) -> one popcount reduce; at 100 TB the bitmap table is
    |users|/63 rows co-partitioned on word_idx, and ANY boolean
    audience query over the registered segments is a map-side bitwise
    expression over it — the point of the structure. The oracle
    rebuilds the same words in DuckDB (identical shift
    semantics for shifts <= 62)."""
    ev = load_table(spark, sf_dir, "events")
    seg = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("buyer"),
        F.max(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("err"),
        F.max(
            F.when(F.col("event_type") == "signup", 1).otherwise(0)
        ).alias("signup"),
    )
    bit = F.expr("SHIFTLEFT(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))")
    words = seg.groupBy(
        F.expr("user_id DIV 63").alias("word_idx")
    ).agg(
        F.sum(F.when(F.col("buyer") == 1, bit).otherwise(0))
        .cast("long")
        .alias("w_buyer"),
        F.sum(F.when(F.col("err") == 1, bit).otherwise(0))
        .cast("long")
        .alias("w_err"),
        F.sum(F.when(F.col("signup") == 1, bit).otherwise(0))
        .cast("long")
        .alias("w_signup"),
    )
    pc = lambda e: F.expr(f"bit_count({e})")  # noqa: E731
    return words.agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum(pc("w_buyer")).cast("long").alias("buyers"),
        F.sum(pc("w_err")).cast("long").alias("erroring"),
        F.sum(pc("w_signup")).cast("long").alias("signups"),
        F.sum(pc("w_buyer & w_err")).cast("long").alias("buyer_and_err"),
        F.sum(pc("w_buyer | w_err")).cast("long").alias("buyer_or_err"),
        F.sum(pc("w_buyer & w_signup"))
        .cast("long")
        .alias("buyer_and_signup"),
        F.sum(pc("w_buyer ^ w_err")).cast("long").alias("buyer_xor_err"),
        F.round(
            F.sum(pc("w_buyer & w_err")).cast("double")
            / F.sum(pc("w_buyer | w_err")),
            6,
        ).alias("jaccard_buyer_err"),
    )


JCE_MOD = 16  # 1/16 deterministic sample on the JOIN KEY


@query(
    "join_cardinality_estimate",
    oracle=f"""
    WITH lk AS (
        SELECT l_orderkey AS k FROM lineitem),
    ok AS (
        SELECT o_orderkey AS k FROM orders),
    exact AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM lk JOIN ok USING (k)),
    sl AS (SELECT k FROM lk WHERE k % {JCE_MOD} = 0),
    so AS (SELECT k FROM ok WHERE k % {JCE_MOD} = 0),
    samp AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM sl JOIN so USING (k))
    SELECT e.n AS exact_rows,
           s.n AS sampled_rows,
           CAST(s.n * {JCE_MOD} AS BIGINT) AS estimate,
           ROUND(ABS(CAST(s.n * {JCE_MOD} - e.n AS DOUBLE)) / e.n, 6)
               AS rel_error
    FROM exact e, samp s
    """,
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X343: join-cardinality estimation by correlated key sampling —
    the planner technique behind join reordering decisions, pinned as a
    checkable query: sample BOTH sides on the SAME key predicate
    (k % {JCE_MOD} = 0 — correlated sampling keeps matching pairs
    together, unlike independent row sampling which breaks joins), join
    the samples, scale by {JCE_MOD} (one factor, not squared, because
    key-correlated sampling thins the key domain once). For an
    FK-PK join the estimate is EXACT on expectation and its error is
    the key-domain sampling noise (the test gates rel_error). All
    counts exact BIGINT; the one float is the relative error, rounded
    6. At 100 TB this runs on a fraction 1/{JCE_MOD} of the shuffle a
    real join would pay — the point of the technique; the hash
    predicate pushes to both scans (no full-table read, plan-visible
    PushedFilters)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    exact = li.join(o, "k").agg(
        F.count("*").cast("long").alias("exact_rows")
    )
    samp = (
        li.filter(F.col("k") % JCE_MOD == 0)
        .join(o.filter(F.col("k") % JCE_MOD == 0), "k")
        .agg(F.count("*").cast("long").alias("sampled_rows"))
    )
    return exact.crossJoin(F.broadcast(samp)).select(
        "exact_rows",
        "sampled_rows",
        (F.col("sampled_rows") * JCE_MOD).cast("long").alias("estimate"),
        F.round(
            F.abs(
                (F.col("sampled_rows") * JCE_MOD - F.col("exact_rows"))
                .cast("double")
            )
            / F.col("exact_rows"),
            6,
        ).alias("rel_error"),
    )


BLOOM_AUDIT_M = 65536

_H60_KEY = (
    "CAST(list_sum(list_transform(range(15), i -> "
    "(strpos('0123456789abcdef', substr(md5('bf:' || {col}), "
    "CAST(i + 1 AS INT), 1)) - 1) * [72057594037927936, "
    "4503599627370496, 281474976710656, 17592186044416, 1099511627776, "
    "68719476736, 4294967296, 268435456, 16777216, 1048576, 65536, "
    "4096, 256, 16, 1][i + 1])) AS BIGINT)"
)


@query(
    "bloom_fpr_audit",
    oracle=f"""
    WITH build AS (
        SELECT DISTINCT o_orderkey AS k FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice > 200000),
    occ AS (
        SELECT DISTINCT {_H60_KEY.format(col='k')} % {BLOOM_AUDIT_M} AS b
        FROM build),
    probe AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
    j AS (
        SELECT p.k,
               CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END AS is_true,
               CASE WHEN o.b IS NOT NULL THEN 1 ELSE 0 END AS passed
        FROM probe p
        LEFT JOIN build b ON b.k = p.k
        LEFT JOIN occ o
          ON o.b = {_H60_KEY.format(col='p.k')} % {BLOOM_AUDIT_M})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
           CAST(SUM(is_true) AS BIGINT) AS n_true,
           CAST(SUM(passed) AS BIGINT) AS n_passed,
           CAST(SUM(CASE WHEN passed = 1 AND is_true = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN passed = 0 AND is_true = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM occ) AS n_occupied,
           ROUND(CAST(SUM(CASE WHEN passed = 1 AND is_true = 0
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / (COUNT(*) - SUM(is_true)), 6) AS measured_fpr,
           ROUND(CAST((SELECT COUNT(*) FROM occ) AS DOUBLE)
                 / {BLOOM_AUDIT_M}, 6) AS occupancy
    FROM j
    """,
)
def bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X356: bloom-filter false-positive audit — the measurement that
    sizes the X65 structure (join_bloom_pruned treats precision as a
    cost knob; this op MEASURES the knob): build a single-hash bloom
    over the selective orders subset (bucket = md5-h60(key) mod
    {BLOOM_AUDIT_M} — portable, unlike xxhash64, so the oracle rebuilds
    the identical filter), probe every distinct lineitem key, and
    report measured FPR against the occupancy (for a single-hash bloom
    the theoretical FPR IS the occupancy — the test pins |measured -
    occupancy| small, and ZERO false negatives, the bloom contract).
    All counts exact BIGINT from keyed joins (probe keys against the
    build set and the broadcast-sized occupied-bucket set); the two
    ratios are single divisions, rounded 6. At 100 TB this audit runs
    at the cost of one probe-side scan — the operational answer to
    'is M big enough for this build side'."""
    from .dedup import h60_spark

    build = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_totalprice") > 200000)
        )
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    hb = lambda c: F.pmod(  # noqa: E731
        h60_spark(F.concat(F.lit("bf:"), c.cast("string"))),
        F.lit(BLOOM_AUDIT_M),
    )
    occ = build.select(hb(F.col("k")).alias("b")).distinct()
    probe = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("k"))
        .distinct()
    )
    j = (
        probe.join(
            build.withColumn("is_true", F.lit(1)), "k", "left"
        )
        .withColumn("b", hb(F.col("k")))
        .join(
            F.broadcast(occ.withColumn("passed", F.lit(1))), "b", "left"
        )
        .select(
            F.coalesce("is_true", F.lit(0)).alias("is_true"),
            F.coalesce("passed", F.lit(0)).alias("passed"),
        )
    )
    n_occ = occ.agg(F.count("*").cast("long").alias("n_occupied"))
    return (
        j.agg(
            F.count("*").cast("long").alias("n_probe"),
            F.sum("is_true").cast("long").alias("n_true"),
            F.sum("passed").cast("long").alias("n_passed"),
            F.sum(
                F.when(
                    (F.col("passed") == 1) & (F.col("is_true") == 0), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_false_pos"),
            F.sum(
                F.when(
                    (F.col("passed") == 0) & (F.col("is_true") == 1), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_false_neg"),
        )
        .crossJoin(F.broadcast(n_occ))
        .select(
            "n_probe",
            "n_true",
            "n_passed",
            "n_false_pos",
            "n_false_neg",
            "n_occupied",
            F.round(
                F.col("n_false_pos").cast("double")
                / (F.col("n_probe") - F.col("n_true")),
                6,
            ).alias("measured_fpr"),
            F.round(
                F.col("n_occupied").cast("double") / BLOOM_AUDIT_M, 6
            ).alias("occupancy"),
        )
    )
