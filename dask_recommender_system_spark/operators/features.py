"""Feature-engineering operators (SURVEY.md §2.9 round-3 additions
X106-X108): smoothed target encoding, hashing-trick feature
vectorization, and the leave-one-out next-item split.

These are the standard preprocessing steps between the reference's raw
ratings tables and a trainable feature matrix — the pipeline stage the
reference jumps over by training directly on the user x item matrix
(reference/models/als.py:48-66). Shapes chosen for 100 TB:

- target encoding is one keyed agg + a 1-row global-mean broadcast —
  the encoding table is |categories|, never row-sized;
- feature hashing is a narrow in-row projection (md5 -> bucket/sign,
  all JVM expression chains), then one keyed agg over (entity, bucket);
  the hash space is fixed at FH_BUCKETS, so downstream width is bounded
  no matter how many distinct raw categories 100 TB brings;
- the next-item split is one user-keyed ranking window — the same
  dedup_keep_last machinery pointed at evaluation instead of cleaning.

Hashing portability: bucket and sign derive from md5 hex prefixes —
md5 is bit-identical in Spark (`F.md5`) and DuckDB (`md5()`), so the
DuckDB oracles reproduce the exact bucket assignment (`F.conv(hex, 16,
10)` <-> `CAST('0x' || hex AS BIGINT)`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..data import RATINGS_SQL, load_table, ratings_cached
from ..registry import query

TE_SMOOTHING = 10  # pseudo-count m in (sum + m*mu) / (n + m)


@query(
    "target_encoding",
    oracle=f"""
    WITH r AS MATERIALIZED ({RATINGS_SQL}),
    mu AS (SELECT AVG(rating) AS mu FROM r)
    SELECT item_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND((SUM(rating) + {TE_SMOOTHING} * ANY_VALUE(mu.mu))
                 / (COUNT(*) + {TE_SMOOTHING}), 6) AS te
    FROM r CROSS JOIN mu
    GROUP BY item_id
    """,
)
def target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X106: smoothed mean target encoding — each item's rating mean
    shrunk toward the global mean with TE_SMOOTHING pseudo-counts,
    te = (sum_r + m*mu) / (n + m); the classic high-cardinality
    categorical encoder (the empirical-Bayes shrinkage also used by
    CatBoost-style encoders, computed globally here). One item-keyed agg
    + a 1-row global-mean broadcast: the output is the |items| encoding
    table a feature join consumes — rare items sit near mu, popular
    items near their own mean, and no category ever produces a NaN."""
    r = ratings_cached(spark, sf_dir)
    mu = r.agg(F.avg("rating").alias("mu"))
    return (
        r.crossJoin(F.broadcast(mu))
        .groupBy("item_id")
        .agg(
            F.count("*").alias("n"),
            F.round(
                (F.sum("rating") + TE_SMOOTHING * F.any_value("mu"))
                / (F.count("*") + TE_SMOOTHING),
                6,
            ).alias("te"),
        )
    )


FH_BUCKETS = 256  # fixed hash-feature space width


@query(
    "feature_hashing",
    oracle=f"""
    WITH feats AS (
        SELECT p_partkey, UNNEST([
            'brand=' || p_brand,
            'type=' || p_type,
            'size=' || CAST(p_size AS VARCHAR)
        ]) AS feat
        FROM part),
    h AS (SELECT p_partkey,
                 CAST('0x' || substr(md5(feat), 1, 8) AS BIGINT)
                     % {FH_BUCKETS} AS bucket,
                 CASE WHEN CAST('0x' || substr(md5(feat), 9, 1) AS BIGINT) % 2 = 0
                      THEN 1 ELSE -1 END AS sign
          FROM feats)
    SELECT p_partkey, bucket, CAST(SUM(sign) AS BIGINT) AS val
    FROM h GROUP BY p_partkey, bucket
    """,
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X107: hashing-trick feature vectorization (Weinberger et al. 2009)
    of the part dimension's categorical attributes into a fixed
    FH_BUCKETS-wide signed sparse space: bucket = md5(feat)[0:8] mod B,
    sign = parity of the next hex nibble (the collision-debiasing signed
    variant). Output is sparse COO triples (entity, bucket, val) — the
    join-ready shape, never a dense vector column. Entirely narrow
    in-row JVM expression work (md5/substr/conv) plus ONE keyed agg;
    the feature space stays FH_BUCKETS-wide at any input cardinality,
    which is the whole point of the trick at 100 TB: no vocabulary
    build, no OOV, no second pass."""
    p = load_table(spark, sf_dir, "part")
    feats = p.select(
        "p_partkey",
        F.explode(
            F.array(
                F.concat(F.lit("brand="), F.col("p_brand")),
                F.concat(F.lit("type="), F.col("p_type")),
                F.concat(F.lit("size="), F.col("p_size").cast("string")),
            )
        ).alias("feat"),
    )
    h_hex = F.md5(F.col("feat"))
    bucket = F.conv(F.substring(h_hex, 1, 8), 16, 10).cast("long") % FH_BUCKETS
    sign = F.when(
        F.conv(F.substring(h_hex, 9, 1), 16, 10).cast("long") % 2 == 0, 1
    ).otherwise(-1)
    return (
        feats.select("p_partkey", bucket.alias("bucket"), sign.alias("sign"))
        .groupBy("p_partkey", "bucket")
        .agg(F.sum("sign").alias("val"))
    )


@query(
    "split_next_item",
    oracle=f"""
    WITH r AS MATERIALIZED ({RATINGS_SQL}),
    w AS (SELECT user_id, item_id, interaction_id,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, interaction_id DESC,
                                             item_id DESC) AS rn,
                 COUNT(*) OVER (PARTITION BY user_id) AS cnt
          FROM r)
    SELECT user_id, item_id AS test_item, interaction_id,
           CAST(cnt - 1 AS BIGINT) AS n_train
    FROM w WHERE rn = 1 AND cnt >= 2
    """,
)
def split_next_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X108: leave-one-out next-item split — each user's single most
    recent interaction becomes the test target, everything earlier is
    training history (the standard next-item evaluation protocol for
    sequential recommenders; users with one interaction are dropped
    because they have no history to predict from). One user-keyed
    ranking window carrying the per-user count — same machinery as
    dedup_keep_last (D2), repointed from cleaning to evaluation, so the
    cost is one keyed shuffle regardless of scale. Deterministic
    tiebreak on interaction_id keeps the split stable across runs and
    engines."""
    r = ratings_cached(spark, sf_dir)
    # item_id closes the order: planted duplicate interaction_ids can
    # share ts with a different item, which would make rn=1 ambiguous
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("interaction_id").desc(),
        F.col("item_id").desc()
    )
    wc = W.partitionBy("user_id")
    return (
        r.withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count("*").over(wc))
        .filter((F.col("rn") == 1) & (F.col("cnt") >= 2))
        .select(
            "user_id",
            F.col("item_id").alias("test_item"),
            "interaction_id",
            (F.col("cnt") - 1).cast("long").alias("n_train"),
        )
    )


@query(
    "feature_minmax_scale",
    oracle="""
    WITH s AS (
        SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders)
    SELECT o_orderkey,
           ROUND((o_totalprice - lo) / (hi - lo), 6) AS price_scaled,
           CAST(o_totalprice = lo AS BOOLEAN) AS is_min,
           CAST(o_totalprice = hi AS BOOLEAN) AS is_max
    FROM orders CROSS JOIN s
    """,
)
def feature_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max scaling to [0, 1] — the bounded-range normalizer next to
    the family's winsorize (clamp), binning (discretize) and
    target-encoding (supervised) entries: one 1-row (min, max) broadcast
    and a narrow affine map, the two-pass broadcast shape at its
    simplest. The is_min/is_max witnesses pin that the endpoints land
    exactly on 0 and 1 (an off-by-ulp range computation shows up there
    first). At 100 TB the caveat is the same as every min-max: a single
    outlier owns the range — which is why `feature_winsorize` usually
    runs FIRST."""
    o = load_table(spark, sf_dir, "orders")
    s = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    return o.crossJoin(F.broadcast(s)).select(
        "o_orderkey",
        F.round(
            (F.col("o_totalprice") - F.col("lo")) / (F.col("hi") - F.col("lo")),
            6,
        ).alias("price_scaled"),
        (F.col("o_totalprice") == F.col("lo")).alias("is_min"),
        (F.col("o_totalprice") == F.col("hi")).alias("is_max"),
    )


WOE_BIN_CENTS = 2_500_000  # $25k-wide totalprice bins (exact integer cut)


@query(
    "woe_iv_binning",
    oracle=f"""
    WITH lab AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // {WOE_BIN_CENTS}
                   AS bin,
               CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS good
        FROM orders),
    b AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(good) AS BIGINT) AS n_good,
               CAST(COUNT(*) - SUM(good) AS BIGINT) AS n_bad
        FROM lab GROUP BY 1),
    t AS (
        SELECT CAST(SUM(n_good) AS BIGINT) AS tot_good,
               CAST(SUM(n_bad) AS BIGINT) AS tot_bad,
               CAST(COUNT(*) AS BIGINT) AS n_bins
        FROM b)
    SELECT bin, n, n_good, n_bad,
           ROUND(LN(CAST(n_good + 1 AS DOUBLE)) - LN(CAST(tot_good + n_bins AS DOUBLE))
                 - LN(CAST(n_bad + 1 AS DOUBLE)) + LN(CAST(tot_bad + n_bins AS DOUBLE)),
                 6) AS woe,
           ROUND((CAST(n_good + 1 AS DOUBLE) / (tot_good + n_bins)
                  - CAST(n_bad + 1 AS DOUBLE) / (tot_bad + n_bins))
                 * (LN(CAST(n_good + 1 AS DOUBLE)) - LN(CAST(tot_good + n_bins AS DOUBLE))
                    - LN(CAST(n_bad + 1 AS DOUBLE)) + LN(CAST(tot_bad + n_bins AS DOUBLE))),
                 6) AS iv_contrib
    FROM b CROSS JOIN t
    ORDER BY bin
    """,
)
def woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X259: Weight-of-Evidence / Information-Value binning — the credit-
    scoring-standard monotonic feature screen: bucket a continuous
    feature (order totalprice, fixed $25k integer-cent cuts so the cut
    itself has no float surface), and per bin report WoE = ln of the
    Laplace-smoothed good/bad share ratio plus its IV contribution
    ((g%−b%)·WoE, the summand of the classic screening statistic).
    Complements target_encoding (X106: posterior means) and
    mutual_information_screen (X133: MI) with the log-odds view.
    Determinism: counts are exact integers; every log argument is an
    exact integer widened to double once, and the four-term ln sum is a
    fixed expression tree evaluated identically by both engines before
    a single ROUND — no cross-row float sums anywhere (total IV is
    deliberately per-bin, the reader sums rounded contributions).
    Scale: one keyed agg on the bin id (map-side combinable), a 1-row
    totals broadcast, and scalar projection — a constant two-shuffle
    plan regardless of fact size."""
    lab = load_table(spark, sf_dir, "orders").select(
        F.expr(
            f"CAST(ROUND(o_totalprice * 100) AS BIGINT) DIV {WOE_BIN_CENTS}"
        ).alias("bin"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("good"),
    )
    b = lab.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("good").alias("n_good"),
        (F.count("*") - F.sum("good")).alias("n_bad"),
    )
    t = b.agg(
        F.sum("n_good").alias("tot_good"),
        F.sum("n_bad").alias("tot_bad"),
        F.count("*").alias("n_bins"),
    )
    j = b.crossJoin(F.broadcast(t))
    woe = (
        F.log((F.col("n_good") + 1).cast("double"))
        - F.log((F.col("tot_good") + F.col("n_bins")).cast("double"))
        - F.log((F.col("n_bad") + 1).cast("double"))
        + F.log((F.col("tot_bad") + F.col("n_bins")).cast("double"))
    )
    share_gap = (F.col("n_good") + 1).cast("double") / (
        F.col("tot_good") + F.col("n_bins")
    ) - (F.col("n_bad") + 1).cast("double") / (
        F.col("tot_bad") + F.col("n_bins")
    )
    return j.select(
        "bin",
        "n",
        "n_good",
        "n_bad",
        F.round(woe, 6).alias("woe"),
        F.round(share_gap * woe, 6).alias("iv_contrib"),
    ).orderBy("bin")


@query(
    "feature_robust_scale",
    oracle="""
    WITH s AS (
        SELECT event_type,
               ROUND(quantile_cont(value, 0.5), 6) AS med,
               ROUND(quantile_cont(value, 0.75)
                     - quantile_cont(value, 0.25), 6) AS iqr
        FROM events GROUP BY 1)
    SELECT e.event_id, e.event_type,
           ROUND((e.value - s.med) / s.iqr, 6) AS value_scaled,
           s.med AS grp_median, s.iqr AS grp_iqr
    FROM events e JOIN s ON e.event_type = s.event_type
    ORDER BY e.event_id
    """,
)
def feature_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X274: robust scaling — (x − median) / IQR per event-type group,
    sklearn RobustScaler's formula: the outlier-immune normalizer that
    min-max (X230) and z-scores lack (one fat-tailed value moves mean,
    min and max, but not the quartiles). Completes the feature-prep
    ladder: winsorize (clamp) → robust-scale (normalize) → binning
    (discretize). Cross-engine float discipline: the per-group median
    and IQR are ROUNDED TO 6 DECIMALS BEFORE use (the shared-constant
    rule — Spark percentile vs DuckDB quantile_cont may differ in the
    last ulp, but both land on the same 6dp constant; ADVICE r03's
    trimmed-mean lesson), then the affine map is bit-identical. Plan:
    one map-combinable per-type quantile agg to |types| rows, broadcast
    back over the scan — two exchanges at any volume."""
    from ..data import load_table

    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("grp_median"),
        F.round(
            F.expr("percentile(value, 0.75) - percentile(value, 0.25)"), 6
        ).alias("grp_iqr"),
    )
    return (
        ev.join(F.broadcast(s), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(
                (F.col("value") - F.col("grp_median")) / F.col("grp_iqr"), 6
            ).alias("value_scaled"),
            "grp_median",
            "grp_iqr",
        )
        .orderBy("event_id")
    )
