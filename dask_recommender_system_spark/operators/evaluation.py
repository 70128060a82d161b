"""Model-evaluation and statistical-testing operators (SURVEY.md §2.9
round-3 additions X97-X102): ranking metrics (HitRate/Precision/Recall/
MRR/NDCG@k), rank-sum ROC AUC, calibration (reliability) bins, Welch's
t-test, two-sample Kolmogorov-Smirnov drift, and Mann-Whitney U.

The reference pipeline evaluates its recommender with pointwise RMSE/MAE
(reference/models/als.py:216-231); these are the ranking-quality and
experiment-analysis reports a team running that pipeline computes next,
over the same ratings/events data. Everything is expressed in the shapes
that survive 100 TB:

- per-user ranking windows are keyed on ``u_idx`` (never a global sort);
- global cumulative distributions (AUC, KS) use a two-level cumsum — a
  keyed within-bucket running sum plus a bucket-offset window over the
  bounded bucket table — the windowed twin of the block-offset encoder
  (``models/common.py:21``), so no unpartitioned data-sized window ever
  appears in a plan;
- the hypothesis tests (Welch, Mann-Whitney) are pure moment/rank-count
  aggregates: one keyed shuffle to a tiny stats table, scalar math after.

Predictions reuse the deterministic hash-init k=2 model every epoch
operator shares (``models/common.py:105``), so the whole eval family is
value-checkable against DuckDB oracles.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..models.common import hash_uniform
from ..registry import query
from ..data import RATINGS_SQL, load_table
from .linalg import ENCODED_SQL, _init_sql, encoded_ratings

RANK_K = 10  # @k cutoff for the ranking-metrics report
REL_THRESHOLD = 4.0  # rating >= 4 counts as relevant / positive

# Cumulative ideal DCG for m = 1..RANK_K relevant items: Σ_{i<=m} 1/log2(i+1).
# Embedded as decimal literals in BOTH engines — each parses to the same
# nearest double, so NDCG denominators are bit-identical.
IDCG = []
_acc = 0.0
for _i in range(1, RANK_K + 1):
    _acc += 1.0 / math.log2(_i + 1)
    IDCG.append(_acc)


def _pred_expr() -> F.Column:
    """The shared deterministic k=2 hash-init model (same formula as
    decile_lift_table): bu + bi + p·q over two factors."""
    return (
        hash_uniform(F.col("u_idx"), 99, 0.01, 1)
        + hash_uniform(F.col("i_idx"), 99, 0.01, 2)
        + hash_uniform(F.col("u_idx"), 0, 0.1, 1)
        * hash_uniform(F.col("i_idx"), 0, 0.1, 2)
        + hash_uniform(F.col("u_idx"), 1, 0.1, 1)
        * hash_uniform(F.col("i_idx"), 1, 0.1, 2)
    )


_PRED_SQL = (
    f"({_init_sql('u_idx', 99, 1, 0.01)}) + ({_init_sql('i_idx', 99, 2, 0.01)})"
    f" + ({_init_sql('u_idx', 0, 1, 0.1)}) * ({_init_sql('i_idx', 0, 2, 0.1)})"
    f" + ({_init_sql('u_idx', 1, 1, 0.1)}) * ({_init_sql('i_idx', 1, 2, 0.1)})"
)


def _cum_below(
    g: DataFrame, bucket: str, order_col: str, vals: list[str]
) -> DataFrame:
    """Exclusive running sum of ``vals`` in global ``order_col`` order,
    WITHOUT an unpartitioned data-sized window — the two-level scheme:

    1. within-bucket exclusive running sum, window PARTITIONED by the
       bucket key (each task scans only its bucket);
    2. per-bucket totals (one keyed agg to |buckets| rows) cumulated by a
       window over the bounded bucket table (pmod-constant partition, the
       session_path_topk idiom), broadcast-joined back.

    ``below_<v>`` = bucket offset + within-bucket running sum — identical
    to ``SUM(v) OVER (ORDER BY order_col ROWS UNBOUNDED PRECEDING AND 1
    PRECEDING)`` (the oracle form) because bucket order refines value
    order. The largest single window partition holds one bucket, not the
    whole table."""
    w_in = (
        W.partitionBy(bucket)
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    gb = g.groupBy(bucket).agg(
        *[F.sum(v).alias(f"_tot_{v}") for v in vals]
    )
    w_off = (
        W.partitionBy(F.pmod(F.col(bucket), F.lit(1)))
        .orderBy(bucket)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    off = gb.select(
        bucket,
        *[
            F.coalesce(F.sum(f"_tot_{v}").over(w_off), F.lit(0)).alias(f"_off_{v}")
            for v in vals
        ],
    )
    out = g.join(F.broadcast(off), bucket)
    for v in vals:
        out = out.withColumn(
            f"below_{v}",
            F.col(f"_off_{v}")
            + F.coalesce(F.sum(v).over(w_in), F.lit(0)),
        )
    return out.drop(*[f"_off_{v}" for v in vals])


# --- ranking metrics @k (X97) ---------------------------------------------

_IDCG_SQL = "[" + ", ".join(repr(v) for v in IDCG) + "]"


@query(
    "ranking_metrics_at_k",
    oracle=f"""
    WITH e AS MATERIALIZED ({ENCODED_SQL}),
    s AS (SELECT u_idx, i_idx, rating, {_PRED_SQL} AS pred FROM e),
    r AS (SELECT u_idx,
                 (rating >= {REL_THRESHOLD})::INT AS rel,
                 ROW_NUMBER() OVER (PARTITION BY u_idx
                                    ORDER BY pred DESC, i_idx) AS rn
          FROM s),
    u AS (SELECT u_idx,
                 SUM(rel) AS n_rel,
                 SUM(CASE WHEN rn <= {RANK_K} THEN rel ELSE 0 END) AS hits,
                 MIN(CASE WHEN rel = 1 AND rn <= {RANK_K} THEN rn END) AS first_hit,
                 SUM(CASE WHEN rel = 1 AND rn <= {RANK_K}
                          THEN 1.0 / log2(rn + 1) ELSE 0.0 END) AS dcg
          FROM r GROUP BY u_idx),
    m AS (SELECT hits, first_hit,
                 dcg / ({_IDCG_SQL}[CAST(LEAST(n_rel, {RANK_K}) AS INT)]) AS ndcg,
                 CAST(hits AS DOUBLE) / n_rel AS recall
          FROM u WHERE n_rel >= 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG((hits > 0)::INT), 6) AS hit_rate,
           ROUND(AVG(hits / {RANK_K}.0), 6) AS precision_at_k,
           ROUND(AVG(recall), 6) AS recall_at_k,
           ROUND(AVG(COALESCE(1.0 / first_hit, 0.0)), 6) AS mrr,
           ROUND(AVG(ndcg), 6) AS ndcg_at_k
    FROM m
    """,
)
def ranking_metrics_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X97: top-k ranking metrics — HitRate@10, Precision@10, Recall@10,
    MRR@10, NDCG@10 of the deterministic hash-init model over each user's
    rated items (relevant = rating >= 4), averaged over users with at
    least one relevant item. The ranking-quality report the reference's
    pointwise RMSE (reference/models/als.py:216-231) stops short of.
    Scale shape: ONE u_idx-keyed ranking window (per-user item lists are
    catalog-bounded), one u_idx-keyed agg, one global 6-column reduce —
    no global sort anywhere; IDCG denominators come from a k-entry
    literal array, not a join."""
    e = encoded_ratings(spark, sf_dir)
    s = e.select("u_idx", "i_idx", "rating", _pred_expr().alias("pred"))
    w = W.partitionBy("u_idx").orderBy(F.col("pred").desc(), "i_idx")
    r = s.select(
        "u_idx",
        (F.col("rating") >= REL_THRESHOLD).cast("int").alias("rel"),
        F.row_number().over(w).alias("rn"),
    )
    in_k = F.col("rn") <= RANK_K
    hit = (F.col("rel") == 1) & in_k
    u = r.groupBy("u_idx").agg(
        F.sum("rel").alias("n_rel"),
        F.sum(F.when(in_k, F.col("rel")).otherwise(0)).alias("hits"),
        F.min(F.when(hit, F.col("rn"))).alias("first_hit"),
        F.sum(
            F.when(hit, 1.0 / F.log2(F.col("rn") + 1)).otherwise(0.0)
        ).alias("dcg"),
    )
    idcg = F.element_at(
        F.array(*[F.lit(v) for v in IDCG]),
        F.least(F.col("n_rel"), F.lit(RANK_K)).cast("int"),
    )
    m = u.filter(F.col("n_rel") >= 1).select(
        "hits",
        "first_hit",
        (F.col("dcg") / idcg).alias("ndcg"),
        (F.col("hits").cast("double") / F.col("n_rel")).alias("recall"),
    )
    return m.agg(
        F.count("*").alias("n_users"),
        F.round(F.avg((F.col("hits") > 0).cast("int")), 6).alias("hit_rate"),
        F.round(F.avg(F.col("hits") / float(RANK_K)), 6).alias("precision_at_k"),
        F.round(F.avg("recall"), 6).alias("recall_at_k"),
        F.round(
            F.avg(F.coalesce(1.0 / F.col("first_hit"), F.lit(0.0))), 6
        ).alias("mrr"),
        F.round(F.avg("ndcg"), 6).alias("ndcg_at_k"),
    )


# --- ROC AUC (X98) --------------------------------------------------------

# Scores are rounded to 6 decimals BEFORE ranking — the fixed-resolution
# binning that (a) makes tie groups identical across engines and (b)
# bounds the distinct-score table the cumulative window walks.
AUC_BUCKET_SCALE = 1000  # coarse bucket = floor(pred * 1000) for level 1


@query(
    "auc_roc",
    oracle=f"""
    WITH e AS MATERIALIZED ({ENCODED_SQL}),
    s AS (SELECT ROUND({_PRED_SQL}, 6) AS pred,
                 (rating >= {REL_THRESHOLD})::INT AS pos
          FROM e),
    g AS (SELECT pred, CAST(SUM(pos) AS BIGINT) AS np,
                 CAST(SUM(1 - pos) AS BIGINT) AS nn
          FROM s GROUP BY pred),
    c AS (SELECT np, nn,
                 COALESCE(SUM(nn) OVER (ORDER BY pred
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS below
          FROM g)
    SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
           CAST(SUM(nn) AS BIGINT) AS n_neg,
           ROUND(SUM(np * (below + nn / 2.0))
                 / (SUM(np) * SUM(nn)), 6) AS auc
    FROM c
    """,
)
def auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X98: ROC AUC via the rank-sum (Mann-Whitney) identity — AUC =
    P(score_pos > score_neg) + ½·P(tie), computed from per-distinct-score
    positive/negative counts with ties averaged. Scale shape: scores
    quantized to 1e-6 (bounding the distinct-score table), one keyed agg
    to that table, then the two-level exclusive cumsum (`_cum_below`) —
    within-bucket keyed window + bounded bucket-offset window — so the
    exact global rank statistic is computed with NO unpartitioned
    data-sized window and NO global sort. The final reduce is one row."""
    e = encoded_ratings(spark, sf_dir)
    s = e.select(
        F.round(_pred_expr(), 6).alias("pred"),
        (F.col("rating") >= REL_THRESHOLD).cast("int").alias("pos"),
    )
    g = s.groupBy("pred").agg(
        F.sum("pos").alias("np"), F.sum(1 - F.col("pos")).alias("nn")
    )
    g = g.withColumn(
        "b", F.floor(F.col("pred") * AUC_BUCKET_SCALE).cast("long")
    )
    c = _cum_below(g, "b", "pred", ["nn"])
    return c.agg(
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        F.round(
            F.sum(F.col("np") * (F.col("below_nn") + F.col("nn") / 2.0))
            / (F.sum("np") * F.sum("nn")),
            6,
        ).alias("auc"),
    )


# --- calibration / reliability bins (X99) ---------------------------------

CAL_BIN_SCALE = 1000  # fixed-width score bins of 1e-3


@query(
    "calibration_bins",
    oracle=f"""
    WITH e AS MATERIALIZED ({ENCODED_SQL}),
    s AS (SELECT {_PRED_SQL} AS pred,
                 (rating >= {REL_THRESHOLD})::INT AS pos
          FROM e)
    SELECT CAST(FLOOR(pred * {CAL_BIN_SCALE}) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(pred), 6) AS avg_pred,
           ROUND(AVG(pos), 6) AS pos_rate
    FROM s GROUP BY 1
    """,
)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X99: calibration (reliability) table — fixed-width score bins with
    per-bin mean predicted score and observed positive rate; the
    model-trust report read next to the lift table. Fixed-width binning
    (not quantile) is deliberate: a pure keyed agg with map-side partials
    and |bins| output rows — zero extra passes, no percentile scan, the
    cheapest possible shape at 100 TB."""
    e = encoded_ratings(spark, sf_dir)
    s = e.select(
        _pred_expr().alias("pred"),
        (F.col("rating") >= REL_THRESHOLD).cast("int").alias("pos"),
    )
    return (
        s.groupBy(
            F.floor(F.col("pred") * CAL_BIN_SCALE).cast("long").alias("bin")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("pred"), 6).alias("avg_pred"),
            F.round(F.avg("pos"), 6).alias("pos_rate"),
        )
    )


# --- Welch's t-test (X100) ------------------------------------------------

TTEST_GROUP_A = "purchase"
TTEST_GROUP_B = "view"


@query(
    "welch_ttest",
    oracle=f"""
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               AVG(value) AS m,
               VAR_SAMP(value) AS v
        FROM events
        WHERE event_type IN ('{TTEST_GROUP_A}', '{TTEST_GROUP_B}')
        GROUP BY event_type),
    w AS (SELECT
            MAX(CASE WHEN event_type = '{TTEST_GROUP_A}' THEN n END) AS n1,
            MAX(CASE WHEN event_type = '{TTEST_GROUP_A}' THEN m END) AS m1,
            MAX(CASE WHEN event_type = '{TTEST_GROUP_A}' THEN v END) AS v1,
            MAX(CASE WHEN event_type = '{TTEST_GROUP_B}' THEN n END) AS n2,
            MAX(CASE WHEN event_type = '{TTEST_GROUP_B}' THEN m END) AS m2,
            MAX(CASE WHEN event_type = '{TTEST_GROUP_B}' THEN v END) AS v2
          FROM g)
    SELECT n1, n2,
           ROUND(m1, 6) AS mean_a, ROUND(m2, 6) AS mean_b,
           ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 6) AS t_stat,
           ROUND(POW(v1 / n1 + v2 / n2, 2)
                 / (POW(v1 / n1, 2) / (n1 - 1)
                    + POW(v2 / n2, 2) / (n2 - 1)), 6) AS welch_df
    FROM w
    """,
)
def welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X100: Welch's unequal-variance t-test between two event groups
    (purchase vs view on `value`) — the A/B-experiment readout. Pure
    moment aggregates (COUNT/AVG/VAR_SAMP): one filtered scan, one keyed
    agg to two rows, scalar math in a final 1-row pivot. Nothing about
    this plan changes at 100 TB — variance is a map-side-combinable
    moment, so the shuffle carries six numbers."""
    from ..data import load_table

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(TTEST_GROUP_A, TTEST_GROUP_B)
    )
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    a = F.col("event_type") == TTEST_GROUP_A
    w = g.agg(
        F.max(F.when(a, F.col("n"))).alias("n1"),
        F.max(F.when(a, F.col("m"))).alias("m1"),
        F.max(F.when(a, F.col("v"))).alias("v1"),
        F.max(F.when(~a, F.col("n"))).alias("n2"),
        F.max(F.when(~a, F.col("m"))).alias("m2"),
        F.max(F.when(~a, F.col("v"))).alias("v2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    df_num = F.pow(se2, 2)
    df_den = F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1) + F.pow(
        F.col("v2") / F.col("n2"), 2
    ) / (F.col("n2") - 1)
    return w.select(
        "n1",
        "n2",
        F.round("m1", 6).alias("mean_a"),
        F.round("m2", 6).alias("mean_b"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(df_num / df_den, 6).alias("welch_df"),
    )


# --- two-sample Kolmogorov-Smirnov drift (X101) ---------------------------

KS_BUCKET_WIDTH = 10000.0  # o_totalprice coarse bucket for the 2-level cumsum


@query(
    "ks_test_drift",
    oracle=f"""
    WITH s AS (SELECT o_totalprice AS val,
                      (o_orderkey % 2 = 0)::INT AS in_a
               FROM orders),
    g AS (SELECT val,
                 CAST(SUM(in_a) AS BIGINT) AS a,
                 CAST(SUM(1 - in_a) AS BIGINT) AS b
          FROM s GROUP BY val),
    t AS (SELECT SUM(a) AS na, SUM(b) AS nb FROM g),
    c AS (SELECT SUM(a) OVER (ORDER BY val) AS ca,
                 SUM(b) OVER (ORDER BY val) AS cb
          FROM g)
    SELECT CAST(t.na AS BIGINT) AS n_a,
           CAST(t.nb AS BIGINT) AS n_b,
           ROUND(MAX(ABS(CAST(c.ca AS DOUBLE) / t.na
                         - CAST(c.cb AS DOUBLE) / t.nb)), 6) AS ks_d,
           ROUND(MAX(ABS(CAST(c.ca AS DOUBLE) / t.na
                         - CAST(c.cb AS DOUBLE) / t.nb))
                 * SQRT(CAST(t.na AS DOUBLE) * t.nb / (t.na + t.nb)),
                 6) AS ks_z
    FROM c, t
    GROUP BY t.na, t.nb
    """,
)
def ks_test_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X101: two-sample Kolmogorov-Smirnov statistic between the order-
    value distributions of two order cohorts (keyed by o_orderkey parity)
    — the distribution-level drift test next to data_drift_psi's binned
    PSI: KS needs no binning choice, PSI gives per-bin attribution; a
    drift dashboard wants both. D = max |F_a(x) - F_b(x)| evaluated at
    every distinct value via per-value counts + the two-level exclusive
    cumsum (`_cum_below`, inclusive after adding the current row) — exact
    empirical CDFs with no unpartitioned data-sized window, then a 1-row
    max reduce. ks_z is the sample-size-scaled statistic compared against
    Kolmogorov critical values."""
    from ..data import load_table

    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.col("o_totalprice").alias("val"),
        (F.col("o_orderkey") % 2 == 0).cast("int").alias("in_a"),
    )
    g = s.groupBy("val").agg(
        F.sum("in_a").alias("a"), F.sum(1 - F.col("in_a")).alias("b")
    )
    g = g.withColumn("bk", F.floor(F.col("val") / KS_BUCKET_WIDTH).cast("long"))
    c = _cum_below(g, "bk", "val", ["a", "b"])
    c = c.select(
        "a",
        "b",
        (F.col("below_a") + F.col("a")).alias("ca"),
        (F.col("below_b") + F.col("b")).alias("cb"),
    )
    return _ks_finish(c)


def _ks_finish(c: DataFrame) -> DataFrame:
    """Totals as a 1-row broadcast onto the per-value CDF table, then one
    max reduce — two tiny stages, both keyed or single-row."""
    t = c.agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    d = c.crossJoin(F.broadcast(t)).select(
        "na",
        "nb",
        F.abs(
            F.col("ca").cast("double") / F.col("na")
            - F.col("cb").cast("double") / F.col("nb")
        ).alias("diff"),
    )
    return d.groupBy("na", "nb").agg(
        F.round(F.max("diff"), 6).alias("ks_d"),
        F.round(
            F.max("diff")
            * F.sqrt(
                F.col("na").cast("double")
                * F.col("nb")
                / (F.col("na") + F.col("nb"))
            ),
            6,
        ).alias("ks_z"),
    ).select(
        F.col("na").alias("n_a"), F.col("nb").alias("n_b"), "ks_d", "ks_z"
    )


# --- Mann-Whitney U (X102) ------------------------------------------------


@query(
    "mann_whitney_u",
    oracle=f"""
    WITH e AS MATERIALIZED ({ENCODED_SQL}),
    s AS (SELECT rating AS val, (i_idx % 2 = 0)::INT AS in_a FROM e),
    g AS (SELECT val,
                 CAST(SUM(in_a) AS BIGINT) AS a,
                 CAST(SUM(1 - in_a) AS BIGINT) AS b,
                 CAST(COUNT(*) AS BIGINT) AS t
          FROM s GROUP BY val),
    c AS (SELECT a, b, t,
                 COALESCE(SUM(t) OVER (ORDER BY val
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS below
          FROM g),
    w AS (SELECT SUM(a) AS n1, SUM(b) AS n2, SUM(t) AS n,
                 SUM(a * (below + (t + 1) / 2.0)) AS r1,
                 SUM(CAST(t AS DOUBLE) * t * t - t) AS ties
          FROM c)
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           ROUND(r1 - n1 * (n1 + 1) / 2.0, 6) AS u_stat,
           ROUND((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
                 / SQRT(n1 * n2 / 12.0
                        * ((n + 1) - ties / (n * (n - 1.0)))), 6) AS z_score
    FROM w
    """,
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X102: Mann-Whitney U (Wilcoxon rank-sum) with tie correction —
    compares the rating distributions of two item cohorts (i_idx parity)
    without Welch's normality assumption; the non-parametric member of
    the experiment-analysis family. Ranks never materialize per row:
    ratings take 5 distinct values, so midranks come from the per-value
    count table (tie group at value v occupies ranks below+1..below+t;
    its midrank is below+(t+1)/2) — one keyed agg to 5 rows, a bounded
    pmod-partitioned cumsum, one 1-row reduce. The tie term Σ(t³-t)
    feeds the standard variance correction."""
    e = encoded_ratings(spark, sf_dir)
    s = e.select(
        F.col("rating").alias("val"),
        (F.col("i_idx") % 2 == 0).cast("int").alias("in_a"),
    )
    g = s.groupBy("val").agg(
        F.sum("in_a").alias("a"),
        F.sum(1 - F.col("in_a")).alias("b"),
        F.count("*").alias("t"),
    )
    w_cum = (
        W.partitionBy(F.pmod(F.col("val"), F.lit(1)))
        .orderBy("val")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    c = g.withColumn("below", F.coalesce(F.sum("t").over(w_cum), F.lit(0)))
    w = c.agg(
        F.sum("a").alias("n1"),
        F.sum("b").alias("n2"),
        F.sum("t").alias("n"),
        F.sum(F.col("a") * (F.col("below") + (F.col("t") + 1) / 2.0)).alias("r1"),
        F.sum(
            F.col("t").cast("double") * F.col("t") * F.col("t") - F.col("t")
        ).alias("ties"),
    )
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0
    sigma = F.sqrt(
        F.col("n1")
        * F.col("n2")
        / 12.0
        * (
            (F.col("n") + 1)
            - F.col("ties") / (F.col("n") * (F.col("n") - 1.0))
        )
    )
    return w.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(u1, 6).alias("u_stat"),
        F.round(
            (u1 - F.col("n1") * F.col("n2") / 2.0) / sigma, 6
        ).alias("z_score"),
    )


# --- deterministic bootstrap confidence interval (X111) -------------------

BOOT_B = 32  # number of bootstrap resamples
# Poisson(1) CDF steps for the multinomial-approximating Poisson bootstrap
# (each row's resample weight ~ Poisson(1), drawn from the deterministic
# hash-uniform grid). Literals shared by both engines.
POISSON_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)


def _poisson_weight_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {p} THEN {k}" for k, p in enumerate(POISSON_CDF)
    )
    return f"CASE {branches} ELSE {len(POISSON_CDF)} END"


@query(
    "bootstrap_ci",
    oracle=f"""
    WITH e AS MATERIALIZED ({ENCODED_SQL}),
    x AS (SELECT e.rating, b.b,
                 {_init_sql("(((e.interaction_id % 1000003) * 37 + b.b) % 1000003)", 7, 11, 1.0)} AS u
          FROM e CROSS JOIN (SELECT UNNEST(range(0, {BOOT_B})) AS b) b),
    w AS (SELECT b, rating, {_poisson_weight_sql("u")} AS wt FROM x),
    m AS (SELECT b, SUM(wt * rating) / SUM(wt) AS mean_b
          FROM w GROUP BY b)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_resamples,
           ROUND(AVG(mean_b), 6) AS boot_mean,
           ROUND(quantile_cont(mean_b, 0.025), 6) AS ci_lo,
           ROUND(quantile_cont(mean_b, 0.975), 6) AS ci_hi
    FROM m
    """,
)
def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X111: bootstrap confidence interval for the mean rating via the
    POISSON bootstrap (Chamandy et al./Google's large-scale variant:
    each row enters resample b with weight ~ Poisson(1), independence
    per row x resample) — the estimator uncertainty report classic
    resampling can't do at 100 TB because multinomial resampling needs
    the global row count per sample. Weights come from the deterministic
    hash-uniform grid keyed on (interaction_id, b) pushed through the
    Poisson(1) inverse CDF, so both engines draw the SAME resamples and
    the whole interval is value-checked. Plan: one narrow x{BOOT_B}
    explode, one keyed agg to {BOOT_B} resample means, one exact
    percentile over the {BOOT_B}-row table — cost is B linear scans'
    worth of agg work fused into one shuffle, no per-row state."""
    e = encoded_ratings(spark, sf_dir)
    x = e.select(
        "rating",
        "interaction_id",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    )
    from ..models.common import hash_uniform

    # pre-reduce mod a prime BEFORE the multiply so the product stays
    # inside int64 at any interaction_id scale (Spark would wrap silently,
    # DuckDB would error — the 2^32 tie bits in round-6 interaction_ids
    # put id*37 past 2^63 at sf1 key ranges)
    u = hash_uniform(
        ((F.col("interaction_id") % 1000003) * 37 + F.col("b")) % 1000003,
        7,
        1.0,
        11,
    )
    wt = F.lit(len(POISSON_CDF))
    for k in range(len(POISSON_CDF) - 1, -1, -1):
        wt = F.when(u < POISSON_CDF[k], F.lit(k)).otherwise(wt)
    m = (
        x.withColumn("wt", wt)
        .groupBy("b")
        .agg(
            (F.sum(F.col("wt") * F.col("rating")) / F.sum("wt")).alias("mean_b")
        )
    )
    return m.agg(
        F.count("*").alias("n_resamples"),
        F.round(F.avg("mean_b"), 6).alias("boot_mean"),
        F.round(F.expr("percentile(mean_b, 0.025)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(mean_b, 0.975)"), 6).alias("ci_hi"),
    )


# --- confusion-matrix threshold sweep (X112) ------------------------------

# Fixed decision thresholds spanning the hash-init score range — literal
# constants shared by both engines (quantile-free: the sweep is a pure
# keyed agg, no percentile pass).
SWEEP_THRESHOLDS = (0.022, 0.026, 0.030, 0.034, 0.038)


@query(
    "confusion_threshold_sweep",
    oracle=f"""
    WITH e AS MATERIALIZED ({ENCODED_SQL}),
    s AS (SELECT {_PRED_SQL} AS pred,
                 (rating >= {REL_THRESHOLD})::INT AS pos
          FROM e),
    x AS (SELECT t.t, s.pred, s.pos
          FROM s CROSS JOIN (SELECT UNNEST([{", ".join(map(str, SWEEP_THRESHOLDS))}]) AS t) t),
    c AS (SELECT t,
                 SUM(CASE WHEN pred >= t AND pos = 1 THEN 1 ELSE 0 END) AS tp,
                 SUM(CASE WHEN pred >= t AND pos = 0 THEN 1 ELSE 0 END) AS fp,
                 SUM(CASE WHEN pred <  t AND pos = 1 THEN 1 ELSE 0 END) AS fn,
                 SUM(CASE WHEN pred <  t AND pos = 0 THEN 1 ELSE 0 END) AS tn
          FROM x GROUP BY t)
    SELECT CAST(t AS DOUBLE) AS threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 6) AS precision_,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 6) AS recall_,
           ROUND(2.0 * tp / NULLIF(2 * tp + fp + fn, 0), 6) AS f1,
           ROUND(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy
    FROM c
    """,
)
def confusion_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X112: confusion-matrix sweep over fixed decision thresholds —
    TP/FP/FN/TN with precision, recall, F1, accuracy per threshold; the
    operating-point report read next to auc_roc (AUC summarizes the
    whole curve, this shows the deployable points). One narrow
    x|thresholds| explode and ONE keyed agg — counting all four cells
    for all thresholds in a single pass over the scores; output is
    |thresholds| rows at any input size. F1 uses the 2tp/(2tp+fp+fn)
    form so zero-division collapses to NULL identically in both
    engines."""
    e = encoded_ratings(spark, sf_dir)
    s = e.select(
        _pred_expr().alias("pred"),
        (F.col("rating") >= REL_THRESHOLD).cast("int").alias("pos"),
    )
    x = s.select(
        "pred",
        "pos",
        F.explode(
            F.array(*[F.lit(t) for t in SWEEP_THRESHOLDS])
        ).alias("t"),
    )
    pp = F.col("pred") >= F.col("t")
    c = x.groupBy("t").agg(
        F.sum(F.when(pp & (F.col("pos") == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(pp & (F.col("pos") == 0), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~pp & (F.col("pos") == 1), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~pp & (F.col("pos") == 0), 1).otherwise(0)).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c_) for c_ in ("tp", "fp", "fn", "tn"))
    return c.select(
        F.col("t").alias("threshold"),
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(tp.cast("double") / F.nullif(tp + fp, F.lit(0)), 6).alias(
            "precision_"
        ),
        F.round(tp.cast("double") / F.nullif(tp + fn, F.lit(0)), 6).alias(
            "recall_"
        ),
        F.round(
            2.0 * tp / F.nullif(2 * tp + fp + fn, F.lit(0)), 6
        ).alias("f1"),
        F.round((tp + tn).cast("double") / (tp + fp + fn + tn), 6).alias(
            "accuracy"
        ),
    )


# --- experiment power / minimal detectable effect (X120) ------------------

# Standard normal quantiles for alpha = 0.05 two-sided and power = 0.80 —
# the conventional experiment-design operating point. Shared literals.
Z_ALPHA_2 = 1.959963984540054  # Phi^-1(0.975)
Z_BETA = 0.8416212335729143  # Phi^-1(0.80)


@query(
    "ab_power_mde",
    oracle=f"""
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               AVG(value) AS m,
               VAR_SAMP(value) AS v
        FROM events
        WHERE event_type IN ('{TTEST_GROUP_A}', '{TTEST_GROUP_B}')
        GROUP BY event_type),
    w AS (SELECT
            MAX(CASE WHEN event_type = '{TTEST_GROUP_A}' THEN n END) AS n1,
            MAX(CASE WHEN event_type = '{TTEST_GROUP_A}' THEN m END) AS m1,
            MAX(CASE WHEN event_type = '{TTEST_GROUP_A}' THEN v END) AS v1,
            MAX(CASE WHEN event_type = '{TTEST_GROUP_B}' THEN n END) AS n2,
            MAX(CASE WHEN event_type = '{TTEST_GROUP_B}' THEN v END) AS v2
          FROM g)
    SELECT n1, n2,
           ROUND(SQRT(v1 / n1 + v2 / n2), 6) AS se,
           ROUND(({Z_ALPHA_2} + {Z_BETA}) * SQRT(v1 / n1 + v2 / n2), 6)
               AS mde_abs,
           ROUND(({Z_ALPHA_2} + {Z_BETA}) * SQRT(v1 / n1 + v2 / n2) / m1, 6)
               AS mde_rel
    FROM w
    """,
)
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X120: minimal detectable effect at the conventional alpha = 0.05 /
    power = 0.80 operating point for the welch_ttest cohorts — MDE =
    (z_alpha/2 + z_beta) * SE, absolute and relative to the control mean;
    the experiment-DESIGN readout next to welch_ttest's after-the-fact
    verdict (is this test even capable of seeing the effect size we
    care about?). Same moment-only plan as the t-test: one filtered
    scan, a two-row keyed agg, scalar math on one row — six numbers
    cross the shuffle at any scale."""
    from ..data import load_table

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(TTEST_GROUP_A, TTEST_GROUP_B)
    )
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    a = F.col("event_type") == TTEST_GROUP_A
    w = g.agg(
        F.max(F.when(a, F.col("n"))).alias("n1"),
        F.max(F.when(a, F.col("m"))).alias("m1"),
        F.max(F.when(a, F.col("v"))).alias("v1"),
        F.max(F.when(~a, F.col("n"))).alias("n2"),
        F.max(F.when(~a, F.col("v"))).alias("v2"),
    )
    se = F.sqrt(F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2"))
    z = Z_ALPHA_2 + Z_BETA
    return w.select(
        "n1",
        "n2",
        F.round(se, 6).alias("se"),
        F.round(z * se, 6).alias("mde_abs"),
        F.round(z * se / F.col("m1"), 6).alias("mde_rel"),
    )


DID_CUTOFF = "1998-01-01"  # pre/post boundary (fixture spans 1995-2001)


@query(
    "diff_in_diff",
    oracle=f"""
    WITH cells AS (
        SELECT CASE WHEN r_name = 'ASIA' THEN 1 ELSE 0 END AS treat,
               CASE WHEN o_orderdate >= DATE '{DID_CUTOFF}'
                    THEN 1 ELSE 0 END AS post,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2),
    w AS (
        SELECT
          SUM(CASE WHEN treat = 1 AND post = 0 THEN n END) AS n_t0,
          SUM(CASE WHEN treat = 1 AND post = 1 THEN n END) AS n_t1,
          SUM(CASE WHEN treat = 0 AND post = 0 THEN n END) AS n_c0,
          SUM(CASE WHEN treat = 0 AND post = 1 THEN n END) AS n_c1,
          SUM(CASE WHEN treat = 1 AND post = 0 THEN cents END) AS s_t0,
          SUM(CASE WHEN treat = 1 AND post = 1 THEN cents END) AS s_t1,
          SUM(CASE WHEN treat = 0 AND post = 0 THEN cents END) AS s_c0,
          SUM(CASE WHEN treat = 0 AND post = 1 THEN cents END) AS s_c1
        FROM cells)
    SELECT CAST(n_t0 AS BIGINT) AS n_treat_pre,
           CAST(n_t1 AS BIGINT) AS n_treat_post,
           CAST(n_c0 AS BIGINT) AS n_ctrl_pre,
           CAST(n_c1 AS BIGINT) AS n_ctrl_post,
           ROUND(CAST(s_t0 AS DOUBLE) / n_t0 / 100, 6) AS treat_pre_mean,
           ROUND(CAST(s_t1 AS DOUBLE) / n_t1 / 100, 6) AS treat_post_mean,
           ROUND(CAST(s_c0 AS DOUBLE) / n_c0 / 100, 6) AS ctrl_pre_mean,
           ROUND(CAST(s_c1 AS DOUBLE) / n_c1 / 100, 6) AS ctrl_post_mean,
           ROUND(((CAST(s_t1 AS DOUBLE) / n_t1 - CAST(s_t0 AS DOUBLE) / n_t0)
                  - (CAST(s_c1 AS DOUBLE) / n_c1 - CAST(s_c0 AS DOUBLE) / n_c0))
                 / 100, 6) AS did_dollars
    FROM w
    """,
)
def diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X263: difference-in-differences — the workhorse quasi-experimental
    estimator when you can't randomize: treated group = ASIA-region
    customers, pre/post split at {DID_CUTOFF}, outcome = mean order
    value; DiD = (post−pre)|treated − (post−pre)|control strips both
    the group's level difference and the common time trend. Completes
    the causal toolkit next to welch_ttest (randomized), ab_power_mde
    (design) and price_elasticity (observational slope). All four cell
    means are ratios of exact integer cent sums over exact counts,
    combined in one fixed expression tree and rounded once — no
    cross-engine float surface. Plan: dims broadcast into the fact
    scan, ONE map-side-combinable 4-cell aggregate, then scalar
    arithmetic on a single row — the minimal two-exchange plan at any
    fact size."""
    from ..data import load_table

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    dim = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey", "r_name")
    )
    lab = o.join(F.broadcast(dim), o["o_custkey"] == dim["c_custkey"]).select(
        F.when(F.col("r_name") == "ASIA", 1).otherwise(0).alias("treat"),
        F.when(
            F.col("o_orderdate") >= F.lit(DID_CUTOFF).cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("post"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.lit(1).cast("long").alias("one"),
    )

    def cell(t: int, p: int, col: str):
        cond = (F.col("treat") == t) & (F.col("post") == p)
        return F.sum(F.when(cond, F.col(col)))

    w = lab.agg(
        cell(1, 0, "one").alias("n_t0"),
        cell(1, 1, "one").alias("n_t1"),
        cell(0, 0, "one").alias("n_c0"),
        cell(0, 1, "one").alias("n_c1"),
        cell(1, 0, "cents").alias("s_t0"),
        cell(1, 1, "cents").alias("s_t1"),
        cell(0, 0, "cents").alias("s_c0"),
        cell(0, 1, "cents").alias("s_c1"),
    )
    mean = lambda s, n: F.col(s).cast("double") / F.col(n)  # noqa: E731
    return w.select(
        F.col("n_t0").alias("n_treat_pre"),
        F.col("n_t1").alias("n_treat_post"),
        F.col("n_c0").alias("n_ctrl_pre"),
        F.col("n_c1").alias("n_ctrl_post"),
        F.round(mean("s_t0", "n_t0") / 100, 6).alias("treat_pre_mean"),
        F.round(mean("s_t1", "n_t1") / 100, 6).alias("treat_post_mean"),
        F.round(mean("s_c0", "n_c0") / 100, 6).alias("ctrl_pre_mean"),
        F.round(mean("s_c1", "n_c1") / 100, 6).alias("ctrl_post_mean"),
        F.round(
            (
                (mean("s_t1", "n_t1") - mean("s_t0", "n_t0"))
                - (mean("s_c1", "n_c1") - mean("s_c0", "n_c0"))
            )
            / 100,
            6,
        ).alias("did_dollars"),
    )


SRM_CHI2_CRIT = 3.841  # chi-square 1-df critical value at alpha = 0.05
SRM_ERR_HEAVY = 15  # "error-heavy" user threshold for the planted bug


def _srm_oracle() -> str:
    from .dedup import h60_sql

    arm = f"{h60_sql('CAST(user_id AS VARCHAR)')} % 2"
    return f"""
    WITH u AS (
        SELECT DISTINCT user_id FROM events),
    arms AS (
        SELECT user_id, CAST({arm} AS BIGINT) AS arm FROM u),
    heavy AS (
        SELECT user_id FROM events WHERE event_type = 'error'
        GROUP BY user_id HAVING COUNT(*) >= {SRM_ERR_HEAVY}),
    clean AS (
        SELECT 'clean' AS scheme,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM arms),
    buggy AS (
        SELECT 'dropped_telemetry' AS scheme,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM arms
        WHERE NOT (arm = 1 AND user_id IN (SELECT user_id FROM heavy))),
    both_s AS (SELECT * FROM clean UNION ALL SELECT * FROM buggy)
    SELECT scheme, n_a, n_b,
           ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b), 6)
               AS chi2,
           CAST(CASE WHEN CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                          / (n_a + n_b) > {SRM_CHI2_CRIT}
                     THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
    FROM both_s ORDER BY scheme
    """


@query("ab_srm_check", oracle=_srm_oracle())
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X265: sample-ratio-mismatch check — the FIRST gate every A/B
    readout must pass: under a 50/50 hash split, does the observed arm
    ratio deviate more than chance allows (chi-square GoF, 1 df)? An
    SRM means the assignment or logging pipeline is biased and every
    downstream metric is garbage (Fabijan et al., KDD'19 diagnopsis
    taxonomy). Two schemes ship side by side: `clean` (all users,
    portable h60 hash % 2 — the flag must stay 0) and
    `dropped_telemetry`, a planted instance of the classic bug where
    error-heavy clients fail to log and only arm B loses them — the
    flag FIRES at sf0.01 (both branches of the gate are exercised, per
    the fixture-must-fire house rule). For two cells the statistic
    collapses to (n_a−n_b)²/(n_a+n_b): ONE division of exact integer
    counts, rounded once — no float surface. Plan: distinct on user,
    tiny heavy-user anti-filter, two 1-row aggregates — trivially
    map-combinable at any event volume."""
    from ..data import load_table
    from .dedup import h60_spark

    ev = load_table(spark, sf_dir, "events")
    arms = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            (h60_spark(F.col("user_id").cast("string")) % 2).alias("arm"),
        )
    )
    heavy = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .count()
        .filter(F.col("count") >= SRM_ERR_HEAVY)
        .select(F.col("user_id").alias("h_user"))
    )
    buggy_arms = arms.join(
        F.broadcast(heavy),
        (arms["user_id"] == heavy["h_user"]) & (arms["arm"] == 1),
        "left_anti",
    )

    def agg(df: DataFrame, scheme: str) -> DataFrame:
        return df.agg(
            F.lit(scheme).alias("scheme"),
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_b"),
        )

    both = agg(arms, "clean").unionByName(agg(buggy_arms, "dropped_telemetry"))
    chi2 = ((F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))).cast(
        "double"
    ) / (F.col("n_a") + F.col("n_b"))
    return both.select(
        "scheme",
        "n_a",
        "n_b",
        F.round(chi2, 6).alias("chi2"),
        (chi2 > SRM_CHI2_CRIT).cast("long").alias("srm_flag"),
    ).orderBy("scheme")


CONF_ALPHA_PCT = 10  # 90% nominal coverage, alpha = 0.1


@query(
    "conformal_prediction_interval",
    oracle=f"""
    WITH e AS MATERIALIZED ({ENCODED_SQL}),
    s AS (SELECT u_idx, i_idx, interaction_id, rating,
                 {_PRED_SQL} AS pred FROM e),
    cal AS (SELECT ABS(rating - pred) AS r, interaction_id
            FROM s WHERE interaction_id % 100 BETWEEN 70 AND 89),
    kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
                  CAST(((COUNT(*) + 1) * (100 - {CONF_ALPHA_PCT}) + 99) // 100
                       AS BIGINT) AS k
           FROM cal),
    ranked AS (SELECT r, ROW_NUMBER() OVER (ORDER BY r, interaction_id) AS rn
               FROM cal),
    q AS (SELECT ranked.r AS q_width FROM ranked JOIN kk ON ranked.rn = kk.k),
    tst AS (SELECT ABS(rating - pred) AS r FROM s
            WHERE interaction_id % 100 BETWEEN 90 AND 99)
    SELECT kk.n_cal, kk.k AS k_rank, ROUND(q.q_width, 6) AS q_width,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN tst.r <= q.q_width THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           ROUND(CAST(SUM(CASE WHEN tst.r <= q.q_width THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS coverage
    FROM tst CROSS JOIN q CROSS JOIN kk
    GROUP BY kk.n_cal, kk.k, q.q_width
    """,
)
def conformal_prediction_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X281: split conformal prediction (Vovk; Lei et al.) — the
    distribution-free uncertainty wrapper every deployed model needs:
    the ⌈(n+1)(1−α)⌉-th smallest calibration residual is a HALF-WIDTH q
    such that |y − ŷ| ≤ q covers ≥ 1−α of fresh points, with NO
    assumptions on the model or noise. Calibration = interaction-id
    buckets 70-89 of 100, test = 90-99 (linenumber occupies the last
    decimal digit, so %10 splits would be degenerate — pinned here), model = the shared deterministic bias+factor predictor.
    The quantile is an EXACT order statistic (integer rank, ceil via
    integer arithmetic; residual doubles are bit-identical cross-engine
    because the predictor expression is) — no interpolation, so q and
    the coverage count cannot drift. Scale shape: the k-th element is
    found WITHOUT a global sort — residuals bucket to ≤64 coarse cells,
    a bounded two-level cumsum locates the rank (the _cum_below /
    block-offset machinery), and only bucket-keyed windows touch data-
    sized rows; coverage is one broadcast-q filter count. Empirical
    coverage lands within the finite-sample band of 90% (test-pinned).
    """
    e = encoded_ratings(spark, sf_dir)
    from ..models.common import tracked_checkpoint

    s = tracked_checkpoint(
        e.select(
            "interaction_id",
            "rating",
            _pred_expr().alias("pred"),
        )
    )
    cal = s.filter(
        (F.col("interaction_id") % 100 >= 70)
        & (F.col("interaction_id") % 100 <= 89)
    ).select(
        F.abs(F.col("rating") - F.col("pred")).alias("r"), "interaction_id"
    )
    kk = cal.agg(
        F.count("*").alias("n_cal"),
        F.expr(
            f"CAST(((COUNT(*) + 1) * (100 - {CONF_ALPHA_PCT}) + 99) DIV 100 AS BIGINT)"
        ).alias("k"),
    )
    b = cal.withColumn("bkt", F.floor(F.col("r") * 10).cast("long"))
    w_in = W.partitionBy("bkt").orderBy("r", "interaction_id")
    per_b = b.groupBy("bkt").agg(F.count("*").alias("bn"))
    w_off = (
        W.partitionBy(F.pmod(F.col("bkt"), F.lit(1)))
        .orderBy("bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    off = per_b.select(
        "bkt", F.coalesce(F.sum("bn").over(w_off), F.lit(0)).alias("off")
    )
    ranked = (
        b.join(F.broadcast(off), "bkt")
        .withColumn("rn", F.col("off") + F.row_number().over(w_in))
    )
    q = (
        ranked.crossJoin(F.broadcast(kk))
        .filter(F.col("rn") == F.col("k"))
        .select(F.col("r").alias("q_width"), "n_cal", "k")
    )
    tst = s.filter(
        (F.col("interaction_id") % 100 >= 90)
        & (F.col("interaction_id") % 100 <= 99)
    ).select(F.abs(F.col("rating") - F.col("pred")).alias("r"))
    return (
        tst.crossJoin(F.broadcast(q))
        .agg(
            F.first("n_cal").alias("n_cal"),
            F.first("k").alias("k_rank"),
            F.round(F.first("q_width"), 6).alias("q_width"),
            F.count("*").alias("n_test"),
            F.sum((F.col("r") <= F.col("q_width")).cast("long")).alias(
                "n_covered"
            ),
            F.round(
                F.sum((F.col("r") <= F.col("q_width")).cast("long")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("coverage"),
        )
    )


@query(
    "causal_impact_lite",
    oracle=f"""
    WITH d AS (
        SELECT CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
               CAST(SUM(CASE WHEN r_name = 'ASIA'
                        THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS y,
               CAST(SUM(CASE WHEN r_name <> 'ASIA'
                        THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1),
    pre AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
        FROM d WHERE day < CAST(FLOOR(epoch(DATE '{DID_CUTOFF}')) AS BIGINT) // 86400),
    fit AS (
        SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS a
        FROM pre)
    SELECT day, y AS actual_cents,
           ROUND((a + b * x) / 100, 6) AS predicted_dollars,
           ROUND((y - (a + b * x)) / 100, 6) AS effect_dollars,
           ROUND(CAST(SUM(CAST(ROUND((y - (a + b * x)) * 1000) AS BIGINT))
                 OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS DOUBLE) / 100000, 6)
               AS cum_effect_dollars
    FROM d CROSS JOIN fit
    WHERE day >= CAST(FLOOR(epoch(DATE '{DID_CUTOFF}')) AS BIGINT) // 86400
    ORDER BY day
    """,
)
def causal_impact_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X285: counterfactual impact analysis (CausalImpact's core,
    Brodersen et al. 2015, with an OLS synthetic control instead of the
    BSTS prior): fit treated ~ control on the PRE period (ASIA daily
    revenue against rest-of-world daily revenue, the parallel-series
    assumption diff_in_diff makes in means, here made per-day), then
    the POST-period counterfactual is the fitted line and the daily +
    cumulative gaps are the causal-effect series. Completes the causal
    kit's time-resolved corner (DiD gives one number; this gives the
    trajectory). Determinism: slope/intercept from exact integer
    sufficient statistics (HUGEINT/decimal cross-products) in one
    fixed expression; per-day predictions are identical doubles; the
    cumulative gap rounds each day to integer MILLI-CENTS first and
    cumsums the integers — windowed float SUM is segment-tree-ordered
    in DuckDB, so only an integer cumulative is add-order-free (found
    by the oracle compare at 1304 post days). Plan:
    dims broadcast into the fact scan, ONE day-keyed conditional agg,
    1-row fit broadcast, pmod window over |days| rows."""
    from ..data import load_table

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    dim = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey", "r_name")
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    d = (
        o.join(F.broadcast(dim), o["o_custkey"] == dim["c_custkey"])
        .groupBy(
            F.expr(
                "CAST(FLOOR(unix_timestamp(o_orderdate)) AS BIGINT) DIV 86400"
            ).alias("day")
        )
        .agg(
            F.sum(F.when(F.col("r_name") == "ASIA", cents).otherwise(0)).alias(
                "y"
            ),
            F.sum(F.when(F.col("r_name") != "ASIA", cents).otherwise(0)).alias(
                "x"
            ),
        )
    )
    cutoff_day = F.expr(
        f"CAST(FLOOR(unix_timestamp(CAST('{DID_CUTOFF}' AS TIMESTAMP))) AS BIGINT) DIV 86400"
    )
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    pre = d.filter(F.col("day") < cutoff_day).agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((dec("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum((dec("x") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxy"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = pre.select(b.alias("b"), ((F.col("sy") - b * F.col("sx")) / F.col("n")).alias("a"))
    w_cum = (
        W.partitionBy(F.pmod(F.col("day"), F.lit(1)))
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    post = d.filter(F.col("day") >= cutoff_day).crossJoin(F.broadcast(fit))
    gap = F.col("y") - (F.col("a") + F.col("b") * F.col("x"))
    gap_milli = F.round(gap * 1000).cast("long")
    return post.select(
        "day",
        F.col("y").alias("actual_cents"),
        F.round((F.col("a") + F.col("b") * F.col("x")) / 100, 6).alias(
            "predicted_dollars"
        ),
        F.round(gap / 100, 6).alias("effect_dollars"),
        # per-day gaps round to integer milli-cents BEFORE the running
        # sum: windowed float SUM is segment-tree-ordered in DuckDB, so
        # only an integer cumulative is add-order-free cross-engine
        F.round(
            F.sum(gap_milli).over(w_cum).cast("double") / 100000, 6
        ).alias("cum_effect_dollars"),
    ).orderBy("day")


@query(
    "ipw_ate_by_segment",
    oracle="""
    WITH rows_l AS (
        SELECT c_mktsegment AS segment,
               CASE WHEN r_name = 'ASIA' THEN 1 ELSE 0 END AS t,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y_cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey),
    seg AS (
        SELECT segment,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(t) AS BIGINT) AS n_treat,
               CAST(SUM(CASE WHEN t = 1 THEN y_cents ELSE 0 END)
                    AS BIGINT) AS s1_cents,
               CAST(SUM(CASE WHEN t = 0 THEN y_cents ELSE 0 END)
                    AS BIGINT) AS s0_cents
        FROM rows_l GROUP BY 1)
    SELECT segment, n, n_treat,
           ROUND(CAST(n_treat AS DOUBLE) / n, 6) AS propensity,
           ROUND((CAST(s1_cents AS DOUBLE) / n_treat
                  - CAST(s0_cents AS DOUBLE) / (n - n_treat)) / 100, 6)
               AS segment_ate_dollars,
           CAST(ROUND((CAST(s1_cents AS DOUBLE) / n_treat
                       - CAST(s0_cents AS DOUBLE) / (n - n_treat)) * n * 10)
                AS BIGINT) AS ate_contrib_deci_cents
    FROM seg ORDER BY segment
    """,
)
def ipw_ate_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X286: inverse-propensity-weighted treatment effect, stratified —
    the third leg of the causal kit (diff_in_diff: two periods;
    causal_impact_lite: trajectory; here: confounder adjustment when
    treatment correlates with a covariate): treatment = ASIA customer,
    outcome = order value, confounder = market segment. Within a
    stratum IPW algebra collapses EXACTLY to the difference of treated
    and control means (y·n/n₁ summed = S₁·n/n₁), so each segment's
    effect is a fixed expression over four exact integer sums, and the
    overall ATE = Σ n_s·Δ_s / N telescopes from the emitted integer
    deci-cent contributions (the add-order-free cumulative discipline;
    a test recomputes it). Plan: dims broadcast into the fact scan,
    ONE segment-keyed 4-sum conditional agg to |segments| rows, scalar
    math — two exchanges at any fact size; the propensity model
    upgrade path (logistic per fine stratum) keeps the identical
    shape with more strata."""
    from ..data import load_table

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    dim = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey", "c_mktsegment", "r_name")
    )
    lab = o.join(F.broadcast(dim), o["o_custkey"] == dim["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("r_name") == "ASIA", 1).otherwise(0).alias("t"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y_cents"),
    )
    seg = lab.groupBy("segment").agg(
        F.count("*").alias("n"),
        F.sum("t").alias("n_treat"),
        F.sum(F.when(F.col("t") == 1, F.col("y_cents")).otherwise(0)).alias(
            "s1_cents"
        ),
        F.sum(F.when(F.col("t") == 0, F.col("y_cents")).otherwise(0)).alias(
            "s0_cents"
        ),
    )
    delta = F.col("s1_cents").cast("double") / F.col("n_treat") - F.col(
        "s0_cents"
    ).cast("double") / (F.col("n") - F.col("n_treat"))
    return seg.select(
        "segment",
        "n",
        "n_treat",
        F.round(F.col("n_treat").cast("double") / F.col("n"), 6).alias(
            "propensity"
        ),
        F.round(delta / 100, 6).alias("segment_ate_dollars"),
        F.round(delta * F.col("n") * 10).cast("long").alias(
            "ate_contrib_deci_cents"
        ),
    ).orderBy("segment")


@query(
    "isotonic_calibration",
    oracle=f"""
    WITH e AS MATERIALIZED ({ENCODED_SQL}),
    s AS (SELECT {_PRED_SQL} AS pred,
                 (rating >= {REL_THRESHOLD})::INT AS pos
          FROM e),
    b AS (SELECT CAST(FLOOR(pred * {CAL_BIN_SCALE}) AS BIGINT) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(pos) AS BIGINT) AS s_pos
          FROM s GROUP BY 1),
    pre AS (SELECT bin, n, s_pos,
                   CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
                   CAST(SUM(s_pos) OVER (ORDER BY bin) AS BIGINT) AS cs
            FROM b),
    pairs AS (
        SELECT i.bin AS i, j.bin AS j,
               CAST(j.cs - i.cs + i.s_pos AS DOUBLE)
                   / (j.cn - i.cn + i.n) AS avg_ij
        FROM pre i JOIN pre j ON i.bin <= j.bin),
    mins AS (
        SELECT k.bin AS k, p.i AS i, MIN(p.avg_ij) AS min_avg
        FROM b k JOIN pairs p ON p.i <= k.bin AND p.j >= k.bin
        GROUP BY 1, 2),
    iso AS (SELECT k, MAX(min_avg) AS iso_val FROM mins GROUP BY 1)
    SELECT b.bin, b.n, b.s_pos,
           ROUND(CAST(b.s_pos AS DOUBLE) / b.n, 6) AS raw_rate,
           ROUND(iso.iso_val, 6) AS iso_rate
    FROM b JOIN iso ON b.bin = iso.k
    ORDER BY b.bin
    """,
)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X291: isotonic calibration — pool-adjacent-violators over the
    reliability bins (Zadrozny & Elkan 2002; the step-function
    calibrator sklearn's ``IsotonicRegression`` fits), closing the
    calibration family: calibration_bins reports miscalibration,
    this REPAIRS it into the monotone rate the scores imply. PAV is
    inherently sequential, so the scale formulation splits: the
    data-sized pass is ONE fixed-width-bin keyed agg (map-side
    partials, |bins| output rows — calibration_bins' plan); PAV then
    runs on the BOUNDED bin table via the minimax closed form
    iso(k) = max_{i<=k} min_{j>=k} mean(s[i..j]) — an O(B^2)
    pair grid + O(B^3)-bounded triple join over B ~ tens of rows,
    expressible identically in both engines (no recursion, no driver
    loop). Every mean is a single double division of exact integer
    prefix-sum differences, so min/max pick bit-identical values
    cross-engine; only the final report rounds. Pinned invariants
    (tests): iso_rate is nondecreasing in bin, pooled mass is
    conserved (Σ n·iso = Σ s_pos to rounding), and the violator branch
    fires (raw_rate is non-monotone on the fixture, so iso != raw
    somewhere). At 100 TB the bin table stays B rows no matter the
    fact size — the PAV stage costs the same at every scale."""
    e = encoded_ratings(spark, sf_dir)
    s = e.select(
        _pred_expr().alias("pred"),
        (F.col("rating") >= REL_THRESHOLD).cast("int").alias("pos"),
    )
    b = s.groupBy(
        F.floor(F.col("pred") * CAL_BIN_SCALE).cast("long").alias("bin")
    ).agg(
        F.count("*").alias("n"),
        F.sum("pos").cast("long").alias("s_pos"),
    )
    # prefix sums over the BOUNDED bin table (pmod window: bounded-table
    # global order, never a data-sized single partition)
    w_cum = (
        W.partitionBy(F.pmod(F.col("bin"), F.lit(1)))
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    from ..models.common import tracked_checkpoint

    pre = tracked_checkpoint(
        b.select(
            "bin",
            "n",
            "s_pos",
            F.sum("n").over(w_cum).alias("cn"),
            F.sum("s_pos").over(w_cum).alias("cs"),
        )
    )
    pi = pre.select(
        F.col("bin").alias("i"),
        F.col("n").alias("n_i"),
        F.col("s_pos").alias("s_i"),
        F.col("cn").alias("cn_i"),
        F.col("cs").alias("cs_i"),
    )
    pj = pre.select(
        F.col("bin").alias("j"),
        F.col("cn").alias("cn_j"),
        F.col("cs").alias("cs_j"),
    )
    pairs = pi.join(F.broadcast(pj), F.col("i") <= F.col("j")).select(
        "i",
        "j",
        (
            (F.col("cs_j") - F.col("cs_i") + F.col("s_i")).cast("double")
            / (F.col("cn_j") - F.col("cn_i") + F.col("n_i"))
        ).alias("avg_ij"),
    )
    ks = b.select(F.col("bin").alias("k"))
    mins = (
        pairs.join(
            F.broadcast(ks),
            (F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k")),
        )
        .groupBy("k", "i")
        .agg(F.min("avg_ij").alias("min_avg"))
    )
    iso = mins.groupBy("k").agg(F.max("min_avg").alias("iso_val"))
    return (
        b.join(iso, b["bin"] == iso["k"])
        .select(
            "bin",
            "n",
            "s_pos",
            F.round(F.col("s_pos").cast("double") / F.col("n"), 6).alias(
                "raw_rate"
            ),
            F.round(F.col("iso_val"), 6).alias("iso_rate"),
        )
        .orderBy("bin")
    )


WILSON_MIN_N = 30  # minimum raters for a Wilson-ranked item
WILSON_TOP = 25  # leaderboard size


@query(
    "wilson_ci_ranking",
    oracle=f"""
    WITH r AS MATERIALIZED ({RATINGS_SQL}),
    peritem AS (
        SELECT item_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM((rating >= {REL_THRESHOLD})::INT) AS BIGINT) AS pos
        FROM r GROUP BY 1
        HAVING COUNT(*) >= {WILSON_MIN_N}),
    z AS (SELECT CAST(1.96 AS DOUBLE) AS z),
    scored AS (
        SELECT item_id, n, pos,
               CAST(pos AS DOUBLE) / n AS phat,
               ((CAST(pos AS DOUBLE) / n) + z * z / (2 * n)
                - z * SQRT((CAST(pos AS DOUBLE) / n)
                           * (1 - CAST(pos AS DOUBLE) / n) / n
                           + z * z / (4.0 * n * n)))
               / (1 + z * z / n) AS wilson_lb
        FROM peritem, z),
    ranked AS (
        SELECT item_id, n, pos,
               ROUND(phat, 6) AS phat,
               ROUND(wilson_lb, 6) AS wilson_lb,
               CAST(ROW_NUMBER() OVER (ORDER BY ROUND(wilson_lb, 6) DESC,
                                       item_id) AS BIGINT) AS rank
        FROM scored)
    SELECT rank, item_id, n, pos, phat, wilson_lb
    FROM ranked WHERE rank <= {WILSON_TOP}
    ORDER BY rank
    """,
)
def wilson_ci_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X295: leaderboard by the Wilson score lower bound (Wilson 1927;
    the "how not to sort by average rating" correction) — rank items by
    the 95% lower confidence bound on their positive-rating proportion
    instead of the raw mean, so a 5/5 item cannot outrank a 480/520
    item on sample-size luck. Every input to the bound is an exact
    integer pair (n, pos) from ONE keyed agg; the bound itself is a
    fixed double expression tree (z = 1.96) written identically in both
    engines — division of exact integers, IEEE-correctly-rounded sqrt,
    no aggregation of floats anywhere — so wilson_lb is bit-identical
    and the leaderboard orders on ROUND(lb, 6) with an item tiebreak
    (the rounded-before-use discipline). The global top-{WILSON_TOP}
    compiles to TakeOrderedAndProject (per-partition top-k + one k-row
    merge); the rank window then runs on {WILSON_TOP} rows. Pinned
    (tests): wilson_lb < phat strictly for every item (the bound
    penalizes), the ranking differs from the raw-phat ranking on the
    fixture (the lesson the operator exists to teach), and bounds lie
    in [0, 1]. At 100 TB: one scan, one keyed agg, O(k) after."""
    from ..data import ratings_cached

    r = ratings_cached(spark, sf_dir)
    peritem = (
        r.groupBy("item_id")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("rating") >= REL_THRESHOLD).cast("int"))
            .cast("long")
            .alias("pos"),
        )
        .filter(F.col("n") >= WILSON_MIN_N)
    )
    z = F.lit(1.96)
    phat = F.col("pos").cast("double") / F.col("n")
    wilson = (
        phat
        + z * z / (2 * F.col("n"))
        - z
        * F.sqrt(
            phat * (1 - phat) / F.col("n")
            + z * z / (F.lit(4.0) * F.col("n") * F.col("n"))
        )
    ) / (1 + z * z / F.col("n"))
    scored = peritem.select(
        "item_id",
        "n",
        "pos",
        F.round(phat, 6).alias("phat"),
        F.round(wilson, 6).alias("wilson_lb"),
    )
    top = scored.orderBy(F.col("wilson_lb").desc(), "item_id").limit(
        WILSON_TOP
    )
    w_b = W.partitionBy(F.pmod(F.col("item_id"), F.lit(1))).orderBy(
        F.col("wilson_lb").desc(), "item_id"
    )
    return (
        top.withColumn("rank", F.row_number().over(w_b).cast("long"))
        .select("rank", "item_id", "n", "pos", "phat", "wilson_lb")
        .orderBy("rank")
    )


# SPRT constants, pinned as double LITERALS shared by both engines —
# never ln() evaluated at query time (DuckDB's libm and the JVM's
# StrictMath may differ in the last ulp): H0 p=0.5 vs H1 p=0.65 on the
# "conversion came from group B" Bernoulli stream, alpha = beta = 0.1.
SPRT_C1 = 0.26236426446749106  # ln(0.65 / 0.5), per group-B conversion
SPRT_C0 = -0.35667494393873245  # ln(0.35 / 0.5), per group-A conversion
SPRT_UP = 2.1972245773362196  # ln((1-beta)/alpha) = ln(9)
SPRT_LO = -2.1972245773362196  # ln(beta/(1-alpha))


@query(
    "ab_sequential_sprt",
    oracle=f"""
    WITH conv AS (
        SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
               CAST(list_sum(list_transform(range(15), i -> (strpos('0123456789abcdef', substr(md5('ab:' || user_id), CAST(i + 1 AS INT), 1)) - 1) * [72057594037927936, 4503599627370496, 281474976710656, 17592186044416, 1099511627776, 68719476736, 4294967296, 268435456, 16777216, 1048576, 65536, 4096, 256, 16, 1][i + 1])) AS BIGINT) % 2 AS grp
        FROM events WHERE event_type = 'purchase'),
    daily AS (
        SELECT day,
               CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
        FROM conv GROUP BY 1),
    cum AS (
        SELECT day,
               CAST(SUM(a) OVER (ORDER BY day) AS BIGINT) AS n_a_cum,
               CAST(SUM(b) OVER (ORDER BY day) AS BIGINT) AS n_b_cum
        FROM daily),
    llr AS (
        SELECT day, n_a_cum, n_b_cum,
               n_b_cum * CAST({SPRT_C1} AS DOUBLE)
                   + n_a_cum * CAST({SPRT_C0} AS DOUBLE) AS llr
        FROM cum),
    sig AS (
        SELECT *,
               CASE WHEN llr >= {SPRT_UP} THEN 'accept_h1'
                    WHEN llr <= {SPRT_LO} THEN 'accept_h0'
                    ELSE 'continue' END AS signal
        FROM llr),
    first_x AS (
        SELECT COALESCE(MIN(CASE WHEN signal <> 'continue' THEN day END),
                        9223372036854775807) AS x_day
        FROM sig)
    SELECT s.day, s.n_a_cum, s.n_b_cum, ROUND(s.llr, 6) AS llr, s.signal,
           s.day >= f.x_day AS decided
    FROM sig s, first_x f
    ORDER BY s.day
    """,
)
def ab_sequential_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X299: sequential probability ratio test monitoring (Wald 1945) —
    the sequential member of the A/B kit (ab_power_mde sizes the test,
    ab_srm_check gates the telemetry, welch/mann-whitney decide at a
    FIXED horizon; SPRT decides AS DATA ARRIVES with guaranteed
    error rates, the always-monitoring shape modern experiment
    platforms deploy). Stream = "did the conversion come from group
    B?" (deterministic h60 user split), H0 p=.5 vs H1 p=.65,
    alpha=beta=.1. Determinism: the four log constants are DOUBLE
    LITERALS shared by both engine texts — ln() is never evaluated at
    query time (libm vs StrictMath last-ulp risk); the daily LLR is
    recomputed FROM the exact integer cumulative counts (never a
    float cumsum), so it is two multiplies and one add — bit-identical
    — and the threshold comparisons branch identically. Crossing day
    propagates as a sticky `decided` flag via a min-aggregate over the
    bounded day table. Pinned (tests): LLR recomputes from the emitted
    counts, signal matches the thresholds row-for-row, and the
    null-true fixture drifts to accept_h0 (crossing fires at sf0.01).
    At 100 TB: one filtered scan → day-keyed counts; everything after
    is O(|days|)."""
    from .dedup import h60_spark

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    conv = ev.select(
        F.expr("CAST(FLOOR(unix_timestamp(ts)) AS BIGINT) DIV 86400").alias(
            "day"
        ),
        F.pmod(
            h60_spark(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))),
            F.lit(2),
        ).alias("grp"),
    )
    daily = conv.groupBy("day").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("b"),
    )
    w_cum = (
        W.partitionBy(F.pmod(F.col("day"), F.lit(1)))
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = daily.select(
        "day",
        F.sum("a").over(w_cum).alias("n_a_cum"),
        F.sum("b").over(w_cum).alias("n_b_cum"),
    )
    llr = F.col("n_b_cum") * F.lit(SPRT_C1) + F.col("n_a_cum") * F.lit(
        SPRT_C0
    )
    sig = cum.select(
        "day",
        "n_a_cum",
        "n_b_cum",
        llr.alias("llr"),
        F.when(llr >= SPRT_UP, "accept_h1")
        .when(llr <= SPRT_LO, "accept_h0")
        .otherwise("continue")
        .alias("signal"),
    )
    w_all = W.partitionBy(F.pmod(F.col("day"), F.lit(1))).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return (
        sig.withColumn(
            "x_day",
            F.min(
                F.when(F.col("signal") != "continue", F.col("day"))
            ).over(w_all),
        )
        .select(
            "day",
            "n_a_cum",
            "n_b_cum",
            F.round("llr", 6).alias("llr"),
            "signal",
            (
                F.col("day")
                >= F.coalesce(F.col("x_day"), F.lit(9223372036854775807))
            ).alias("decided"),
        )
        .orderBy("day")
    )


@query(
    "ratio_metric_delta_method",
    oracle=f"""
    WITH u AS (
        SELECT CAST(list_sum(list_transform(range(15), i -> (strpos('0123456789abcdef', substr(md5('ab:' || user_id), CAST(i + 1 AS INT), 1)) - 1) * [72057594037927936, 4503599627370496, 281474976710656, 17592186044416, 1099511627776, 68719476736, 4294967296, 268435456, 16777216, 1048576, 65536, 4096, 256, 16, 1][i + 1])) AS BIGINT) % 2 AS grp,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(ROUND(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY user_id),
    g AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM u GROUP BY 1),
    w AS (
        SELECT
            MAX(CASE WHEN grp = 0 THEN n END) AS n0,
            MAX(CASE WHEN grp = 0 THEN sx END) AS sx0,
            MAX(CASE WHEN grp = 0 THEN sy END) AS sy0,
            MAX(CASE WHEN grp = 0 THEN sxx END) AS sxx0,
            MAX(CASE WHEN grp = 0 THEN syy END) AS syy0,
            MAX(CASE WHEN grp = 0 THEN sxy END) AS sxy0,
            MAX(CASE WHEN grp = 1 THEN n END) AS n1,
            MAX(CASE WHEN grp = 1 THEN sx END) AS sx1,
            MAX(CASE WHEN grp = 1 THEN sy END) AS sy1,
            MAX(CASE WHEN grp = 1 THEN sxx END) AS sxx1,
            MAX(CASE WHEN grp = 1 THEN syy END) AS syy1,
            MAX(CASE WHEN grp = 1 THEN sxy END) AS sxy1
        FROM g)
    SELECT n0, n1, sx0, sy0, sx1, sy1,
           ROUND(CAST(sx0 AS DOUBLE) / sy0, 6) AS ratio0_cents,
           ROUND(CAST(sx1 AS DOUBLE) / sy1, 6) AS ratio1_cents,
           ROUND(CAST(sx1 AS DOUBLE) / sy1 - CAST(sx0 AS DOUBLE) / sy0, 6)
               AS diff_cents,
           ROUND(
             SQRT(
               (((CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE) * sx0 / n0)
                 - 2 * (CAST(sx0 AS DOUBLE) / sy0)
                   * (CAST(sxy0 AS DOUBLE) - CAST(sx0 AS DOUBLE) * sy0 / n0)
                 + (CAST(sx0 AS DOUBLE) / sy0) * (CAST(sx0 AS DOUBLE) / sy0)
                   * (CAST(syy0 AS DOUBLE) - CAST(sy0 AS DOUBLE) * sy0 / n0))
                / (n0 - 1)) / (n0 * (CAST(sy0 AS DOUBLE) / n0)
                               * (CAST(sy0 AS DOUBLE) / n0))
               +
               (((CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n1)
                 - 2 * (CAST(sx1 AS DOUBLE) / sy1)
                   * (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy1 / n1)
                 + (CAST(sx1 AS DOUBLE) / sy1) * (CAST(sx1 AS DOUBLE) / sy1)
                   * (CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * sy1 / n1))
                / (n1 - 1)) / (n1 * (CAST(sy1 AS DOUBLE) / n1)
                               * (CAST(sy1 AS DOUBLE) / n1))
             ), 6) AS se_cents
    FROM w
    """,
)
def ratio_metric_delta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X304: delta-method inference for a RATIO metric (revenue per
    event; Deng, Knoblich & Lu 2018 — the experimentation-platform
    primitive Welch cannot cover: when the metric is a ratio of two
    user-level sums, user is the randomization unit and naive
    per-event variance is wrong). Groups = the deterministic h60 user
    split (ab_sequential_sprt's). Per user: x = purchase revenue
    cents, y = event count — then EVERYTHING the method needs is six
    exact BIGINT sufficient statistics per group (n, Σx, Σy, Σx²,
    Σy², Σxy); the delta-method standard error
    var(x̄/ȳ) ≈ (Sxx − 2R·Sxy + R²·Syy) / (n·ȳ²) is one fixed double
    expression tree over them (IEEE sqrt at the end), emitted beside
    every raw integer so the oracle checks inputs and formula. Pinned
    (tests): the SE recomputes from the emitted integers via an
    independent numpy replica, ratios are positive, and the null-true
    split keeps |diff| within 4 SE. Plan: one user rollup (the
    randomization unit), one 2-row group rollup, scalar math — two
    exchanges at any scale."""
    from .dedup import h60_spark

    ev = load_table(spark, sf_dir, "events")
    # per-user sufficient stats (user = randomization unit), then the
    # group rollup
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        ).alias("x"),
        F.count("*").alias("y"),
    ).select(
        F.pmod(
            h60_spark(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))),
            F.lit(2),
        ).alias("grp"),
        "x",
        "y",
    )
    g = per_user.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    is0 = F.col("grp") == 0
    w = g.agg(
        *[
            F.max(F.when(cond, F.col(c))).alias(f"{c}{tag}")
            for cond, tag in ((is0, "0"), (~is0, "1"))
            for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
        ]
    )

    def var_term(tag: str):
        n = F.col(f"n{tag}").cast("double")
        sx = F.col(f"sx{tag}").cast("double")
        sy = F.col(f"sy{tag}").cast("double")
        sxx = F.col(f"sxx{tag}").cast("double")
        syy = F.col(f"syy{tag}").cast("double")
        sxy = F.col(f"sxy{tag}").cast("double")
        r = sx / sy
        Sxx = sxx - sx * F.col(f"sx{tag}") / F.col(f"n{tag}")
        Sxy = sxy - sx * F.col(f"sy{tag}") / F.col(f"n{tag}")
        Syy = syy - sy * F.col(f"sy{tag}") / F.col(f"n{tag}")
        ybar = sy / n
        return ((Sxx - 2 * r * Sxy + r * r * Syy) / (n - 1)) / (
            n * ybar * ybar
        )

    return w.select(
        "n0",
        "n1",
        "sx0",
        "sy0",
        "sx1",
        "sy1",
        F.round(F.col("sx0").cast("double") / F.col("sy0"), 6).alias(
            "ratio0_cents"
        ),
        F.round(F.col("sx1").cast("double") / F.col("sy1"), 6).alias(
            "ratio1_cents"
        ),
        F.round(
            F.col("sx1").cast("double") / F.col("sy1")
            - F.col("sx0").cast("double") / F.col("sy0"),
            6,
        ).alias("diff_cents"),
        F.round(F.sqrt(var_term("0") + var_term("1")), 6).alias("se_cents"),
    )


@query(
    "qini_uplift_deciles",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               CAST(list_sum(list_transform(range(15), i -> (strpos('0123456789abcdef', substr(md5('t:' || user_id), CAST(i + 1 AS INT), 1)) - 1) * [72057594037927936, 4503599627370496, 281474976710656, 17592186044416, 1099511627776, 68719476736, 4294967296, 268435456, 16777216, 1048576, 65536, 4096, 256, 16, 1][i + 1])) AS BIGINT) % 2 AS t,
               CAST(list_sum(list_transform(range(15), i -> (strpos('0123456789abcdef', substr(md5('q:' || user_id), CAST(i + 1 AS INT), 1)) - 1) * [72057594037927936, 4503599627370496, 281474976710656, 17592186044416, 1099511627776, 68719476736, 4294967296, 268435456, 16777216, 1048576, 65536, 4096, 256, 16, 1][i + 1])) AS BIGINT) % 10 AS decile,
               CAST(CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                       THEN 1 ELSE 0 END) >= 14
                         THEN 1 ELSE 0 END AS BIGINT) AS conv
        FROM events GROUP BY user_id),
    d AS (
        SELECT decile,
               CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
               CAST(SUM(CASE WHEN t = 1 THEN conv ELSE 0 END) AS BIGINT)
                   AS conv_t,
               CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
               CAST(SUM(CASE WHEN t = 0 THEN conv ELSE 0 END) AS BIGINT)
                   AS conv_c
        FROM u GROUP BY 1),
    terms AS (
        SELECT *,
               CAST(ROUND((conv_t - CASE WHEN n_c > 0
                           THEN CAST(conv_c AS DOUBLE) * n_t / n_c
                           ELSE 0 END) * 1000000) AS BIGINT) AS term_micro
        FROM d)
    SELECT decile, n_t, conv_t, n_c, conv_c,
           ROUND(CASE WHEN n_t > 0 THEN CAST(conv_t AS DOUBLE) / n_t
                      ELSE 0 END
                 - CASE WHEN n_c > 0 THEN CAST(conv_c AS DOUBLE) / n_c
                        ELSE 0 END, 6) AS uplift_rate,
           ROUND(CAST(CAST(SUM(term_micro) OVER (ORDER BY decile)
                           AS BIGINT) AS DOUBLE) / 1000000, 6)
               AS qini_cum
    FROM terms
    ORDER BY decile
    """,
)
def qini_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X316: Qini uplift table by score decile (Radcliffe 2007) — the
    uplift-modeling twin of decile_lift_table: instead of ranking by
    response, rank by a putative uplift score and report, per decile,
    treated vs control conversion and the cumulative Qini value
    q(k) = Σ_{{d<=k}} (conv_t − conv_c·n_t/n_c) — the area under which
    is THE uplift-model selection metric. Conversion = per-user
    purchase count >= 14 (near the fixture's Poisson mean, so both
    converters and non-converters exist in every arm); scores and
    treatment come from independent h60 hashes (a null uplift model
    on null-true data), so the honest reading is a FLAT Qini curve — the no-signal
    baseline real models must clear, pinned within noise in the test.
    Determinism: per-decile terms are fixed double expressions over
    four exact integers, ROUNDED TO INTEGER MICRO-UNITS before the
    cumulative sum (windowed float sums are segment-tree-ordered in
    DuckDB — only integer cumulatives are add-order-free), the
    established causal_impact discipline. Plan: one user rollup, one
    10-row decile rollup, a pmod window over 10 rows."""
    from .dedup import h60_spark

    ev = load_table(spark, sf_dir, "events")
    hq = F.pmod(
        h60_spark(F.concat(F.lit("q:"), F.col("user_id").cast("string"))),
        F.lit(10),
    )
    ht = F.pmod(
        h60_spark(F.concat(F.lit("t:"), F.col("user_id").cast("string"))),
        F.lit(2),
    )
    u = ev.groupBy("user_id").agg(
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14
        ).cast("long").alias("conv")
    ).select(ht.alias("t"), hq.alias("decile"), "conv")
    d = u.groupBy("decile").agg(
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("t") == 1, F.col("conv")).otherwise(0)).alias(
            "conv_t"
        ),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).alias("n_c"),
        F.sum(F.when(F.col("t") == 0, F.col("conv")).otherwise(0)).alias(
            "conv_c"
        ),
    )
    # empty-arm guard: tiny fixtures can leave a decile without one arm
    term_micro = F.round(
        (
            F.col("conv_t")
            - F.when(
                F.col("n_c") > 0,
                F.col("conv_c").cast("double") * F.col("n_t") / F.col("n_c"),
            ).otherwise(0.0)
        )
        * 1000000
    ).cast("long")
    w_cum = (
        W.partitionBy(F.pmod(F.col("decile"), F.lit(1)))
        .orderBy("decile")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        d.withColumn("term_micro", term_micro)
        .select(
            "decile",
            "n_t",
            "conv_t",
            "n_c",
            "conv_c",
            F.round(
                F.when(
                    F.col("n_t") > 0,
                    F.col("conv_t").cast("double") / F.col("n_t"),
                ).otherwise(0.0)
                - F.when(
                    F.col("n_c") > 0,
                    F.col("conv_c").cast("double") / F.col("n_c"),
                ).otherwise(0.0),
                6,
            ).alias("uplift_rate"),
            F.round(
                F.sum("term_micro").over(w_cum).cast("double") / 1000000, 6
            ).alias("qini_cum"),
        )
        .orderBy("decile")
    )


PERM_R = 200  # randomization replicates


def _perm_diff_micro_sql(s1: str, n1: str, s0: str, n0: str) -> str:
    """Exact-integer-fed mean difference rounded to BIGINT micro-cents —
    one division per arm over exact integers, correctly rounded IEEE both
    engines, then an integer round (the shared-rounded-constant move that
    makes the >= comparison below an INTEGER compare)."""
    return (
        f"CAST(ROUND((CASE WHEN {n1} > 0 THEN CAST({s1} AS DOUBLE) / {n1} "
        f"ELSE 0 END - CASE WHEN {n0} > 0 THEN CAST({s0} AS DOUBLE) / {n0} "
        f"ELSE 0 END) * 1000000) AS BIGINT)"
    )


@query(
    "permutation_test_diff",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               {{h_t}} % 2 AS t
        FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    obs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN t = 1 THEN cents ELSE 0 END) AS BIGINT)
                   AS s1,
               CAST(SUM(CASE WHEN t = 1 THEN cnt ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(SUM(CASE WHEN t = 0 THEN cents ELSE 0 END) AS BIGINT)
                   AS s0,
               CAST(SUM(CASE WHEN t = 0 THEN cnt ELSE 0 END) AS BIGINT)
                   AS n0
        FROM u),
    reps AS (
        SELECT r.r,
               CAST(SUM(CASE WHEN {{h_r}} % 2 = 1
                             THEN u.cents ELSE 0 END) AS BIGINT) AS s1,
               CAST(SUM(CASE WHEN {{h_r}} % 2 = 1
                             THEN u.cnt ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN {{h_r}} % 2 = 0
                             THEN u.cents ELSE 0 END) AS BIGINT) AS s0,
               CAST(SUM(CASE WHEN {{h_r}} % 2 = 0
                             THEN u.cnt ELSE 0 END) AS BIGINT) AS n0
        FROM u, (SELECT CAST(UNNEST(range({PERM_R})) AS BIGINT) AS r) r
        GROUP BY 1),
    od AS (
        SELECT n_users,
               {_perm_diff_micro_sql('s1', 'n1', 's0', 'n0')}
                   AS diff_obs_micro
        FROM obs),
    rd AS (
        SELECT r, {_perm_diff_micro_sql('s1', 'n1', 's0', 'n0')}
                   AS diff_micro
        FROM reps)
    SELECT od.n_users,
           od.diff_obs_micro,
           CAST({PERM_R} AS BIGINT) AS n_replicates,
           CAST(SUM(CASE WHEN ABS(rd.diff_micro) >= ABS(od.diff_obs_micro)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
           ROUND((1.0 + SUM(CASE WHEN ABS(rd.diff_micro)
                                      >= ABS(od.diff_obs_micro)
                                 THEN 1 ELSE 0 END))
                 / (1.0 + {PERM_R}), 6) AS p_value
    FROM rd, od
    GROUP BY 1, 2
    """.format(
        h_t="CAST(list_sum(list_transform(range(15), i -> "
        "(strpos('0123456789abcdef', substr(md5('t:' || user_id), "
        "CAST(i + 1 AS INT), 1)) - 1) * [72057594037927936, "
        "4503599627370496, 281474976710656, 17592186044416, "
        "1099511627776, 68719476736, 4294967296, 268435456, 16777216, "
        "1048576, 65536, 4096, 256, 16, 1][i + 1])) AS BIGINT)",
        h_r="CAST(list_sum(list_transform(range(15), gi -> "
        "(strpos('0123456789abcdef', substr(md5('perm:' || r.r || ':' || "
        "u.user_id), CAST(gi + 1 AS INT), 1)) - 1) * [72057594037927936, "
        "4503599627370496, 281474976710656, 17592186044416, "
        "1099511627776, 68719476736, 4294967296, 268435456, 16777216, "
        "1048576, 65536, 4096, 256, 16, 1][gi + 1])) AS BIGINT)",
    ),
)
def permutation_test_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X321: cluster-randomization test for the difference in mean
    purchase value between two user cohorts — the nonparametric
    companion to welch_ttest (X100) that makes NO normality assumption:
    re-randomize the treatment label at the USER level R={PERM_R} times
    and count replicates whose |mean diff| reaches the observed one;
    p = (1 + n_ge)/(1 + R) (the add-one randomization-test estimator).
    Scale shape: the corpus collapses ONCE to per-user sufficient stats
    (cents, count) — the replicate explosion multiplies |users| x R
    collapsed rows, never events — then one keyed agg to R rows.
    Determinism: assignments are h60 md5 hashes (observed 't:user',
    replicate 'perm:r:user' — the qini/bootstrap discipline), arm sums
    are exact BIGINTs, each replicate's mean diff is rounded to integer
    MICRO-cents before the tail comparison, so |diff_r| >= |diff_obs|
    is an INTEGER compare in both engines — no float boundary can flip
    a count. Null-true by construction (labels independent of value):
    the test gates p against degenerate extremes."""
    from .dedup import h60_spark

    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
            F.count("*").cast("long").alias("cnt"),
        )
        .select(
            "user_id",
            "cents",
            "cnt",
            F.pmod(
                h60_spark(
                    F.concat(F.lit("t:"), F.col("user_id").cast("string"))
                ),
                F.lit(2),
            ).alias("t"),
        )
    )

    def arm_sums(df, flag):
        one = F.when(flag == 1, F.col("cents")).otherwise(0)
        zero = F.when(flag == 0, F.col("cents")).otherwise(0)
        onec = F.when(flag == 1, F.col("cnt")).otherwise(0)
        zeroc = F.when(flag == 0, F.col("cnt")).otherwise(0)
        return [
            F.sum(one).cast("long").alias("s1"),
            F.sum(onec).cast("long").alias("n1"),
            F.sum(zero).cast("long").alias("s0"),
            F.sum(zeroc).cast("long").alias("n0"),
        ]

    def diff_micro() -> F.Column:
        mean = lambda s, n: F.when(  # noqa: E731
            F.col(n) > 0, F.col(s).cast("double") / F.col(n)
        ).otherwise(0.0)
        return (
            F.round((mean("s1", "n1") - mean("s0", "n0")) * 1000000)
            .cast("long")
        )

    obs = u.agg(
        F.count("*").cast("long").alias("n_users"), *arm_sums(u, F.col("t"))
    ).select("n_users", diff_micro().alias("diff_obs_micro"))

    x = u.select(
        "user_id",
        "cents",
        "cnt",
        F.explode(F.sequence(F.lit(0), F.lit(PERM_R - 1))).alias("r"),
    )
    hr = F.pmod(
        h60_spark(
            F.concat(
                F.lit("perm:"),
                F.col("r").cast("string"),
                F.lit(":"),
                F.col("user_id").cast("string"),
            )
        ),
        F.lit(2),
    )
    reps = (
        x.withColumn("g", hr)
        .groupBy("r")
        .agg(*arm_sums(x, F.col("g")))
        .select("r", diff_micro().alias("diff_micro"))
    )
    return (
        reps.crossJoin(F.broadcast(obs))
        .agg(
            F.first("n_users").alias("n_users"),
            F.first("diff_obs_micro").alias("diff_obs_micro"),
            F.lit(PERM_R).cast("long").alias("n_replicates"),
            F.sum(
                (
                    F.abs(F.col("diff_micro"))
                    >= F.abs(F.col("diff_obs_micro"))
                ).cast("long")
            )
            .cast("long")
            .alias("n_ge"),
            F.round(
                (
                    1.0
                    + F.sum(
                        (
                            F.abs(F.col("diff_micro"))
                            >= F.abs(F.col("diff_obs_micro"))
                        ).cast("long")
                    )
                )
                / F.lit(1.0 + PERM_R),
                6,
            ).alias("p_value"),
        )
    )


from .relational import ORACLE_EPOCH as _OE

EPOCH_TS = _OE.format(col="ts")

_CUPED_H = (
    "CAST(list_sum(list_transform(range(15), i -> "
    "(strpos('0123456789abcdef', substr(md5('t:' || user_id), "
    "CAST(i + 1 AS INT), 1)) - 1) * [72057594037927936, "
    "4503599627370496, 281474976710656, 17592186044416, 1099511627776, "
    "68719476736, 4294967296, 268435456, 16777216, 1048576, 65536, "
    "4096, 256, 16, 1][i + 1])) AS BIGINT) % 2"
)


@query(
    "ab_cuped_adjustment",
    oracle=f"""
    WITH span AS (
        SELECT MIN(CAST(FLOOR({EPOCH_TS} / 86400) AS BIGINT)) AS d0,
               MAX(CAST(FLOOR({EPOCH_TS} / 86400) AS BIGINT)) AS d1
        FROM events),
    u AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                              AND CAST(FLOOR({EPOCH_TS} / 86400) AS BIGINT)
                                  < (SELECT (d0 + d1 + 1) // 2 FROM span)
                             THEN CAST(ROUND(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                              AND CAST(FLOOR({EPOCH_TS} / 86400) AS BIGINT)
                                  >= (SELECT (d0 + d1 + 1) // 2 FROM span)
                             THEN CAST(ROUND(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y,
               {_CUPED_H} AS t
        FROM events GROUP BY user_id),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(SUM(CASE WHEN t = 1 THEN x ELSE 0 END) AS BIGINT)
                   AS sx1,
               CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT)
                   AS sy1,
               CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n0,
               CAST(SUM(CASE WHEN t = 0 THEN x ELSE 0 END) AS BIGINT)
                   AS sx0,
               CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT)
                   AS sy0
        FROM u)
    SELECT n, n1, n0,
           CAST(n * sxy - sx * sy AS BIGINT) AS cov_n2,
           CAST(n * sxx - sx * sx AS BIGINT) AS varx_n2,
           CAST(n * syy - sy * sy AS BIGINT) AS vary_n2,
           ROUND(CASE WHEN n * sxx - sx * sx > 0
                      THEN CAST(n * sxy - sx * sy AS DOUBLE)
                           / (n * sxx - sx * sx)
                      ELSE 0 END, 6) AS theta,
           ROUND(CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0, 6)
               AS raw_diff_cents,
           ROUND(CASE WHEN n * sxx - sx * sx > 0
                      THEN (CAST(sy1 AS DOUBLE) / n1
                            - CAST(n * sxy - sx * sy AS DOUBLE)
                              / (n * sxx - sx * sx) * sx1 / n1)
                           - (CAST(sy0 AS DOUBLE) / n0
                              - CAST(n * sxy - sx * sy AS DOUBLE)
                                / (n * sxx - sx * sx) * sx0 / n0)
                      ELSE CAST(sy1 AS DOUBLE) / n1
                           - CAST(sy0 AS DOUBLE) / n0
                 END, 6) AS adj_diff_cents,
           ROUND(CASE WHEN n * sxx - sx * sx > 0
                       AND n * syy - sy * sy > 0
                      THEN CAST(n * sxy - sx * sy AS DOUBLE)
                           * (n * sxy - sx * sy)
                           / (n * sxx - sx * sx)
                           / (n * syy - sy * sy)
                      ELSE 0 END, 6) AS var_reduction
    FROM s
    """,
)
def ab_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X332: CUPED variance reduction (Deng et al. 2013, WSDM) — THE
    modern A/B-test adjustment: regress each user's experiment-period
    spend Y on their PRE-period spend X (theta = cov/var), report the
    covariate-adjusted treatment effect and the variance reduction
    rho^2 the adjustment buys. Pre/post split at the integer midpoint
    day ((d0+d1+1) DIV 2); treatment is the h60 null-true assignment
    (labels independent of spend, so the honest readout is adj_diff ~
    raw_diff ~ 0 while var_reduction is driven by the real X-Y
    user-level correlation). Determinism: the corpus collapses to
    per-user (x, y) exact cents, then ONE reduce to the 12 sufficient
    statistics; cov/var ship as the exact BIGINTs n*Sxy-SxSy etc.
    (emitted, so theta/adj_diff/var_reduction all recompute from the
    row), and every float column is one shared IEEE tree over those
    integers, rounded 6. Plan: one user rollup + one 1-row reduce —
    scan-bound; the midpoint is a 1-row broadcast."""
    from .dedup import h60_spark

    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        F.expr(
            "(MIN(CAST(FLOOR(unix_timestamp(ts) / 86400) AS BIGINT))"
            " + MAX(CAST(FLOOR(unix_timestamp(ts) / 86400) AS BIGINT))"
            " + 1) DIV 2"
        ).alias("mid")
    )
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    cents = F.round(F.col("value") * 100).cast("long")
    is_p = F.col("event_type") == "purchase"
    u = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(is_p & (day < F.col("mid")), cents).otherwise(0)
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(is_p & (day >= F.col("mid")), cents).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
        .select(
            "x",
            "y",
            F.pmod(
                h60_spark(
                    F.concat(F.lit("t:"), F.col("user_id").cast("string"))
                ),
                F.lit(2),
            ).alias("t"),
        )
    )
    s = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("t") == 1, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sx1"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sy1"),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("t") == 0, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sx0"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sy0"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cov = (n * F.col("sxy") - sx * sy).cast("long")
    varx = (n * F.col("sxx") - sx * sx).cast("long")
    vary = (n * F.col("syy") - sy * sy).cast("long")
    theta = cov.cast("double") / varx
    mean = lambda sc, nc: F.col(sc).cast("double") / F.col(nc)  # noqa: E731
    raw = mean("sy1", "n1") - mean("sy0", "n0")
    adj = (
        mean("sy1", "n1")
        - theta * F.col("sx1") / F.col("n1")
    ) - (
        mean("sy0", "n0")
        - theta * F.col("sx0") / F.col("n0")
    )
    return s.select(
        "n",
        "n1",
        "n0",
        cov.alias("cov_n2"),
        varx.alias("varx_n2"),
        vary.alias("vary_n2"),
        F.round(F.when(varx > 0, theta).otherwise(0.0), 6).alias("theta"),
        F.round(raw, 6).alias("raw_diff_cents"),
        F.round(F.when(varx > 0, adj).otherwise(raw), 6).alias(
            "adj_diff_cents"
        ),
        F.round(
            F.when(
                (varx > 0) & (vary > 0),
                cov.cast("double") * cov / varx / vary,
            ).otherwise(0.0),
            6,
        ).alias("var_reduction"),
    )


@query(
    "expected_calibration_error",
    oracle=f"""
    WITH e AS ({{enc}}),
    s AS (SELECT {{pred}} AS pred,
                 (rating >= {REL_THRESHOLD})::INT AS pos
          FROM e),
    m AS (SELECT CAST(FLOOR(pred * 100) AS BIGINT) AS bin,
                 CAST(FLOOR(pred * 1000) AS BIGINT) AS pred_milli,
                 pos
          FROM s),
    b AS (
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(pred_milli) AS BIGINT) AS sum_milli
        FROM m GROUP BY 1),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM b)
    SELECT b.bin, b.n, b.n_pos, b.sum_milli,
           ROUND(CAST(b.n_pos AS DOUBLE) / b.n, 6) AS acc,
           ROUND(CAST(b.sum_milli AS DOUBLE) / 1000 / b.n, 6) AS conf,
           CAST(ROUND(1000000 * (CAST(b.n AS DOUBLE) / t.n_total)
                      * ABS(CAST(b.n_pos AS DOUBLE) / b.n
                            - CAST(b.sum_milli AS DOUBLE) / 1000 / b.n))
                AS BIGINT) AS ece_term_micro
    FROM b, t
    ORDER BY b.bin
    """.format(enc=ENCODED_SQL, pred=_PRED_SQL),
)
def expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X350: expected calibration error — the headline scalar of the
    reliability diagram (calibration_bins, X99): ECE = Sigma_b
    (n_b/N) * |accuracy_b - confidence_b| over fixed-width score bins
    (centi-bins — the hash-init model's scores live in ~[0.005, 0.04],
    so decile bins would collapse to one), the
    number quoted when a model's probabilities are audited. The float
    trap is confidence: AVG(pred) is an order-dependent float sum, so
    confidence aggregates the INTEGER milli-quantization floor(pred *
    1000) (exact BIGINT sums, the same quantile-free discipline as
    X99's fixed-width bins) and every per-bin ECE term is ONE shared
    double expression over four exact integers, rounded to BIGINT
    MICRO-units — the dataset ECE is their order-free integer sum
    (test-pinned against the emitted columns). Plan: one keyed bin
    rollup + a 1-row total broadcast — scan-bound."""
    e = encoded_ratings(spark, sf_dir)
    m = e.select(
        _pred_expr().alias("pred"),
        (F.col("rating") >= REL_THRESHOLD).cast("int").alias("pos"),
    ).select(
        F.floor(F.col("pred") * 100).cast("long").alias("bin"),
        F.floor(F.col("pred") * 1000).cast("long").alias("pred_milli"),
        "pos",
    )
    b = m.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("pred_milli").cast("long").alias("sum_milli"),
    )
    t = b.agg(F.sum("n").cast("long").alias("n_total"))
    acc = F.col("n_pos").cast("double") / F.col("n")
    conf = F.col("sum_milli").cast("double") / 1000 / F.col("n")
    return (
        b.crossJoin(F.broadcast(t))
        .select(
            "bin",
            "n",
            "n_pos",
            "sum_milli",
            F.round(acc, 6).alias("acc"),
            F.round(conf, 6).alias("conf"),
            F.round(
                1000000
                * (F.col("n").cast("double") / F.col("n_total"))
                * F.abs(acc - conf)
            )
            .cast("long")
            .alias("ece_term_micro"),
        )
        .orderBy("bin")
    )
