"""Declared queries backed by the training models (SURVEY.md §2.6-2.7).

The factor math is genuinely non-SQL-expressible (iterative SGD /
blocked ALS), so no DuckDB oracle can replay the VALUES — numeric
correctness stays pinned by tests/test_model_parity.py (1e-9 vs an
independent numpy replica) and metric-tolerance tests. What SQL *can*
check is the training CONTRACT, so since round 5 each query emits
replica-pinned invariant columns (VERDICT r04 item 6) — finite,
internally-consistent metrics; monotone train RMSE; holdout beats the
global-mean baseline; every training user gets exactly k distinct known
recommendations with sorted scores — and the oracle derives the exact
expected row set, giving the driver full rows+schema+value verdicts
instead of an ``err: no_oracle`` flag.

Everything is deterministic: hash-based split, hash-uniform init, fixed
seeds — so row counts, schemas, and invariant outcomes are stable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data import RATINGS_SQL, latest_ratings
from ..registry import query
from .als import ALS
from .funk_svd import FunkSVD
from .mllib_als import fit_mllib_als, recommend_top_k

FIT_EPOCHS = 3
RECOMMEND_K = 5


# Per-epoch rows carry only TRUE invariants (finite metrics, MAE <= RMSE,
# RMSE^2 = MSE); the EMPIRICAL training outcomes live on ONE summary row
# (epoch -2) as a bitfield so a legitimate hyperparameter/data change can
# flip at most one row, and its value says which claim moved (ADVICE r05:
# SGD does not guarantee per-epoch monotonicity, so per-epoch constants
# were a spurious-red risk). improved bitfield: +1 = final train RMSE <=
# first train RMSE (the fit made progress overall), +2 = final train RMSE
# below the global-mean predictor's train RMSE; expected 3. Non-summary
# rows emit the literal 3 (schema placeholder, documented, not a claim).
_FIT_METRICS_ORACLE = f"""
    SELECT CAST(e AS INT) AS epoch,
           CASE WHEN e = -2 THEN 'summary'
                WHEN e = -1 THEN 'test' ELSE 'train' END AS phase,
           1 AS metrics_finite, 1 AS mae_le_rmse,
           1 AS mse_rmse_consistent, 3 AS improved
    FROM (SELECT UNNEST({[-2, -1] + list(range(FIT_EPOCHS))}) AS e)
    ORDER BY epoch
    """


def _fit_metrics_df(spark, sf_dir, model_cls, epochs=FIT_EPOCHS, k=4):
    r = latest_ratings(spark, sf_dir)
    train = r.filter(F.col("interaction_id") % 10 < 7)
    test = r.filter(F.col("interaction_id") % 10 >= 7)
    # lr=0.001 is the reference's own published config AND the stability
    # fix for the 30x sweep: at lr=0.005 full-batch GD sits near the
    # stability edge, and with 30 key-shifted replicas (30 independent
    # inits) one replica diverged by epoch 3 at sf3 (train RMSE
    # 1.4005 -> 1.4254), zeroing the summary row's `improved` bitfield.
    # At lr=0.001 both models show improved=3 at sf0.001/sf0.01/sf1/sf3
    # (measured r08) with 5x margin to the observed divergence point.
    m = model_cls(n_factors=k, lr=0.001, reg=0.001, epochs=epochs)
    m.fit(train, user_col="user_id", item_col="item_id", rating_col="rating",
          collect_errors=True)
    mae, mse, rmse = m.eval(m.predict(test))
    # global-mean baseline RMSE on the TRAIN split, one relational
    # aggregate: the yardstick for the summary row's `improved` bitfield —
    # SGD reliably achieves in-sample improvement over the mean predictor
    # at every SF; OUT-of-sample wins need sf0.1 density + 100 epochs
    # (bench.py's holdout 0.643 vs 0.748), so that stronger claim lives in
    # the bench headline, not in a short-fit invariant
    mu = float(train.agg(F.avg("rating")).first()[0])
    base_rmse = float(
        train.agg(
            F.sqrt(F.avg((F.col("rating") - F.lit(mu)) ** 2))
        ).first()[0]
    )

    def flags(tmae: float, tmse: float, trmse: float):
        return (
            int(all(math.isfinite(x) and x > 0 for x in (tmae, tmse, trmse))),
            int(tmae <= trmse + 1e-9),
            int(abs(trmse * trmse - tmse) <= 1e-6),
            3,  # placeholder — the empirical claim lives on the summary row
        )

    rows = []
    for e, (tmae, tmse, trmse) in enumerate(m.train_errors):
        rows.append((e, "train", *flags(tmae, tmse, trmse)))
    rows.append((-1, "test", *flags(mae, mse, rmse)))
    # summary row: invariant flags AND-ed over every row above, plus the
    # empirical bitfield (+1 overall train-RMSE decrease, +2 fit beats the
    # global-mean predictor in-sample) — see _FIT_METRICS_ORACLE comment
    first_rmse = m.train_errors[0][2]
    last_rmse = m.train_errors[-1][2]
    improved = int(last_rmse <= first_rmse + 1e-9) + 2 * int(last_rmse < base_rmse)
    rows.append(
        (
            -2,
            "summary",
            min(r[2] for r in rows),
            min(r[3] for r in rows),
            min(r[4] for r in rows),
            improved,
        )
    )
    return spark.createDataFrame(
        sorted(rows),
        "epoch int, phase string, metrics_finite int, mae_le_rmse int,"
        " mse_rmse_consistent int, improved int",
    ).orderBy("epoch")


@query("funk_svd_fit_metrics", oracle=_FIT_METRICS_ORACLE)
def funk_svd_fit_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 (SURVEY.md §7.3): FunkSVD relational SGD end-to-end — dedup →
    encode → fit (3 epochs, k=4) → predict held-out → eval — emitted as
    the invariant audit the oracle can pin: per-epoch metrics finite,
    MAE ≤ RMSE (Jensen), RMSE² = MSE as true per-row invariants, and ONE
    epoch=-2 summary row whose `improved` bitfield carries the empirical
    training outcomes (+1 = final train RMSE ≤ first, +2 = final train
    RMSE below the global-mean predictor on the same split; expected 3) —
    summary-row placement per ADVICE r05 so a legitimate hyperparameter
    change can flip at most one diagnosable row. The out-of-sample win
    needs sf0.1 density + 100 epochs and lives in bench.py's holdout
    headline. Raw per-epoch values live in BENCH_*.json and
    tests/test_model_metrics.py."""
    return _fit_metrics_df(spark, sf_dir, FunkSVD)


@query("als_fit_metrics", oracle=_FIT_METRICS_ORACLE)
def als_fit_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: the "ALS" (alternating GD) variant — two error recomputes per
    epoch (reference models/als.py:160-174) — under the same invariant
    audit as funk_svd_fit_metrics."""
    return _fit_metrics_df(spark, sf_dir, ALS)


@query(
    "mllib_als_recommend",
    oracle=f"""
    WITH r AS MATERIALIZED ({RATINGS_SQL}),
    k AS (SELECT CAST(LEAST({RECOMMEND_K}, COUNT(DISTINCT item_id)) AS INT)
                 AS n FROM r)
    SELECT DISTINCT CAST(user_id AS INT) AS user_id,
           k.n AS n_recs, 1 AS recs_distinct,
           1 AS scores_sorted, 1 AS items_known
    FROM r, k ORDER BY user_id
    """,
)
def mllib_als_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 fast path: MLlib ALS (rank 8, 5 iters, seed 7) fit on the
    derived ratings; per-user top-{RECOMMEND_K} via the blocked BLAS
    recommendForAllUsers — emitted as the per-user contract audit:
    EVERY training user present (the oracle derives the exact expected
    user set from the ratings derivation, so a dropped user is a
    row-count failure), exactly min({RECOMMEND_K}, |distinct items|)
    recommendations each (the recommendForAllUsers contract — the oracle
    derives LEAST rather than hardcoding {RECOMMEND_K}, ADVICE r05),
    all distinct, all drawn from the training item set, scores
    non-increasing in rank. The factor values themselves are
    non-SQL-expressible; entry() still serves the raw top-k rows as the
    flagship output."""
    r = latest_ratings(spark, sf_dir).withColumns(
        {
            "user_id": F.col("user_id").cast("int"),
            "item_id": F.col("item_id").cast("int"),
            "rating": F.col("rating").cast("float"),
        }
    )
    model = fit_mllib_als(r, rank=8, max_iter=5)
    recs = recommend_top_k(model, RECOMMEND_K)
    items = r.select("item_id").distinct().withColumn("known", F.lit(1))
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("rnk")
    flagged = recs.join(F.broadcast(items), "item_id", "left").withColumn(
        "prev_score", F.lag("score").over(w)
    )
    return (
        flagged.groupBy("user_id")
        .agg(
            F.count("*").cast("int").alias("n_recs"),
            (F.countDistinct("item_id") == F.count("*"))
            .cast("int")
            .alias("recs_distinct"),
            F.min(
                F.when(
                    F.col("prev_score").isNull()
                    | (F.col("prev_score") >= F.col("score")),
                    1,
                ).otherwise(0)
            )
            .cast("int")
            .alias("scores_sorted"),
            F.min(F.coalesce(F.col("known"), F.lit(0))).cast("int").alias("items_known"),
        )
        .select(
            F.col("user_id").cast("int").alias("user_id"),
            "n_recs",
            "recs_distinct",
            "scores_sorted",
            "items_known",
        )
        .orderBy("user_id")
    )
