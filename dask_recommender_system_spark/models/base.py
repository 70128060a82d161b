"""Base class for the reference-parity SGD matrix-factorization models.

Reference: ``models/funk_svd.py`` and ``models/als.py`` of
anzemur/dask-recommender-system — full-batch gradient descent over a
block-chunked Dask array. Re-expressed relationally (SURVEY.md §1.4): the
masked error matrix has support only on observed (user,item) pairs, so

    error        → err column on the ratings rows
    da.sum ax=1  → groupBy(u_idx).sum            (bias gradient, A5)
    error @ Q    → groupBy(u_idx).sum(err·q_j)   (factor gradient, L6)
    (Pᵀ@error)ᵀ  → groupBy(i_idx).sum(err·p_j)
    θ += lr·g    → join params ⋈ grads, column arithmetic (L7)

Semantics preserved exactly (micro-parity-tested in
tests/test_model_parity.py):
- bias regularizer scaled by the full axis length — bu's update is
  lr·(Σ_items err − n_items·reg·bu) because reg·bu sits *inside* the
  axis-sum (models/als.py:168; SURVEY.md §1.4 caveat 2); same for bi with
  n_users. Factor regularizers are NOT axis-scaled.
- cold-start predictions return μ *unclipped*; known pairs are clipped to
  [min_rating, max_rating] (models/als.py:202-214).
- per-model init distribution and error-recompute cadence differ — see the
  subclasses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .common import (
    CorpusStats,
    broadcast_if_fits,
    checkpoint,
    corpus_stats,
    dot_wide,
    encode_column,
    init_params,
    metrics_row,
)


class _SGDRecommenderBase:
    #: salt distinguishing user-vs-item init streams
    _U_SALT, _I_SALT = 1, 2

    def __init__(
        self,
        n_factors: int = 30,
        lr: float = 0.001,
        reg: float = 0.001,
        epochs: int = 100,
        init_scale: float = 0.1,
        shuffle_partitions: int | None = None,
    ) -> None:
        self.k = n_factors
        self.lr = lr
        self.reg = reg
        self.epochs = epochs
        self.init_scale = init_scale
        self.shuffle_partitions = shuffle_partitions
        self.stats: CorpusStats | None = None
        self.u_map: DataFrame | None = None
        self.i_map: DataFrame | None = None
        self.u_params: DataFrame | None = None
        self.i_params: DataFrame | None = None
        self.train_errors: list[tuple[float, float, float]] = []
        #: wall seconds per epoch (filled by _run_epochs) — flatness at
        #: epoch 100 is the observable proof of O(1) plan depth
        self.epoch_times: list[float] = []

    # ---------------------------------------------------------------- fit

    def fit(
        self,
        train_df: DataFrame,
        user_col: str = "user",
        item_col: str = "item",
        rating_col: str = "rating",
        collect_errors: bool = False,
        u_params_init: DataFrame | None = None,
        i_params_init: DataFrame | None = None,
    ) -> "_SGDRecommenderBase":
        """Reference fit() pipeline (models/als.py:139-191): preprocess →
        COO → init → epoch loop → materialize. ``*_params_init`` lets the
        parity tests inject exact initial factors (FIXTURES.md §2)."""
        self.user_col, self.item_col = user_col, item_col
        spark = train_df.sparkSession
        n_part = self.shuffle_partitions or spark.sparkContext.defaultParallelism

        # preprocess: encode ids (A2/J1) and build the COO triples (L1).
        self.u_map = checkpoint(encode_column(train_df, user_col, "u_idx"))
        self.i_map = checkpoint(encode_column(train_df, item_col, "i_idx"))
        r_enc = (
            train_df.select(
                F.col(user_col).alias("value_u"),
                F.col(item_col).alias("value_i"),
                F.col(rating_col).cast("double").alias("rating"),
            )
            .join(self.u_map.withColumnRenamed("value", "value_u"), "value_u")
            .join(self.i_map.withColumnRenamed("value", "value_i"), "value_i")
            .select("u_idx", "i_idx", "rating")
            # the chunk grid's moral equivalent (models/als.py:53-62):
            # co-partition the facts by user so every epoch's u-side
            # join/agg reuses one partitioning — and SORT within
            # partitions so the per-epoch params join is a zero-exchange
            # zero-sort SortMergeJoin against the identically
            # partitioned+sorted factor checkpoints (guide §2.4: two
            # operations keyed the same way share one exchange; the sort
            # is paid once at materialization, never per epoch).
            .repartition(n_part, "u_idx")
            .sortWithinPartitions("u_idx")
        )
        r_enc = r_enc.persist()
        self.stats = corpus_stats(r_enc)

        u_ids = self.u_map.select("u_idx")
        i_ids = self.i_map.select("i_idx")
        u = u_params_init or init_params(u_ids, "u_idx", self.k, self.init_scale, self._U_SALT)
        i = i_params_init or init_params(i_ids, "i_idx", self.k, self.init_scale, self._I_SALT)
        # factor tables live hash-partitioned + sorted on their key for the
        # whole fit: localCheckpoint preserves partitioning AND ordering,
        # and every update join/groupBy below is keyed the same way, so no
        # epoch ever exchanges or re-sorts the factor side (guide §2.4).
        u = u.repartition(n_part, "u_idx").sortWithinPartitions("u_idx")
        i = i.repartition(n_part, "i_idx").sortWithinPartitions("i_idx")
        u, i = checkpoint(u), checkpoint(i)

        self.train_errors = []
        self.epoch_times = []  # per-fit, like train_errors — bench's
        # marginal-epoch estimator slices epoch_times[1:] of ONE fit
        u, i = self._run_epochs(r_enc, u, i, collect_errors)
        self.u_params, self.i_params = u, i
        r_enc.unpersist()
        return self

    # subclasses implement the epoch cadence
    def _run_epochs(self, r_enc, u, i, collect_errors):  # pragma: no cover
        raise NotImplementedError

    # ------------------------------------------------------- join strategy

    def _dim(self, df: DataFrame, n_rows: int) -> DataFrame:
        """Size-aware broadcast hint for the dimension-sized frames the
        epoch loop joins every epoch (params, gradients — guide §3.1).

        The frames are localCheckpoint scans, whose LogicalRDD carries no
        usable size statistics, so the INITIAL plan of every epoch join
        came out SortMergeJoin: both sides exchanged, and AQE only rescued
        the join to broadcast at runtime AFTER materializing the dim-side
        shuffle (measured: 16 jobs and 3 wasted dim exchanges per epoch).
        The driver KNOWS the exact row count from corpus_stats, so when
        n_rows x (k+2) doubles fits comfortably under the session's
        autoBroadcastJoinThreshold the hint makes the initial plan the
        final plan. Beyond the threshold (e.g. 10^9-user factors, which
        must never broadcast) the frame is returned unhinted and the
        planner/AQE keeps the shuffle strategy — the hint is
        scale-adaptive, not a local[32] constant."""
        return broadcast_if_fits(df, n_rows * (self.k + 2) * 8)

    # ------------------------------------------------------------ epoch ops

    def _error_df(self, r_enc: DataFrame, u: DataFrame, i: DataFrame) -> DataFrame:
        """err = rating − (μ + bu + bi + P·Q) on observed rows only — the
        relational form of ``x - pred * x_mask`` (models/funk_svd.py:160-161).
        Keeps p_j/q_j columns for the downstream gradient aggregates.

        The u-side join is a ZERO-exchange zero-sort SortMergeJoin: both
        r_enc and the user-factor checkpoint are hash(u_idx, n)-partitioned
        and sorted (established once in fit). The i-side factor table is
        broadcast-hinted while the driver-known row count says it fits
        (``_dim``); at catalog scales past the threshold it falls back to
        the planner's shuffle strategy against an already i_idx-partitioned
        factor table."""
        up = u.select("u_idx", F.col("bias").alias("bu"),
                      *[F.col(f"f_{j}").alias(f"p_{j}") for j in range(self.k)])
        ip = self._dim(
            i.select("i_idx", F.col("bias").alias("bi"),
                     *[F.col(f"f_{j}").alias(f"q_{j}") for j in range(self.k)]),
            self.stats.n_items,
        )
        pred = F.lit(self.stats.mean_rating) + F.col("bu") + F.col("bi") + dot_wide(
            self.k, "p_", "q_"
        )
        return (
            # MERGE hint: both sides are hash(u_idx, n)-partitioned and
            # sorted, so this compiles to SortMergeJoin with zero Exchange
            # and zero Sort — deterministic, instead of letting the
            # planner broadcast from a checkpoint's inherited estimate
            # (an extra broadcast-build job per epoch).
            r_enc.join(up.hint("merge"), "u_idx")
            .join(ip, "i_idx")
            .withColumn("err", F.col("rating") - pred)
        )

    def _update_users(self, err_df: DataFrame, u: DataFrame) -> DataFrame:
        """u_factors += lr·(error @ i_factors − reg·u_factors);
        u_biases  += lr·(Σ_items err − n_items·reg·bu).
        One hash aggregate (k+1 sums, map-side combined) + one
        dimension-sized join."""
        grads = err_df.groupBy("u_idx").agg(
            F.sum("err").alias("err_sum"),
            *[F.sum(F.col("err") * F.col(f"q_{j}")).alias(f"g_{j}") for j in range(self.k)],
        )
        lr, reg = self.lr, self.reg
        axis_n = self.stats.n_items
        upd = {"bias": F.col("bias") + lr * (F.col("err_sum") - axis_n * reg * F.col("bias"))}
        for j in range(self.k):
            upd[f"f_{j}"] = F.col(f"f_{j}") + lr * (F.col(f"g_{j}") - reg * F.col(f"f_{j}"))
        # grads comes out of a u_idx-keyed agg over the u_idx-partitioned
        # error cache, so u ⋈ grads is an exchange-free merge join (only
        # the dimension-sized grads side sorts, in-partition).
        return u.join(grads.hint("merge"), "u_idx").withColumns(
            upd
        ).select("u_idx", "bias", *[f"f_{j}" for j in range(self.k)])

    def _update_items(self, err_with_p: DataFrame, i: DataFrame) -> DataFrame:
        """i_factors += lr·((u_factorsᵀ @ error)ᵀ − reg·i_factors);
        i_biases  += lr·(Σ_users err − n_users·reg·bi).
        ``err_with_p`` must carry the p_j columns the reference would use
        (FunkSVD: the *updated* u_factors with the stale error —
        models/funk_svd.py:166-167; ALS: the fresh error already built from
        updated u — models/als.py:171-173)."""
        grads = err_with_p.groupBy("i_idx").agg(
            F.sum("err").alias("err_sum"),
            *[F.sum(F.col("err") * F.col(f"p_{j}")).alias(f"g_{j}") for j in range(self.k)],
        )
        lr, reg = self.lr, self.reg
        axis_n = self.stats.n_users
        upd = {"bias": F.col("bias") + lr * (F.col("err_sum") - axis_n * reg * F.col("bias"))}
        for j in range(self.k):
            upd[f"f_{j}"] = F.col(f"f_{j}") + lr * (F.col(f"g_{j}") - reg * F.col(f"f_{j}"))
        # grads is hash(i_idx)-partitioned by its groupBy exchange and the
        # item factor checkpoint is partitioned+sorted the same way — merge
        # join, zero additional exchange.
        return i.join(grads.hint("merge"), "i_idx").withColumns(
            upd
        ).select("i_idx", "bias", *[f"f_{j}" for j in range(self.k)])

    def _collect_metrics(self, err_df: DataFrame) -> None:
        self.train_errors.append(metrics_row(err_df, self.stats.n_ratings))

    # ------------------------------------------------------------- predict

    def predict(
        self, test_df: DataFrame, user_col: str | None = None, item_col: str | None = None
    ) -> DataFrame:
        """Distributed form of the reference's O(n) driver predict loop
        (models/als.py:193-217; SURVEY.md §3.3): mapping + parameter lookups
        become left joins; the dict-membership cold-start check becomes a
        null test. Known pairs: clip(μ+bu+bi+P·Q); unknown: μ (unclipped —
        the reference clips only inside the known branch). Adds a ``pred``
        column."""
        user_col = user_col or self.user_col
        item_col = item_col or self.item_col
        k, s = self.k, self.stats
        up = self.u_params.select(
            "u_idx", F.col("bias").alias("bu"),
            *[F.col(f"f_{j}").alias(f"p_{j}") for j in range(k)],
        )
        ip = self.i_params.select(
            "i_idx", F.col("bias").alias("bi"),
            *[F.col(f"f_{j}").alias(f"q_{j}") for j in range(k)],
        )
        known = F.col("u_idx").isNotNull() & F.col("i_idx").isNotNull()
        score = F.lit(s.mean_rating) + F.col("bu") + F.col("bi") + dot_wide(k, "p_", "q_")
        clipped = F.least(
            F.greatest(score, F.lit(s.min_rating)), F.lit(s.max_rating)
        )
        out = (
            test_df.join(
                self.u_map.withColumnRenamed("value", user_col), user_col, "left"
            )
            .join(self.i_map.withColumnRenamed("value", item_col), item_col, "left")
            .join(up, "u_idx", "left")
            .join(ip, "i_idx", "left")
            .withColumn("pred", F.when(known, clipped).otherwise(F.lit(s.mean_rating)))
        )
        drop = ["u_idx", "i_idx", "bu", "bi"] + [f"p_{j}" for j in range(k)] + [
            f"q_{j}" for j in range(k)
        ]
        return out.drop(*drop)

    def eval(self, pred_df: DataFrame, rating_col: str = "rating") -> tuple[float, float, float]:
        """Held-out MAE/MSE/RMSE (models/als.py:219-223) as one aggregate."""
        e = F.col(rating_col) - F.col("pred")
        row = pred_df.agg(
            F.avg(F.abs(e)).alias("mae"), F.avg(e * e).alias("mse")
        ).first()
        return float(row["mae"]), float(row["mse"]), float(row["mse"]) ** 0.5

    # ------------------------------------------------------------ exports

    def user_factors(self) -> DataFrame:
        """MLlib-shaped (id, features array<double>, bias) view."""
        return self.u_params.select(
            F.col("u_idx").alias("id"),
            F.array(*[F.col(f"f_{j}") for j in range(self.k)]).alias("features"),
            "bias",
        )

    def item_factors(self) -> DataFrame:
        return self.i_params.select(
            F.col("i_idx").alias("id"),
            F.array(*[F.col(f"f_{j}") for j in range(self.k)]).alias("features"),
            "bias",
        )
