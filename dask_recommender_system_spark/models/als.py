""""ALS" — alternating full-batch gradient descent (reference
``models/als.py``; the paper calls it ALS but it is alternating *gradient*
descent, not the closed-form normal-equation ALS — MLlib ALS in
``models/mllib_als.py`` is the true-ALS fast path).

Epoch cadence (models/als.py:160-174): error is recomputed TWICE per epoch
— after the user-side update (so the item side trains against fresh
residuals) and again after the item-side update (becoming the next epoch's
starting error). Per-epoch training metrics are taken from the error
*before* that epoch's updates (models/als.py:164-165). Init is
uniform(0, 0.1) (models/als.py:73-76) → deterministic hash-uniform here.
This is ~1.5× FunkSVD's per-epoch cost (report.pdf §7.2.1) — two big joins
instead of one.
"""

from __future__ import annotations

import time

from .base import _SGDRecommenderBase
from .common import checkpoint, release_checkpoint


class ALS(_SGDRecommenderBase):
    def _run_epochs(self, r_enc, u, i, collect_errors):
        # every persisted error frame is materialized immediately so the
        # cache carries REAL size statistics — see the funk_svd.py epoch
        # loop for the measured x2/epoch planning blowup (and eventual
        # BigInteger overflow) that inherited size ESTIMATES cause when
        # they feed back through the per-epoch localCheckpoints
        # role-specific cache projections: the epoch-start error feeds
        # metrics + the user-side gradient (u_idx, err, q_j); the mid-epoch
        # error feeds only the item-side gradient (i_idx, err, p_j).
        # Caching the full _error_df would serialize ~32 dead doubles per
        # rating per materialization.
        q_cols = [f"q_{j}" for j in range(self.k)]
        p_cols = [f"p_{j}" for j in range(self.k)]

        err = self._error_df(r_enc, u, i).select("u_idx", "err", *q_cols).persist()
        if not collect_errors:
            # materialize for real size statistics (see funk_svd.py epoch
            # loop); with collect_errors the metrics aggregate below is
            # itself a full scan and doubles as the materializer.
            err.count()
        for epoch in range(self.epochs):
            t0 = time.perf_counter()
            if collect_errors:
                self._collect_metrics(err)

            # user side from the epoch-start error (stale q columns in err)
            u_new = checkpoint(self._update_users(err, u))

            # fresh error with updated users (models/als.py:170)
            err2 = (
                self._error_df(r_enc, u_new, i).select("i_idx", "err", *p_cols).persist()
            )
            err2.count()
            err.unpersist()

            # item side from the fresh error — its p_j columns ARE the
            # updated user factors (models/als.py:171-173)
            i_new = checkpoint(self._update_items(err2, i))

            # fresh error again → next epoch's start (models/als.py:174).
            # Nothing consumes the FINAL epoch's end error (metrics are
            # pre-update; fit returns factors only), so leave it lazy then
            # — persist() alone schedules no job.
            err = self._error_df(r_enc, u_new, i_new).select("u_idx", "err", *q_cols).persist()
            if not collect_errors and epoch < self.epochs - 1:
                err.count()
            err2.unpersist()
            # superseded factor checkpoints must be released RDD-level
            # (release_checkpoint docstring: storage otherwise grows until
            # epoch time blows up x2/epoch past ~epoch 15)
            release_checkpoint(u)
            release_checkpoint(i)
            u, i = u_new, i_new
            self.epoch_times.append(time.perf_counter() - t0)
        err.unpersist()
        return u, i
