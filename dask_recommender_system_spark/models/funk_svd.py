"""Funk SVD — simultaneous full-batch gradient descent (reference
``models/funk_svd.py``), relational form.

Epoch cadence (models/funk_svd.py:157-170): ONE error computation per
epoch; user biases/factors update from it; item factors then use the
*already-updated* user factors against the *stale* error; item biases use
the stale error only. The reference's init is normal(0, 0.1)
(models/funk_svd.py:75-78) — here a deterministic hash-uniform of the same
scale (SURVEY.md §5.1: the reference is unseeded, so only metric-level
parity is meaningful; exact-parity tests inject explicit inits instead).
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from .base import _SGDRecommenderBase
from .common import checkpoint, release_checkpoint


class FunkSVD(_SGDRecommenderBase):
    def _run_epochs(self, r_enc, u, i, collect_errors):
        q_cols = [f"q_{j}" for j in range(self.k)]
        for _ in range(self.epochs):
            t0 = time.perf_counter()
            # one stale error per epoch (models/funk_svd.py:160-161).
            # Cache ONLY what this epoch's consumers read: the user-side
            # gradient needs (u_idx, err, q_j); the item side re-joins the
            # UPDATED user factors onto (u_idx, i_idx, err). bu/bi/rating/
            # p_j exist only inside the err expression — caching them
            # would serialize ~32 dead doubles per rating per epoch.
            err = (
                self._error_df(r_enc, u, i)
                .select("u_idx", "i_idx", "err", *q_cols)
                .persist()
            )
            # ALWAYS materialize the persisted error before anything
            # builds on it, so the cached relation carries REAL size
            # statistics. Without this, Catalyst's size estimates feed
            # back through the localCheckpoint (Dataset.checkpoint
            # inherits the child plan's sizeInBytes), get SQUARED by
            # each epoch's join estimation, and the BigInt arithmetic on
            # the ballooning estimate doubles driver-side planning time
            # per epoch — measured on a fresh session: flat 3.2 s/epoch
            # to epoch ~15, then 4.7 → 7.0 → 12.8 → 27.7 → 71 → 173 s,
            # ending in "BigInteger would overflow supported range".
            # With the cache materialized the estimate CONVERGES
            # (measured: 32 digits → 26 over 24 epochs, flat times).
            # The metrics aggregate is itself a full scan, so when it
            # runs it IS the materializer — a separate count() would just
            # re-read the cache.
            if collect_errors:
                self._collect_metrics(err)
            else:
                err.count()

            u_new = self._update_users(err, u)
            u_new = checkpoint(u_new)

            # item update: stale error × UPDATED user factors
            # (models/funk_svd.py:166-167: u_factors was reassigned above)
            # exchange-free merge join: the error cache and the updated
            # user checkpoint are both hash(u_idx, n)-partitioned + sorted
            err_with_new_p = err.select("u_idx", "i_idx", "err").join(
                u_new.select(
                    "u_idx",
                    *[F.col(f"f_{j}").alias(f"p_{j}") for j in range(self.k)],
                ).hint("merge"),
                "u_idx",
            )
            i_new = self._update_items(err_with_new_p, i)
            i_new = checkpoint(i_new)

            err.unpersist()
            # superseded factor checkpoints must be released RDD-level
            # (see release_checkpoint: storage otherwise grows 2 blocks/
            # epoch and epoch time blows up x2/epoch past ~epoch 15)
            release_checkpoint(u)
            release_checkpoint(i)
            u, i = u_new, i_new
            self.epoch_times.append(time.perf_counter() - t0)
        return u, i
