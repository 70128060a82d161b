"""Profile of one FunkSVD/ALS training fit (guide §1): where
does the ~2.7 s steady-state epoch actually go? Times the whole fit,
reports the model's own per-epoch times, the prep left over (encode +
repartition + stats) and the fit's Spark job count.

    python tools/profile_epoch.py [epochs] [funk|als]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    epochs = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    which = sys.argv[2] if len(sys.argv) > 2 else "funk"
    from dask_recommender_system_spark.data import ratings_cached
    from dask_recommender_system_spark.models import ALS, FunkSVD
    from dask_recommender_system_spark.registry import timed, warm
    from dask_recommender_system_spark.session import get_spark

    spark = get_spark("drs-epoch-profile")
    warm(spark, SF_DIR)
    r = ratings_cached(spark, SF_DIR)
    print(f"n_ratings={r.count()}")

    cls = FunkSVD if which == "funk" else ALS
    model = cls(n_factors=30, lr=0.001, reg=0.001, epochs=epochs)
    t = timed(
        spark,
        "profile:fit",
        lambda: model.fit(r, user_col="user_id", item_col="item_id", rating_col="rating"),
    )
    jobs = t.counters.get("jobs", 0)
    print(f"fit total {t.wall_s:.2f}s, epochs={epochs}")
    print("epoch_times:", [round(e, 3) for e in model.epoch_times])
    print(f"prep (fit total - sum epochs): {t.wall_s - sum(model.epoch_times):.2f}s")
    print(f"spark jobs during fit: {jobs} (~{jobs / max(epochs, 1):.1f}/epoch incl prep)")


if __name__ == "__main__":
    main()
