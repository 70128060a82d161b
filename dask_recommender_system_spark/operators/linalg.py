"""Linear-algebra / tensor operators in relational form (SURVEY.md §2.6).

The reference does its training math on block-chunked Dask arrays; per
SURVEY.md §1.4 the masked-error formulation is mathematically equivalent to
relational operations over the COO ratings triples — so every operator here
is a join/groupBy/higher-order-function plan that never materializes the
n_users × n_items matrix. Factor vectors are `array<double>` columns
(MLlib's ``userFactors`` shape); dot products and axpy updates use Spark's
native higher-order functions (``zip_with`` / ``aggregate``) — JVM-side, no
Python UDFs in the hot path.

Deterministic pseudo-random factor formula (oracle-reproducible): factors
for the declared queries come from integer arithmetic on the id, not an RNG
— both engines compute bit-identical doubles. The training models in
``models/`` use the same trick for reproducible inits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data import RATINGS_SQL, latest_ratings, load_table
from ..models.common import encode_sorted_rank
from ..registry import query

K = 4  # factor rank used by the declared linalg queries (models use their own)


ENCODED_SQL = f"""
    WITH r0 AS MATERIALIZED ({RATINGS_SQL}),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, item_id
                                     ORDER BY ts DESC, interaction_id DESC) AS rn
        FROM r0),
    r AS MATERIALIZED (SELECT user_id, item_id, rating, interaction_id FROM ranked WHERE rn = 1),
    ue AS (SELECT user_id, CAST(ROW_NUMBER() OVER (ORDER BY user_id) - 1 AS BIGINT) AS u_idx
           FROM (SELECT DISTINCT user_id FROM r)),
    ie AS (SELECT item_id, CAST(ROW_NUMBER() OVER (ORDER BY item_id) - 1 AS BIGINT) AS i_idx
           FROM (SELECT DISTINCT item_id FROM r))
    SELECT ue.u_idx, ie.i_idx, r.rating, r.interaction_id
    FROM r JOIN ue ON r.user_id = ue.user_id JOIN ie ON r.item_id = ie.item_id
"""


def _encoded_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live derivation behind :func:`encoded_ratings`: dedup-keep-last
    (D2) then dense-encode (A2/J1) — the reference's pipeline order
    (run_als.py:9-11 → models/als.py:26-32)."""
    r = latest_ratings(spark, sf_dir)
    ue = encode_sorted_rank(r.select("user_id"), "user_id", "u_idx")
    ie = encode_sorted_rank(r.select("item_id"), "item_id", "i_idx")
    # no broadcast() hint: user/item dims are broadcastable at sf0.1 but not
    # at 10⁹ rows — let AQE pick broadcast vs shuffle from runtime sizes
    return (
        r.join(ue, "user_id")
        .join(ie, "item_id")
        .select("u_idx", "i_idx", "rating", "interaction_id")
    )


def encoded_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared prep for ~17 declared queries (the linalg/evaluation
    families): derive-once-materialize form of :func:`_encoded_live`,
    same process-lifetime staging discipline as ``data.ratings_cached``
    (guide §1.2 step 1: don't recompute what many consumers share —
    every caller was re-running the dedup window plus TWO block-offset
    sorted-rank encodes, several seconds of identical prep per bench
    query). The derivation is deterministic (sorted-rank encode, unique
    interaction_id tiebreak) and the columns are BIGINT/DOUBLE, so the
    parquet round-trip is value-exact; the stage is keyed on dataset
    content, and the cache root dies with the process (no cross-run
    reuse)."""
    import os

    from ..data import view_stage

    stage = view_stage(sf_dir, "encoded")
    if not os.path.exists(f"{stage}/_SUCCESS"):
        _encoded_live(spark, sf_dir).write.mode("overwrite").parquet(stage)
    return spark.read.parquet(stage)


@query(
    "build_coo",
    oracle=f"WITH e AS MATERIALIZED ({ENCODED_SQL}) SELECT u_idx, i_idx, rating FROM e",
)
def build_coo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: sparse COO matrix construction (reference models/als.py:48-66:
    triples → sparse.COO → chunk grid → da.block). In Spark the encoded
    ratings DataFrame *is* the COO matrix — rows are the nonzeros; a
    ``repartition(n, "u_idx")`` is the moral equivalent of the chunk grid
    and is applied by the training loop, not here."""
    return encoded_ratings(spark, sf_dir).select("u_idx", "i_idx", "rating")


# Deterministic "uniform [0, 0.1)" init from integer hashing — the
# oracle-checkable stand-in for da.random.uniform (models/als.py:73-76).
INIT_SQL_EXPR = "CAST((idx * 2654435761 + j * 40503) % 100000 AS DOUBLE) / 1000000.0"


@query(
    "init_params",
    oracle=f"""
    WITH e AS MATERIALIZED ({ENCODED_SQL}),
    u AS (SELECT DISTINCT u_idx AS idx FROM e)
    SELECT idx, j, ROUND({INIT_SQL_EXPR}, 6) AS init_val
    FROM u CROSS JOIN (SELECT UNNEST(range(0, {K})) AS j)
    """,
)
def init_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: parameter init (reference models/als.py:68-76: zeros for biases,
    uniform(0,0.1) for factors). Declared in exploded (idx, j, value) form
    so the oracle compares scalars; the models build the same values as
    `array<double>` columns. Hash-based init replaces the RNG: reproducible
    across engines, partitioning, and retries — at 100 TB, init you can
    recompute beats init you must persist."""
    u = encoded_ratings(spark, sf_dir).select(F.col("u_idx").alias("idx")).distinct()
    j = F.explode(F.sequence(F.lit(0), F.lit(K - 1))).alias("j")
    val = ((F.col("idx") * 2654435761 + F.col("j") * 40503) % 100000).cast(
        "double"
    ) / 1000000.0
    return u.select("idx", j).withColumn("init_val", F.round(val, 6))


# factor_j(id) = ((id*31 + j*17) % 13 - 6) / 10.0  — exactly representable
# integer math over both engines; used to pin the dot-product plan.
def _factor_array(id_col: str) -> F.Column:
    return F.transform(
        F.sequence(F.lit(0), F.lit(K - 1)),
        lambda j: ((F.col(id_col) * 31 + j * 17) % 13 - 6).cast("double") / 10.0,
    )


def dot(a: F.Column, b: F.Column) -> F.Column:
    """Dot product of two array<double> columns via native higher-order
    functions — whole-stage-codegen'd, no UDF (SURVEY.md L4)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _oracle_dot(u: str, i: str) -> str:
    """Unrolled dot product for the DuckDB twin (same j order ⇒ same FP)."""
    terms = [
        f"(CAST(({u} * 31 + {j} * 17) % 13 - 6 AS DOUBLE) / 10.0) * "
        f"(CAST(({i} * 31 + {j} * 17) % 13 - 6 AS DOUBLE) / 10.0)"
        for j in range(K)
    ]
    return "(" + " + ".join(terms) + ")"


@query(
    "predict_scores",
    oracle=f"""
    WITH e AS MATERIALIZED ({ENCODED_SQL})
    SELECT u_idx, i_idx, ROUND({_oracle_dot('u_idx', 'i_idx')}, 6) AS score
    FROM e
    """,
)
def predict_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: scoring P·Qᵀ (reference models/als.py:79) — computed per observed
    pair only (SURVEY.md §1.4), never as the dense matrix. The dot product
    is ``aggregate(zip_with(P, Q, *), 0, +)`` — JVM higher-order functions.
    At scale the factor tables join in on u_idx/i_idx; here factors are the
    deterministic formula so the oracle can reproduce values exactly."""
    e = encoded_ratings(spark, sf_dir)
    return e.select(
        "u_idx",
        "i_idx",
        F.round(dot(_factor_array("u_idx"), _factor_array("i_idx")), 6).alias("score"),
    )


@query(
    "residuals",
    oracle=f"""
    WITH e AS MATERIALIZED ({ENCODED_SQL}),
    ub AS (SELECT u_idx, ROUND(AVG(rating), 6) AS u_mean FROM e GROUP BY u_idx)
    SELECT e.interaction_id,
           ROUND(e.rating - ub.u_mean, 6) AS err
    FROM e JOIN ub ON e.u_idx = ub.u_idx
    """,
)
def residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5: elementwise error on observed cells (reference models/als.py:80
    ``x - pred * x_mask``). The mask is gone — operating on ratings rows
    *is* the mask (SURVEY.md §1.4/L2). Here vs the per-user-mean predictor;
    the training loop computes the same shape vs the model score."""
    e = encoded_ratings(spark, sf_dir)
    ub = e.groupBy("u_idx").agg(F.round(F.avg("rating"), 6).alias("u_mean"))
    return e.join(ub, "u_idx").select(
        "interaction_id", F.round(F.col("rating") - F.col("u_mean"), 6).alias("err")
    )


@query(
    "clip_prediction",
    oracle="""
    SELECT event_id, ROUND(LEAST(GREATEST(value * 2.0, 1.0), 5.0), 6) AS clipped
    FROM events
    """,
)
def clip_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L8: scalar clamp to rating bounds (reference models/als.py:212
    ``min(max(lo, pred), hi)``) → LEAST/GREATEST, codegen'd."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.round(
            F.least(F.greatest(F.col("value") * 2.0, F.lit(1.0)), F.lit(5.0)), 6
        ).alias("clipped"),
    )


@query(
    "math_scalar_suite",
    oracle="""
    SELECT event_id,
           ROUND(ABS(value), 6) AS abs_v,
           ROUND(value * value, 6) AS sq_v,
           ROUND(SQRT(ABS(value)), 6) AS sqrt_v,
           CAST(SIGN(value) AS DOUBLE) AS sign_v,
           ROUND(POW(ABS(value) + 1.0, 3), 6) AS pow_v
    FROM events
    """,
)
def math_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L10: the scalar math surface the reference touches (abs/square/sqrt/
    sign/pow — models/als.py:63,84-86) as built-in JVM expressions."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    return ev.select(
        "event_id",
        F.round(F.abs(v), 6).alias("abs_v"),
        F.round(v * v, 6).alias("sq_v"),
        F.round(F.sqrt(F.abs(v)), 6).alias("sqrt_v"),
        F.signum(v).cast("double").alias("sign_v"),
        F.round(F.pow(F.abs(v) + 1.0, 3), 6).alias("pow_v"),
    )


# --- oracle-checked single SGD epoch (pins L5+L6+L7 exactly) ---------------

SGD_LR, SGD_REG = 0.01, 0.02
_H = "2654435761"


def _init_sql(idc: str, j: int, salt: int, scale: float) -> str:
    """SQL twin of models.common.hash_uniform."""
    return (
        f"CAST(({idc} * {_H} + {j * 40503 + salt * 7919}) % 100000 AS DOUBLE)"
        f" / 100000.0 * {scale}"
    )


@query(
    "sgd_epoch_user_update",
    oracle=f"""
    WITH e AS MATERIALIZED ({ENCODED_SQL}),
    mu AS (SELECT ROUND(AVG(rating), 6) AS mu FROM e),
    ni AS (SELECT CAST(COUNT(DISTINCT i_idx) AS BIGINT) AS n_items FROM e),
    up AS MATERIALIZED (SELECT DISTINCT u_idx,
                  {_init_sql('u_idx', 99, 1, 0.01)} AS bu,
                  {_init_sql('u_idx', 0, 1, 0.1)} AS p_0,
                  {_init_sql('u_idx', 1, 1, 0.1)} AS p_1
           FROM e),
    ip AS MATERIALIZED (SELECT DISTINCT i_idx,
                  {_init_sql('i_idx', 99, 2, 0.01)} AS bi,
                  {_init_sql('i_idx', 0, 2, 0.1)} AS q_0,
                  {_init_sql('i_idx', 1, 2, 0.1)} AS q_1
           FROM e),
    err AS MATERIALIZED (
        SELECT e.u_idx, e.i_idx,
               e.rating - ((SELECT mu FROM mu) + up.bu + ip.bi
                           + up.p_0 * ip.q_0 + up.p_1 * ip.q_1) AS err,
               ip.q_0, ip.q_1
        FROM e JOIN up ON e.u_idx = up.u_idx JOIN ip ON e.i_idx = ip.i_idx),
    g AS (
        SELECT u_idx, SUM(err) AS err_sum,
               SUM(err * q_0) AS g_0, SUM(err * q_1) AS g_1
        FROM err GROUP BY u_idx)
    SELECT up.u_idx,
           ROUND(up.bu + {SGD_LR} * (g.err_sum
                 - (SELECT n_items FROM ni) * {SGD_REG} * up.bu), 6) AS bu_new,
           ROUND(up.p_0 + {SGD_LR} * (g.g_0 - {SGD_REG} * up.p_0), 6) AS f0_new,
           ROUND(up.p_1 + {SGD_LR} * (g.g_1 - {SGD_REG} * up.p_1), 6) AS f1_new
    FROM up JOIN g ON up.u_idx = g.u_idx
    """,
)
def sgd_epoch_user_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5+L6+L7, oracle-checked: ONE user-side SGD epoch with deterministic
    hash-uniform params — error on observed pairs (models/funk_svd.py:161),
    per-user gradient reduction err@Q (models/als.py:167), and the axpy
    update θ += lr·(g − reg·θ) with the bias regularizer scaled by
    n_items because it sits inside the axis sum (models/als.py:168;
    SURVEY.md §1.4 caveat 2). The full multi-epoch fit (models/) runs this
    exact dataflow; here DuckDB verifies a single step value-for-value."""
    from ..models.common import hash_uniform

    e = encoded_ratings(spark, sf_dir)
    mu = e.agg(F.round(F.avg("rating"), 6).alias("mu"))
    ni = e.agg(F.countDistinct("i_idx").alias("n_items"))
    up = e.select("u_idx").distinct().select(
        "u_idx",
        hash_uniform(F.col("u_idx"), 99, 0.01, 1).alias("bu"),
        hash_uniform(F.col("u_idx"), 0, 0.1, 1).alias("p_0"),
        hash_uniform(F.col("u_idx"), 1, 0.1, 1).alias("p_1"),
    )
    ip = e.select("i_idx").distinct().select(
        "i_idx",
        hash_uniform(F.col("i_idx"), 99, 0.01, 2).alias("bi"),
        hash_uniform(F.col("i_idx"), 0, 0.1, 2).alias("q_0"),
        hash_uniform(F.col("i_idx"), 1, 0.1, 2).alias("q_1"),
    )
    err_col = F.col("rating") - (
        F.col("mu") + F.col("bu") + F.col("bi")
        + F.col("p_0") * F.col("q_0") + F.col("p_1") * F.col("q_1")
    )
    err = (
        e.join(up, "u_idx")
        .join(ip, "i_idx")
        .crossJoin(F.broadcast(mu))
        .withColumn("err", err_col)
    )
    g = err.groupBy("u_idx").agg(
        F.sum("err").alias("err_sum"),
        F.sum(F.col("err") * F.col("q_0")).alias("g_0"),
        F.sum(F.col("err") * F.col("q_1")).alias("g_1"),
    )
    return (
        up.join(g, "u_idx")
        .crossJoin(F.broadcast(ni))
        .select(
            "u_idx",
            F.round(
                F.col("bu")
                + SGD_LR * (F.col("err_sum") - F.col("n_items") * SGD_REG * F.col("bu")),
                6,
            ).alias("bu_new"),
            F.round(F.col("p_0") + SGD_LR * (F.col("g_0") - SGD_REG * F.col("p_0")), 6).alias("f0_new"),
            F.round(F.col("p_1") + SGD_LR * (F.col("g_1") - SGD_REG * F.col("p_1")), 6).alias("f1_new"),
        )
    )


@query(
    "sgd_epoch_item_update",
    oracle=f"""
    WITH e AS MATERIALIZED ({ENCODED_SQL}),
    mu AS (SELECT ROUND(AVG(rating), 6) AS mu FROM e),
    ni AS (SELECT CAST(COUNT(DISTINCT i_idx) AS BIGINT) AS n_items FROM e),
    nu AS (SELECT CAST(COUNT(DISTINCT u_idx) AS BIGINT) AS n_users FROM e),
    up AS MATERIALIZED (SELECT DISTINCT u_idx,
                  {_init_sql('u_idx', 99, 1, 0.01)} AS bu,
                  {_init_sql('u_idx', 0, 1, 0.1)} AS p_0,
                  {_init_sql('u_idx', 1, 1, 0.1)} AS p_1
           FROM e),
    ip AS MATERIALIZED (SELECT DISTINCT i_idx,
                  {_init_sql('i_idx', 99, 2, 0.01)} AS bi,
                  {_init_sql('i_idx', 0, 2, 0.1)} AS q_0,
                  {_init_sql('i_idx', 1, 2, 0.1)} AS q_1
           FROM e),
    err1 AS MATERIALIZED (
        SELECT e.u_idx, e.i_idx,
               e.rating - ((SELECT mu FROM mu) + up.bu + ip.bi
                           + up.p_0 * ip.q_0 + up.p_1 * ip.q_1) AS err,
               ip.q_0, ip.q_1
        FROM e JOIN up ON e.u_idx = up.u_idx JOIN ip ON e.i_idx = ip.i_idx),
    gu AS (
        SELECT u_idx, SUM(err) AS err_sum,
               SUM(err * q_0) AS g_0, SUM(err * q_1) AS g_1
        FROM err1 GROUP BY u_idx),
    up2 AS MATERIALIZED (
        SELECT up.u_idx,
               up.bu + {SGD_LR} * (gu.err_sum
                     - (SELECT n_items FROM ni) * {SGD_REG} * up.bu) AS bu,
               up.p_0 + {SGD_LR} * (gu.g_0 - {SGD_REG} * up.p_0) AS p_0,
               up.p_1 + {SGD_LR} * (gu.g_1 - {SGD_REG} * up.p_1) AS p_1
        FROM up JOIN gu ON up.u_idx = gu.u_idx),
    err2 AS MATERIALIZED (
        SELECT e.i_idx,
               e.rating - ((SELECT mu FROM mu) + up2.bu + ip.bi
                           + up2.p_0 * ip.q_0 + up2.p_1 * ip.q_1) AS err,
               up2.p_0, up2.p_1
        FROM e JOIN up2 ON e.u_idx = up2.u_idx JOIN ip ON e.i_idx = ip.i_idx),
    gi AS (
        SELECT i_idx, SUM(err) AS err_sum,
               SUM(err * p_0) AS g_0, SUM(err * p_1) AS g_1
        FROM err2 GROUP BY i_idx)
    SELECT ip.i_idx,
           ROUND(ip.bi + {SGD_LR} * (gi.err_sum
                 - (SELECT n_users FROM nu) * {SGD_REG} * ip.bi), 6) AS bi_new,
           ROUND(ip.q_0 + {SGD_LR} * (gi.g_0 - {SGD_REG} * ip.q_0), 6) AS f0_new,
           ROUND(ip.q_1 + {SGD_LR} * (gi.g_1 - {SGD_REG} * ip.q_1), 6) AS f1_new
    FROM ip JOIN gi ON ip.i_idx = gi.i_idx
    """,
)
def sgd_epoch_item_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ALS alternation, oracle-checked: item-side update computed from
    the FRESH error — user params are updated first, the error is
    recomputed against them, and only then is the item side updated
    (models/als.py:160-174; SURVEY.md §2.7 I2 — the one semantic
    difference from FunkSVD's stale-error cadence). Also pins the
    n_users-scaled item-bias regularizer (models/als.py:172), which the
    user-side twin cannot cover."""
    from ..models.common import hash_uniform

    e = encoded_ratings(spark, sf_dir)
    mu = e.agg(F.round(F.avg("rating"), 6).alias("mu"))
    ni = e.agg(F.countDistinct("i_idx").alias("n_items"))
    nu = e.agg(F.countDistinct("u_idx").alias("n_users"))
    up = e.select("u_idx").distinct().select(
        "u_idx",
        hash_uniform(F.col("u_idx"), 99, 0.01, 1).alias("bu"),
        hash_uniform(F.col("u_idx"), 0, 0.1, 1).alias("p_0"),
        hash_uniform(F.col("u_idx"), 1, 0.1, 1).alias("p_1"),
    )
    ip = e.select("i_idx").distinct().select(
        "i_idx",
        hash_uniform(F.col("i_idx"), 99, 0.01, 2).alias("bi"),
        hash_uniform(F.col("i_idx"), 0, 0.1, 2).alias("q_0"),
        hash_uniform(F.col("i_idx"), 1, 0.1, 2).alias("q_1"),
    )

    def err_of(uparams):
        pred = (
            F.col("mu") + F.col("bu") + F.col("bi")
            + F.col("p_0") * F.col("q_0") + F.col("p_1") * F.col("q_1")
        )
        return (
            e.join(uparams, "u_idx")
            .join(ip, "i_idx")
            .crossJoin(F.broadcast(mu))
            .withColumn("err", F.col("rating") - pred)
        )

    gu = err_of(up).groupBy("u_idx").agg(
        F.sum("err").alias("err_sum"),
        F.sum(F.col("err") * F.col("q_0")).alias("g_0"),
        F.sum(F.col("err") * F.col("q_1")).alias("g_1"),
    )
    up2 = (
        up.join(gu, "u_idx")
        .crossJoin(F.broadcast(ni))
        .select(
            "u_idx",
            (F.col("bu") + SGD_LR * (F.col("err_sum") - F.col("n_items") * SGD_REG * F.col("bu"))).alias("bu"),
            (F.col("p_0") + SGD_LR * (F.col("g_0") - SGD_REG * F.col("p_0"))).alias("p_0"),
            (F.col("p_1") + SGD_LR * (F.col("g_1") - SGD_REG * F.col("p_1"))).alias("p_1"),
        )
    )
    gi = err_of(up2).groupBy("i_idx").agg(
        F.sum("err").alias("err_sum"),
        F.sum(F.col("err") * F.col("p_0")).alias("g_0"),
        F.sum(F.col("err") * F.col("p_1")).alias("g_1"),
    )
    return (
        ip.join(gi, "i_idx")
        .crossJoin(F.broadcast(nu))
        .select(
            "i_idx",
            F.round(
                F.col("bi")
                + SGD_LR * (F.col("err_sum") - F.col("n_users") * SGD_REG * F.col("bi")),
                6,
            ).alias("bi_new"),
            F.round(F.col("q_0") + SGD_LR * (F.col("g_0") - SGD_REG * F.col("q_0")), 6).alias("f0_new"),
            F.round(F.col("q_1") + SGD_LR * (F.col("g_1") - SGD_REG * F.col("q_1")), 6).alias("f1_new"),
        )
    )


# --- BPR epoch (X79) ------------------------------------------------------
# Bayesian Personalized Ranking: the implicit-feedback pairwise loss the
# negative_sampling operator (training.py X62) exists to feed. One batch
# epoch over (user, pos_item, neg_item) triples:
#   x    = p_u · (q_i − q_j)
#   σ'   = 1 / (1 + e^x)          (= σ(−x), the BPR gradient weight)
#   p_u += lr · ( Σ σ'·(q_i − q_j) − reg·p_u )
# Factors are the SAME hash-uniform init the SGD epochs use — computed
# INLINE as expressions, so the epoch needs no factor-table joins at all:
# triples → narrow gradient expressions → ONE user-keyed aggregate →
# update. At 100 TB the epoch's only data-sized shuffles are the ones the
# sampler already pays plus this single keyed agg.
BPR_SALT_U = 3
BPR_SALT_I = 4


def _bpr_oracle() -> str:
    from .training import _NEG_ORACLE

    qp = [_init_sql("t.item_id", j, BPR_SALT_I, 0.1) for j in (0, 1)]
    qn = [_init_sql("t.neg_item", j, BPR_SALT_I, 0.1) for j in (0, 1)]
    pu = [_init_sql("t.user_id", j, BPR_SALT_U, 0.1) for j in (0, 1)]
    x = (
        f"({pu[0]}) * (({qp[0]}) - ({qn[0]}))"
        f" + ({pu[1]}) * (({qp[1]}) - ({qn[1]}))"
    )
    return f"""
WITH trip AS ({_NEG_ORACLE}),
g AS (
  SELECT t.user_id,
         CAST(COUNT(*) AS BIGINT) AS n_triples,
         SUM((1.0 / (1.0 + EXP({x}))) * (({qp[0]}) - ({qn[0]}))) AS g_0,
         SUM((1.0 / (1.0 + EXP({x}))) * (({qp[1]}) - ({qn[1]}))) AS g_1
  FROM trip t GROUP BY t.user_id
)
SELECT user_id, n_triples,
       ROUND({_init_sql('user_id', 0, BPR_SALT_U, 0.1)}
             + {SGD_LR} * (g_0 - {SGD_REG}
                 * ({_init_sql('user_id', 0, BPR_SALT_U, 0.1)})), 6) AS p0_new,
       ROUND({_init_sql('user_id', 1, BPR_SALT_U, 0.1)}
             + {SGD_LR} * (g_1 - {SGD_REG}
                 * ({_init_sql('user_id', 1, BPR_SALT_U, 0.1)})), 6) AS p1_new
FROM g
"""


@query("bpr_epoch_user_update", oracle=_bpr_oracle())
def bpr_epoch_user_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X79: one BPR (implicit-feedback pairwise ranking) epoch, user side,
    value-checked — closes the loop on negative_sampling (X62): the
    sampled (user, pos, neg) triples ARE this loss's training data, the
    k=2 hash-uniform factors ARE the SGD epochs' init convention, and
    DuckDB verifies the σ-weighted pairwise gradient value-for-value.
    Because the hash init is a pure expression, user and item factors are
    computed inline on the triple rows — ZERO factor-table joins; the
    epoch's entire own cost is narrow codegen plus ONE user-keyed
    gradient aggregate. (The multi-epoch generalization iterates exactly
    like models/base.py: update → checkpoint → re-derive; factors stay
    relational throughout.)"""
    from ..models.common import hash_uniform
    from .training import negative_sampling

    t = negative_sampling(spark, sf_dir)
    qp = [hash_uniform(F.col("item_id"), j, 0.1, BPR_SALT_I) for j in (0, 1)]
    qn = [hash_uniform(F.col("neg_item"), j, 0.1, BPR_SALT_I) for j in (0, 1)]
    pu = [hash_uniform(F.col("user_id"), j, 0.1, BPR_SALT_U) for j in (0, 1)]
    x = pu[0] * (qp[0] - qn[0]) + pu[1] * (qp[1] - qn[1])
    sig = 1.0 / (1.0 + F.exp(x))
    g = t.groupBy("user_id").agg(
        F.count("*").alias("n_triples"),
        F.sum(sig * (qp[0] - qn[0])).alias("g_0"),
        F.sum(sig * (qp[1] - qn[1])).alias("g_1"),
    )
    p = [hash_uniform(F.col("user_id"), j, 0.1, BPR_SALT_U) for j in (0, 1)]
    return g.select(
        "user_id",
        "n_triples",
        F.round(p[0] + SGD_LR * (F.col("g_0") - SGD_REG * p[0]), 6).alias("p0_new"),
        F.round(p[1] + SGD_LR * (F.col("g_1") - SGD_REG * p[1]), 6).alias("p1_new"),
    )


def _bpr_item_oracle() -> str:
    from .training import _NEG_ORACLE

    qp = [_init_sql("t.item_id", j, BPR_SALT_I, 0.1) for j in (0, 1)]
    qn = [_init_sql("t.neg_item", j, BPR_SALT_I, 0.1) for j in (0, 1)]
    pu = [_init_sql("t.user_id", j, BPR_SALT_U, 0.1) for j in (0, 1)]
    x = (
        f"({pu[0]}) * (({qp[0]}) - ({qn[0]}))"
        f" + ({pu[1]}) * (({qp[1]}) - ({qn[1]}))"
    )
    sig = f"(1.0 / (1.0 + EXP({x})))"
    return f"""
WITH trip AS ({_NEG_ORACLE}),
contrib AS (
  SELECT t.item_id AS item, {sig} * ({pu[0]}) AS g0, {sig} * ({pu[1]}) AS g1
  FROM trip t
  UNION ALL
  SELECT t.neg_item AS item, -{sig} * ({pu[0]}), -{sig} * ({pu[1]})
  FROM trip t
),
g AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             SUM(g0) AS g_0, SUM(g1) AS g_1
      FROM contrib GROUP BY item)
SELECT item, n_occurrences,
       ROUND({_init_sql('item', 0, BPR_SALT_I, 0.1)}
             + {SGD_LR} * (g_0 - {SGD_REG}
                 * ({_init_sql('item', 0, BPR_SALT_I, 0.1)})), 6) AS q0_new,
       ROUND({_init_sql('item', 1, BPR_SALT_I, 0.1)}
             + {SGD_LR} * (g_1 - {SGD_REG}
                 * ({_init_sql('item', 1, BPR_SALT_I, 0.1)})), 6) AS q1_new
FROM g
"""


@query("bpr_epoch_item_update", oracle=_bpr_item_oracle())
def bpr_epoch_item_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X92: the item side of the BPR epoch — positives accumulate
    +σ'(x)·p_u, sampled negatives −σ'(x)·p_u; one item can appear in
    both roles across triples and its update merges both streams.
    Relationally: a UNION of the two narrow contribution projections off
    the SAME triple table (one pass, signs flipped), then ONE item-keyed
    gradient aggregate — the alternation partner of
    bpr_epoch_user_update, with the same zero-factor-table-join property
    (factors are inline hash expressions). Together the pair IS one full
    BPR epoch; the multi-epoch loop iterates them exactly like
    models/base.py alternates user/item updates."""
    from ..models.common import hash_uniform
    from .training import negative_sampling

    t = negative_sampling(spark, sf_dir)
    qp = [hash_uniform(F.col("item_id"), j, 0.1, BPR_SALT_I) for j in (0, 1)]
    qn = [hash_uniform(F.col("neg_item"), j, 0.1, BPR_SALT_I) for j in (0, 1)]
    pu = [hash_uniform(F.col("user_id"), j, 0.1, BPR_SALT_U) for j in (0, 1)]
    x = pu[0] * (qp[0] - qn[0]) + pu[1] * (qp[1] - qn[1])
    sig = 1.0 / (1.0 + F.exp(x))
    pos = t.select(
        F.col("item_id").alias("item"),
        (sig * pu[0]).alias("g0"),
        (sig * pu[1]).alias("g1"),
    )
    neg = t.select(
        F.col("neg_item").alias("item"),
        (-sig * pu[0]).alias("g0"),
        (-sig * pu[1]).alias("g1"),
    )
    g = (
        pos.unionByName(neg)
        .groupBy("item")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.sum("g0").alias("g_0"),
            F.sum("g1").alias("g_1"),
        )
    )
    q = [hash_uniform(F.col("item"), j, 0.1, BPR_SALT_I) for j in (0, 1)]
    return g.select(
        "item",
        "n_occurrences",
        F.round(q[0] + SGD_LR * (F.col("g_0") - SGD_REG * q[0]), 6).alias("q0_new"),
        F.round(q[1] + SGD_LR * (F.col("g_1") - SGD_REG * q[1]), 6).alias("q1_new"),
    )


# --- decile lift table (X96) ----------------------------------------------
# Model-evaluation lift analysis over the hash-init predictions (the same
# deterministic k=2 model every epoch operator uses): rows ranked into
# score deciles by BROADCAST percentile cuts (the rfm_segmentation
# pattern — never a global NTILE sort), then per-decile actual-rating
# mean and lift vs the global mean. Cuts are ROUNDED so both engines
# bucket against bit-identical boundaries.
LIFT_QS = tuple(i / 10 for i in range(1, 10))


def _lift_oracle() -> str:
    mu = "(SELECT AVG(rating) FROM scored)"
    pred = (
        f"({_init_sql('u_idx', 99, 1, 0.01)}) + ({_init_sql('i_idx', 99, 2, 0.01)})"
        f" + ({_init_sql('u_idx', 0, 1, 0.1)}) * ({_init_sql('i_idx', 0, 2, 0.1)})"
        f" + ({_init_sql('u_idx', 1, 1, 0.1)}) * ({_init_sql('i_idx', 1, 2, 0.1)})"
    )
    cuts = ", ".join(
        f"ROUND(quantile_cont(pred, {q}), 6) AS c{int(q * 10)}"
        for q in LIFT_QS
    )
    bucket = " + ".join(f"(pred > q.c{int(p * 10)})::INT" for p in LIFT_QS)
    return f"""
WITH e AS MATERIALIZED ({ENCODED_SQL}),
scored AS (SELECT rating, {pred} AS pred FROM e),
q AS (SELECT {cuts} FROM scored),
b AS (SELECT s.rating, CAST(1 + {bucket} AS BIGINT) AS decile
      FROM scored s CROSS JOIN q)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(rating), 6) AS avg_rating,
       ROUND(AVG(rating) / {mu}, 6) AS lift
FROM b GROUP BY decile
"""


@query("decile_lift_table", oracle=_lift_oracle())
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X96: decile lift table — the standard model-evaluation report:
    rank predictions into score deciles, compare each decile's mean
    actual rating to the global mean. Completes the eval family
    (eval_metrics = pointwise RMSE/MAE; this = ranking usefulness).
    Predictions are the deterministic hash-init k=2 model the epoch
    operators share, so the whole report is value-checkable. Deciles via
    exact block-offset quantiles (models/common.exact_quantiles_cont) —
    never a global NTILE sort, and NOT the built-in exact ``percentile``
    aggregate either: pred is unique per (user, item) pair, so that
    aggregate's distinct-value buffer is data-sized and killed the JVM at
    the 30× sweep (r08). The cuts enter the plan as folded literals; the
    only data-sized shuffle is the final decile agg."""
    from ..models.common import exact_quantiles_cont, hash_uniform

    e = encoded_ratings(spark, sf_dir)
    pred = (
        hash_uniform(F.col("u_idx"), 99, 0.01, 1)
        + hash_uniform(F.col("i_idx"), 99, 0.01, 2)
        + hash_uniform(F.col("u_idx"), 0, 0.1, 1)
        * hash_uniform(F.col("i_idx"), 0, 0.1, 2)
        + hash_uniform(F.col("u_idx"), 1, 0.1, 1)
        * hash_uniform(F.col("i_idx"), 1, 0.1, 2)
    )
    scored = e.select("rating", pred.alias("pred"))
    cuts = exact_quantiles_cont(scored, "pred", LIFT_QS)
    decile = F.lit(1)
    for q in LIFT_QS:
        # round the cut in-plan (F.round = HALF_UP, matching the oracle's
        # DuckDB ROUND — python round() is half-even and would diverge)
        decile = decile + (
            F.col("pred") > F.round(F.lit(cuts[q]), 6)
        ).cast("int")
    mu = scored.agg(F.avg("rating").alias("mu"))
    return (
        scored.select("rating", decile.cast("long").alias("decile"))
        .groupBy("decile")
        .agg(F.count("*").alias("n"), F.avg("rating").alias("avg"))
        .crossJoin(F.broadcast(mu))
        .select(
            "decile",
            "n",
            F.round("avg", 6).alias("avg_rating"),
            F.round(F.col("avg") / F.col("mu"), 6).alias("lift"),
        )
    )


# --- implicit-feedback ALS user solve (X109) ------------------------------
# Hu, Koren & Volinsky 2008 ("Collaborative Filtering for Implicit Feedback
# Datasets"): confidence c_ui = 1 + IALS_ALPHA*r_ui, preference p_ui = 1,
# x_u = (YtY + Yt(Cu-I)Y + lambda*I)^-1 * Yt*Cu*p(u). At k=2 the solve is a
# closed-form 2x2 inverse, so the WHOLE epoch is relational and
# value-checkable — the explicit-feedback reference's natural extension
# (reference/models/als.py solves the explicit objective; implicit is what
# production interaction logs actually give you).
IALS_ALPHA = 40.0
IALS_REG = 0.1
IALS_SALT = 5  # item-factor salt, distinct from the SGD/BPR factor families


def _ials_y(j: int, idc: str = "i_idx") -> str:
    return _init_sql(idc, j, IALS_SALT, 0.1)


@query(
    "als_implicit_epoch",
    oracle=f"""
    WITH e AS MATERIALIZED ({ENCODED_SQL}),
    y AS (SELECT DISTINCT i_idx,
                 {_ials_y(0)} AS y0,
                 {_ials_y(1)} AS y1
          FROM e),
    gram AS (SELECT ROUND(SUM(y0 * y0), 6) AS g00,
                    ROUND(SUM(y0 * y1), 6) AS g01,
                    ROUND(SUM(y1 * y1), 6) AS g11
             FROM y),
    obs AS (SELECT e.u_idx, y.y0, y.y1,
                   1.0 + {IALS_ALPHA} * e.rating AS c
            FROM e JOIN y ON e.i_idx = y.i_idx),
    a AS (SELECT u_idx,
                 CAST(COUNT(*) AS BIGINT) AS n_obs,
                 SUM((c - 1.0) * y0 * y0) AS s00,
                 SUM((c - 1.0) * y0 * y1) AS s01,
                 SUM((c - 1.0) * y1 * y1) AS s11,
                 SUM(c * y0) AS b0,
                 SUM(c * y1) AS b1
          FROM obs GROUP BY u_idx),
    m AS (SELECT u_idx, n_obs,
                 gram.g00 + s00 + {IALS_REG} AS a00,
                 gram.g01 + s01 AS a01,
                 gram.g11 + s11 + {IALS_REG} AS a11,
                 b0, b1
          FROM a CROSS JOIN gram)
    SELECT u_idx, n_obs,
           ROUND((a11 * b0 - a01 * b1) / (a00 * a11 - a01 * a01), 6) AS x0,
           ROUND((a00 * b1 - a01 * b0) / (a00 * a11 - a01 * a01), 6) AS x1
    FROM m
    """,
)
def als_implicit_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X109: one implicit-feedback ALS user-side solve (Hu-Koren 2008) at
    k=2 — confidence-weighted normal equations x_u = (YtY + Yt(Cu-I)Y +
    lambda*I)^-1 YtCup(u) with the 2x2 inverse in closed form, so the epoch is
    pure relational algebra and value-checked end-to-end. The Hu-Koren
    trick IS the scale design: YtY is precomputed ONCE over the item set
    (a 3-number global agg, 1-row broadcast) and each user only
    aggregates its OBSERVED items ((c-1) weighting) — per-user cost is
    |obs(u)|, never |catalog|. One item-keyed factor join, one
    user-keyed agg, closed-form scalar math; k>2 generalizes by carrying
    k(k+1)/2 gram sums + a Newton/Cholesky pandas_udf solve, same plan
    shape. Gram entries are ROUNDED before the per-user solve so both
    engines invert bit-identical matrices."""
    from ..models.common import hash_uniform

    e = encoded_ratings(spark, sf_dir)
    y = e.select("i_idx").distinct().select(
        "i_idx",
        hash_uniform(F.col("i_idx"), 0, 0.1, IALS_SALT).alias("y0"),
        hash_uniform(F.col("i_idx"), 1, 0.1, IALS_SALT).alias("y1"),
    )
    gram = y.agg(
        F.round(F.sum(F.col("y0") * F.col("y0")), 6).alias("g00"),
        F.round(F.sum(F.col("y0") * F.col("y1")), 6).alias("g01"),
        F.round(F.sum(F.col("y1") * F.col("y1")), 6).alias("g11"),
    )
    obs = e.join(y, "i_idx").select(
        "u_idx", "y0", "y1", (1.0 + IALS_ALPHA * F.col("rating")).alias("c")
    )
    a = obs.groupBy("u_idx").agg(
        F.count("*").alias("n_obs"),
        F.sum((F.col("c") - 1.0) * F.col("y0") * F.col("y0")).alias("s00"),
        F.sum((F.col("c") - 1.0) * F.col("y0") * F.col("y1")).alias("s01"),
        F.sum((F.col("c") - 1.0) * F.col("y1") * F.col("y1")).alias("s11"),
        F.sum(F.col("c") * F.col("y0")).alias("b0"),
        F.sum(F.col("c") * F.col("y1")).alias("b1"),
    )
    m = a.crossJoin(F.broadcast(gram)).select(
        "u_idx",
        "n_obs",
        (F.col("g00") + F.col("s00") + IALS_REG).alias("a00"),
        (F.col("g01") + F.col("s01")).alias("a01"),
        (F.col("g11") + F.col("s11") + IALS_REG).alias("a11"),
        "b0",
        "b1",
    )
    det = F.col("a00") * F.col("a11") - F.col("a01") * F.col("a01")
    return m.select(
        "u_idx",
        "n_obs",
        F.round((F.col("a11") * F.col("b0") - F.col("a01") * F.col("b1")) / det, 6)
        .alias("x0"),
        F.round((F.col("a00") * F.col("b1") - F.col("a01") * F.col("b0")) / det, 6)
        .alias("x1"),
    )


# Forgy-initialized centroids for the Lloyd epoch: the quantized vectors
# of vec_ids 0-7 (millis scale), committed as LITERALS so the DuckDB
# oracle recomputes assignment and update from the identical constants
# (the similarity.py PQ-codebook discipline). Regenerating them is a
# correctness change.
KMEANS_CENTROIDS: list[list[int]] = [
    [54, 106, -38, -252, 200, -97, -78, -15, 164, 28, 40, -28, -193, -70, -27, -32, -22, 84, 7, 120, -245, -167, 151, -50, -77, 295, 76, -75, 31, 225, 112, 270, -170, -257, 8, -35, -9, 23, 12, 43, 85, -14, -145, -36, 25, 109, 62, -137, 143, -128, 21, 241, 78, -125, 54, 6, 47, 38, -176, -126, -54, 12, 105, -258],
    [-146, -15, 45, 4, -21, -70, -151, 64, -134, 53, -33, 39, 114, -131, 137, -23, -4, 75, 11, -311, 110, 231, 45, -48, 47, 209, -148, -148, -51, 289, -161, 123, -58, -214, -80, -2, -73, -125, 30, -296, -1, -95, 181, -1, 60, -59, -74, -192, -127, -255, -8, -5, -15, 193, 43, 147, 133, -129, 14, 166, -60, 14, -123, -59],
    [15, -10, -144, 170, -98, -10, 30, 67, -122, -236, 44, 44, -176, 55, 68, 153, -48, 121, -239, -280, 108, -52, 152, -4, -37, -81, -135, -94, 95, 187, -71, -174, 8, -128, -151, 55, 94, 198, 22, 32, 27, 76, 179, 40, -112, 36, -105, -62, 257, -94, 156, -108, 12, -212, 138, 226, 108, -153, 0, 187, 87, 136, 25, 103],
    [-158, 74, 52, 39, 70, -30, 131, 19, -239, 67, -46, 107, -12, 347, -27, 15, 8, -29, -41, 86, 57, -85, -17, 37, -104, 63, -4, -247, -289, -49, -44, -19, 293, -2, -92, -99, 102, -11, 0, -103, -17, -129, -296, 51, -14, 27, -98, -10, 331, -269, -84, -35, 43, 105, -204, -78, -19, -28, -17, -118, 171, -73, 8, -122],
    [-53, 25, 122, 30, -19, -260, 273, 289, 0, 179, 169, -31, 76, -92, 196, -11, 97, 215, 35, -126, -9, 62, -44, 95, -34, -57, 151, -125, 260, -86, 166, 32, -121, -85, 76, -149, -95, -61, -74, -55, 68, -66, -299, 31, 10, 98, -162, 113, -72, -75, 36, 80, 33, 145, 120, -33, 179, -218, -29, -37, -82, 72, 95, 170],
    [-25, -160, 142, 119, 132, -37, -102, 166, -100, 100, 130, -20, 89, -96, -99, -84, 140, -73, -79, 139, 98, -235, 152, 180, 145, 80, -63, -56, 41, 92, 202, -141, 43, -144, -53, 109, 33, 162, -156, 5, -140, 224, -141, 100, -117, -72, 65, -71, 67, 49, 94, 215, -31, 246, -176, -231, -60, -31, 26, 54, -140, 112, 15, 264],
    [-88, 86, 115, -149, -100, 186, -59, -30, -27, 363, 234, -27, 45, 205, -187, -40, -35, 144, -149, -191, 147, -169, -19, 22, -101, -76, -5, 82, 108, -63, 26, -58, -113, -251, -154, 96, 118, 193, -47, 107, 139, -116, -48, -114, 40, 125, 115, 100, 27, -24, -158, 161, 27, 43, -105, 219, -91, 193, -82, -11, 56, 53, 150, -31],
    [327, 97, -18, 150, -53, 0, -49, 160, -187, -51, 6, 1, -196, -99, 62, -170, 78, 119, -146, 39, -41, 45, 146, 53, 24, 58, -170, 122, -48, 70, 295, 92, -95, -128, -16, -125, -75, -152, 5, 145, -40, -180, 32, 5, 4, 100, -2, 214, -154, -73, 137, 155, -18, -151, -117, 192, 35, 120, -275, -118, 95, 22, 23, -217]
]


def _km_quant_sql(col: str) -> str:
    """Quantize a FLOAT[] embedding to exact integer millis (DuckDB)."""
    return (
        f"list_transform({col}, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    )


def _km_dist_exprs() -> tuple[list[str], list[str]]:
    """(spark_exprs, duck_exprs): squared-L2 distance from the quantized
    vector `q` to each literal centroid — exact BIGINT arithmetic."""
    spark_e, duck_e = [], []
    for c in KMEANS_CENTROIDS:
        lits = ", ".join(f"{v}L" for v in c)
        spark_e.append(
            f"aggregate(zip_with(q, array({lits}), (a, b) -> (a - b) * (a - b)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
        dlits = ", ".join(str(v) for v in c)
        duck_e.append(
            f"list_sum(list_transform(range(1, 65), di -> "
            f"(q[CAST(di AS INT)] - [{dlits}][CAST(di AS INT)])"
            f" * (q[CAST(di AS INT)] - [{dlits}][CAST(di AS INT)])))"
        )
    return spark_e, duck_e


def _km_oracle() -> str:
    _, duck = _km_dist_exprs()
    k = len(KMEANS_CENTROIDS)
    dist_cols = ",\n               ".join(
        f"{e} AS d{i}" for i, e in enumerate(duck)
    )
    best = "LEAST(" + ", ".join(f"d{i}" for i in range(k)) + ")"
    assign = "CASE " + " ".join(
        f"WHEN d{i} = {best} THEN {i}" for i in range(k)
    ) + " END"
    return f"""
    WITH qv AS (
        SELECT vec_id, {_km_quant_sql('embedding')} AS q FROM embeddings),
    d AS (
        SELECT vec_id, q,
               {dist_cols}
        FROM qv),
    a AS (
        SELECT vec_id, q, CAST({assign} AS BIGINT) AS cluster_id,
               {best} AS dist2
        FROM d),
    cm AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(dist2) AS BIGINT) AS inertia
        FROM a GROUP BY 1),
    s AS (
        SELECT a.cluster_id, r.dim,
               CAST(SUM(a.q[CAST(r.dim AS INT)]) AS BIGINT) AS sum_q
        FROM a CROSS JOIN (SELECT UNNEST(range(1, 65)) AS dim) r
        GROUP BY 1, 2)
    SELECT s.cluster_id, CAST(s.dim - 1 AS BIGINT) AS dim,
           cm.n_members, cm.inertia, s.sum_q,
           (s.sum_q * 1000) // cm.n_members AS new_centroid_micro
    FROM s JOIN cm ON s.cluster_id = cm.cluster_id
    ORDER BY s.cluster_id, dim
    """


@query("kmeans_lloyd_epoch", oracle=_km_oracle())
def kmeans_lloyd_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X264: one exact Lloyd iteration of k-means (k=8, Forgy-init
    literal centroids) over integer-quantized embeddings — the
    clustering twin of the als_implicit/bpr "one training epoch as a
    checked value" family, and the training loop behind similarity's
    IVF cells. Assignment = argmin of squared L2 distance to each
    literal centroid computed in EXACT BIGINT arithmetic (quantized
    millis, zip_with/aggregate HOFs — zero float ops, so the argmin
    can't flap cross-engine; ties break to the lowest centroid id via
    the CASE-chain order). Update = per-(cluster, dim) exact integer
    sums with the new centroid in scaled-integer micros
    ((sum·1000) DIV n — both engines truncate toward zero, verified).
    Per-cluster inertia is the exact summed distance, making
    convergence itself a checkable value. Plan: one scan, in-row
    distance/argmin (codegen), ONE posexplode + keyed agg, tiny
    cluster-meta broadcast join — the same shape at a billion vectors;
    iterating = re-literalizing centroids per epoch (driver-side
    O(k·dim), the IVF training loop documented in SCALE.md)."""
    spark_exprs, _ = _km_dist_exprs()
    k = len(KMEANS_CENTROIDS)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(CAST(embedding AS array<double>), "
            "x -> CAST(ROUND(x * 1000) AS BIGINT))"
        ).alias("q"),
    )
    d = e.select(
        "vec_id",
        "q",
        *[F.expr(ex).alias(f"d{i}") for i, ex in enumerate(spark_exprs)],
    )
    best = F.least(*[F.col(f"d{i}") for i in range(k)])
    assign = F.lit(None)
    chain = None
    for i in range(k):
        cond = F.col(f"d{i}") == F.col("dist2")
        chain = F.when(cond, i) if chain is None else chain.when(cond, i)
    a = d.withColumn("dist2", best).select(
        "vec_id", "q", chain.cast("long").alias("cluster_id"), "dist2"
    )
    cm = a.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.sum("dist2").alias("inertia"),
    )
    s = (
        a.select("cluster_id", F.posexplode("q").alias("dim", "qd"))
        .groupBy("cluster_id", "dim")
        .agg(F.sum("qd").alias("sum_q"))
    )
    return (
        s.join(F.broadcast(cm), "cluster_id")
        .select(
            "cluster_id",
            F.col("dim").cast("long").alias("dim"),
            "n_members",
            "inertia",
            "sum_q",
            F.expr("(sum_q * 1000) DIV n_members").alias("new_centroid_micro"),
        )
        .orderBy("cluster_id", "dim")
    )
