"""Grouped-map and vectorized-scalar Pandas UDF operators — the two
Arrow-crossing patterns not already exercised by multimodal (mapInPandas)
and streaming (applyInPandasWithState). Used only where the semantics are
genuinely awkward as SQL (SURVEY.md §7.0: built-ins first); both are
rows-only for the driver, with python-replica tests in
tests/test_properties.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..data import load_table, ratings_cached, spread
from ..registry import query

EWMA_ALPHA = 0.3


EWMA_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("interaction_id", T.LongType()),
        T.StructField("rating", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)


def ewma_per_user(ratings: DataFrame, alpha: float = EWMA_ALPHA) -> DataFrame:
    """Per-user EWMA of ratings in time order — the canonical sequential
    per-group recurrence (y_t = α·x_t + (1-α)·y_{t-1}) that window
    functions cannot express without recursion. GROUPED_MAP
    ``applyInPandas``: one shuffle on user_id, then each group's
    recurrence runs vectorized in pandas. At 100 TB the group payload is
    one user's history (bounded); skewed power-users are the risk — cap
    history length upstream or salt by time-bucket with a stitch pass."""

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        # rating tiebreak makes the order TOTAL over the output columns:
        # the derived interaction_id collides in the synthetic lineitem,
        # and an under-specified order would make the recurrence sequence
        # (hence every later ewma value) partition-order-dependent
        pdf = pdf.sort_values(["ts", "interaction_id", "rating"])
        y = pdf["rating"].ewm(alpha=alpha, adjust=False).mean()
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "interaction_id": pdf["interaction_id"],
                "rating": pdf["rating"],
                "ewma": np.round(y, 6),
            }
        )

    return ratings.groupBy("user_id").applyInPandas(ewma, schema=EWMA_SCHEMA)


# Closed-form oracle for the EWMA recurrence (adjust=False):
#   y_k = (1-α)^k · [ x_0 + α · Σ_{j=1..k} x_j · (1-α)^(-j) ]
# — a windowed sum of r^j-scaled terms rescaled by (1-α)^k. Valid while
# per-user series stay short enough that r^k = (1-α)^(-k) fits a double
# (k ≲ 1800 at α=0.3; the sampled users carry ~40 rows per SF). The
# ENGINE keeps the sequential pandas recurrence — the form that scales to
# arbitrarily long histories — and DuckDB uses the closed form, promoting
# this query from rows-only to a full value-checked verdict.
_EWMA_R = 1.0 / (1.0 - EWMA_ALPHA)

_EWMA_ORACLE = f"""
WITH r AS ({{ratings}}),
f AS (SELECT DISTINCT user_id, item_id, rating, ts, interaction_id
      FROM r WHERE user_id % 100 = 0),
o AS (SELECT user_id, interaction_id, rating,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, interaction_id, rating) - 1 AS k
      FROM f),
s AS (SELECT user_id, interaction_id, rating, k,
             SUM(CASE WHEN k = 0 THEN rating
                      ELSE {EWMA_ALPHA} * rating * POW({_EWMA_R}, k) END)
               OVER (PARTITION BY user_id ORDER BY k
                     ROWS UNBOUNDED PRECEDING) AS acc
      FROM o)
SELECT user_id, interaction_id, rating,
       ROUND(POW({1.0 - EWMA_ALPHA}, k) * acc, 6) AS ewma
FROM s
"""


def _ewma_oracle() -> str:
    from ..data import RATINGS_SQL

    return _EWMA_ORACLE.format(ratings=RATINGS_SQL)


@query("user_ewma", oracle=_ewma_oracle())
def user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA over the ratings stream (deterministic user subset to
    bound output). The engine runs the sequential recurrence (the form
    that scales to unbounded history); the oracle verifies it against the
    closed form — see _EWMA_ORACLE. Python-replica-tested in
    tests/test_properties.py."""
    r = (
        ratings_cached(spark, sf_dir)
        .filter(F.col("user_id") % 100 == 0)
        .dropDuplicates()  # testdata carries exact dup rows (D1); a defined
        # sequence needs one row per interaction
    )
    return ewma_per_user(r)


def quantize_int8_cols(v: F.Column) -> tuple[F.Column, F.Column]:
    """(scale, quantized-array) columns for symmetric int8 quantization of a
    ``array<double>`` column: scale = max|x|/127, q_i = clip(⌊x_i/scale +
    0.5⌋, -127, 127). Pure JVM higher-order functions — no Python crossing;
    ⌊x+0.5⌋ rounding (not banker's) because FLOOR is bit-identical across
    engines, which keeps the DuckDB oracle hash-exact."""
    m = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(m > 0, m / F.lit(127.0)).otherwise(F.lit(1.0))
    q = F.transform(
        v,
        lambda x: F.least(
            F.lit(127.0), F.greatest(F.lit(-127.0), F.floor(x / scale + 0.5))
        ).cast("int"),
    )
    return scale, q


def quantize_int8_batch(v: pd.Series) -> pd.Series:
    """Whole-batch numpy kernel for the same quantization — the vectorized
    SCALAR pandas_udf shape (np.stack over the Arrow batch, zero per-row
    Python). Kept as the demonstration twin of :func:`quantize_int8_cols`;
    parity between the two is asserted in tests/test_properties.py."""
    a = np.stack(v.to_numpy())  # (batch, dim) — fixed-length vectors
    m = np.abs(a).max(axis=1)
    s = np.where(m > 0, m / 127.0, 1.0)
    q = np.clip(np.floor(a / s[:, None] + 0.5), -127, 127).astype(np.int32)
    return pd.Series(list(q))


QUANT_SQL = """
    WITH s AS (
        SELECT vec_id, v,
               CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS scale
        FROM (
            SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) AS m
            FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        )
    )
    SELECT vec_id,
           ROUND(scale, 9) AS scale,
           CAST(generate_subscripts(v, 1) - 1 AS INT) AS pos,
           CAST(LEAST(127, GREATEST(-127, FLOOR(unnest(v) / scale + 0.5)))
                AS INT) AS qval
    FROM s
"""


COGROUP_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_ratings", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("events_per_rating", T.DoubleType()),
    ]
)

COGROUP_SQL = """
    WITH r AS (
        SELECT o.o_custkey AS user_id, CAST(COUNT(*) AS BIGINT) AS n_ratings
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey
    ),
    e AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
          FROM events GROUP BY user_id)
    SELECT r.user_id, r.n_ratings, e.n_events,
           ROUND(e.n_events * 1.0 / r.n_ratings, 6) AS events_per_rating
    FROM r JOIN e ON r.user_id = e.user_id
"""


@query("cogroup_user_activity", oracle=COGROUP_SQL)
def cogroup_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map pattern — ``groupBy(k).cogroup(other.groupBy(k))``
    ``.applyInPandas``: both tables shuffle ONCE on the key, then each
    user's ratings AND events arrive together in one Python call. This
    query's per-user logic (count alignment) is deliberately
    SQL-expressible so the cogroup machinery itself is value-checked
    against a two-aggregate join oracle; the pattern's real use is
    per-key alignment logic SQL can't express (sequence interleaving,
    per-user model scoring against history) — this pins the plumbing
    that would carry it. Completes the Arrow-crossing pattern matrix:
    scalar pandas_udf, GROUPED_MAP, mapInPandas, cogroup,
    applyInPandasWithState. Inner-join semantics (users active on both
    sides) keep the output null-free for canonical hashing."""
    r = ratings_cached(spark, sf_dir).select("user_id")
    ev = load_table(spark, sf_dir, "events").select("user_id")

    def align(key: tuple, r_pdf: pd.DataFrame, e_pdf: pd.DataFrame) -> pd.DataFrame:
        nr, ne = len(r_pdf), len(e_pdf)
        if nr == 0 or ne == 0:
            return pd.DataFrame(columns=[f.name for f in COGROUP_SCHEMA.fields])
        return pd.DataFrame(
            [
                {
                    "user_id": key[0],
                    "n_ratings": nr,
                    "n_events": ne,
                    # raw quotient here; rounding happens JVM-side below so
                    # the rule is HALF_UP like DuckDB ROUND, not numpy's
                    # half-to-even (ADVICE r02)
                    "events_per_rating": ne / nr,
                }
            ]
        )

    return (
        r.groupBy("user_id")
        .cogroup(ev.groupBy("user_id"))
        .applyInPandas(align, schema=COGROUP_SCHEMA)
        .withColumn("events_per_rating", F.round("events_per_rating", 6))
    )


@query("embedding_quantize_int8", oracle=QUANT_SQL)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings (per-vector scale =
    max|x|/127) — the memory-scale path for ANN: 4× smaller vectors, dot
    products in int arithmetic. Entirely JVM higher-order functions
    (transform/array_max inside codegen — the pandas_udf twin
    :func:`quantize_int8_batch` exists for the Arrow-batch pattern but the
    hot path never leaves the JVM). Emits exploded (vec_id, pos, qval)
    scalars so the result is canonically sortable; dequant error ≤ scale/2
    per component, asserted in tests."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    scale, q = quantize_int8_cols(F.col("v"))
    return (
        e.select("vec_id", F.round(scale, 9).alias("scale"), q.alias("q"))
        .select("vec_id", "scale", F.posexplode("q").alias("pos", "qval"))
    )


@query(
    "grouped_agg_pandas_udf",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 6)
               AS iqr,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def grouped_agg_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — the fifth and last Arrow shape
    (alongside scalar pandas_udf, GROUPED_MAP, mapInPandas, and
    applyInPandasWithState): a custom aggregate whose kernel is a numpy
    expression over the group's Arrow batch, used directly inside
    groupBy().agg() next to built-ins. The kernel here (interquartile
    range via np.percentile with linear interpolation) is deliberately
    SQL-expressible so the Arrow aggregation path itself is
    value-checked against an exact oracle — the plumbing is the test
    subject, the IQR the witness. Two placement rules pinned: GROUPED_AGG
    UDFs cannot share an agg with non-pandas aggregates (the count is a
    second Arrow kernel), and GROUPED_AGG
    ships whole groups to Python (no partial aggregation), so at 100 TB
    it is for moderate group counts with kernels SQL can't express —
    else prefer built-ins (the `embedding_quantize_int8` lesson)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def iqr(v: pd.Series) -> float:
        q75, q25 = np.percentile(v.to_numpy(), [75.0, 25.0])
        return float(q75 - q25)

    # GROUPED_AGG UDFs cannot mix with non-pandas aggregates in one agg
    # (INVALID_PANDAS_UDF_PLACEMENT) — the count rides a second Arrow
    # kernel instead of F.count
    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    ev = load_table(spark, sf_dir, "events")
    agged = ev.groupBy("event_type").agg(
        iqr("value").alias("iqr_raw"), n_rows("value").alias("n")
    )
    return agged.select(
        "event_type", F.round("iqr_raw", 6).alias("iqr"), "n"
    )


@query(
    "map_in_arrow_passthrough",
    oracle="""
    SELECT vec_id,
           CAST(LEN(embedding) AS INT) AS n_dims,
           ROUND(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE))), 6) AS vec_sum
    FROM embeddings
    """,
)
def map_in_arrow_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` — the RAW-Arrow interop path below `mapInPandas`: the
    kernel receives pyarrow RecordBatches directly, skipping the
    pandas conversion entirely (no index, no object boxing, no dtype
    coercion) — the shape for kernels that are already Arrow-native
    (Arrow compute, Rust/C++ extensions via the C data interface,
    columnar codecs). The kernel here sums each embedding with
    pyarrow.compute list operations, value-checked against the SQL
    form — the plumbing is the subject, per the `cogroup_user_activity`
    discipline. The batch-level contract (schema declared up front,
    batches in/batches out) is what survives at 100 TB."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..data import load_table

    def kernel(batches):
        for b in batches:
            vec = b.column("embedding").combine_chunks() if isinstance(
                b.column("embedding"), pa.ChunkedArray
            ) else b.column("embedding")
            flat = pc.cast(pc.list_flatten(vec), pa.float64()).to_numpy(
                zero_copy_only=False
            )
            offsets = np.asarray(vec.offsets)
            # per-list sums via reduceat over the flattened buffer — the
            # zero-copy columnar reduction mapInArrow exists for
            sums = np.round(np.add.reduceat(flat, offsets[:-1]), 6)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("vec_id"),
                    pc.cast(pc.list_value_length(vec), pa.int32()),
                    pa.array(sums, type=pa.float64()),
                ],
                names=["vec_id", "n_dims", "vec_sum"],
            )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.mapInArrow(kernel, "vec_id BIGINT, n_dims INT, vec_sum DOUBLE")


@query(
    "udtf_order_milestones",
    oracle="""
    WITH u AS (SELECT o_orderkey,
                      CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS day0,
                      CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders WHERE o_orderpriority = '1-URGENT'),
    m AS (SELECT o_orderkey, day0, cents, UNNEST(range(1, 4)) AS k FROM u)
    SELECT o_orderkey, CAST(k AS BIGINT) AS k,
           day0 + 7 * k AS due_day,
           CASE WHEN k = 1 THEN (cents * 5) // 10
                WHEN k = 2 THEN (cents * 3) // 10
                ELSE cents - (cents * 5) // 10 - (cents * 3) // 10
           END AS tranche_cents
    FROM m
    """,
)
def udtf_order_milestones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X237: the Python UDTF surface (PySpark 4 `@udtf` + LATERAL),
    completing the Python-interop pattern set (scalar pandas_udf,
    GROUPED_MAP/AGG, mapInPandas, mapInArrow, applyInPandasWithState,
    cogroup): each urgent order expands into a 50/30/20 payment-milestone
    schedule — one input row → three typed output rows produced by
    imperative Python, joined laterally. Arrow-optimized
    (`ArrowEvalPythonUDTF` in the plan, not row-pickled BatchEvalPython);
    the priority filter sits BELOW the UDTF so only the urgent slice
    crosses into Python. Money is integer cents and dates integer day
    numbers, so the oracle (UNNEST(range) + the same integer splits)
    reproduces every value exactly. At 100 TB a UDTF is still the slow
    path — this op exists to pin the API for the expansions that
    genuinely need imperative logic; `F.sequence`/`explode` stays the
    fast path for anything expressible in SQL."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="k long, due_day long, tranche_cents long", useArrow=True)
    class Milestones:
        def eval(self, day0: int, cents: int):
            t1 = cents * 5 // 10
            t2 = cents * 3 // 10
            for k in range(1, 4):
                tranche = t1 if k == 1 else t2 if k == 2 else cents - t1 - t2
                yield k, day0 + 7 * k, tranche

    spark.udtf.register("drs_milestones", Milestones)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("drs_udtf_orders")
    return spark.sql(
        """
        SELECT o.o_orderkey, m.k, m.due_day, m.tranche_cents
        FROM drs_udtf_orders o,
             LATERAL drs_milestones(
                 CAST(FLOOR(unix_timestamp(o.o_orderdate) / 86400) AS BIGINT),
                 CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) m
        WHERE o.o_orderpriority = '1-URGENT'
        """
    )


HYST_HI, HYST_LO = 80.0, 20.0  # fire/clear thresholds (value quartiles ~15/69)

HYST_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("sec", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("alert", T.IntegerType()),
    ]
)


@query(
    "hysteresis_alert_flags",
    oracle=f"""
    WITH RECURSIVE e AS (
        SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
               value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT),
                                           event_id) AS rn
        FROM events WHERE user_id % 10 = 0),
    st(user_id, event_id, sec, value, rn, alert) AS (
        SELECT user_id, event_id, sec, value, rn,
               CASE WHEN value > {HYST_HI} THEN 1 ELSE 0 END
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.event_id, e.sec, e.value, e.rn,
               CASE WHEN e.value > {HYST_HI} THEN 1
                    WHEN e.value < {HYST_LO} THEN 0
                    ELSE st.alert END
        FROM e JOIN st ON e.user_id = st.user_id AND e.rn = st.rn + 1)
    SELECT user_id, event_id, sec, value, CAST(alert AS INT) AS alert
    FROM st
    """,
)
def hysteresis_alert_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X256: hysteresis (Schmitt-trigger) alerting over each user's event
    stream — alert RAISES above {HYST_HI}, CLEARS below {HYST_LO}, and
    HOLDS its previous state in between. The two-threshold band is what
    separates production alerting from naive thresholding (no flapping
    when a metric oscillates around one line), and the hold branch makes
    the state genuinely RECURSIVE: unlike user_ewma's linear recurrence
    there is no closed form, so neither window functions nor prefix
    algebra can express it — this is exactly the shape GROUPED_MAP
    applyInPandas exists for (one shuffle on user_id, per-group
    vectorized recurrence; the streaming twin is
    applyInPandasWithState/stream_sessionize's pattern with the alert
    bit as state). The recurrence is np.where masks + one forward-fill
    (raise/clear rows pin the state, holds propagate the last pinned
    value) — vectorized, no per-row Python loop. Only threshold
    COMPARISONS touch the float values (no arithmetic), so cross-engine
    determinism is structural; the oracle is a recursive CTE stepping
    rn → rn+1. Deterministic user subset bounds the output; order is
    total via (sec, event_id)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 0)
        .select(
            "user_id",
            "event_id",
            F.unix_timestamp("ts").alias("sec"),
            "value",
        )
    )

    def hyst(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["sec", "event_id"])
        v = pdf["value"].to_numpy()
        pin = np.where(v > HYST_HI, 1.0, np.where(v < HYST_LO, 0.0, np.nan))
        # forward-fill the pinned states; leading holds default to 0
        s = pd.Series(pin).ffill().fillna(0.0).to_numpy().astype(np.int32)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "sec": pdf["sec"],
                "value": pdf["value"],
                "alert": s,
            }
        )

    return ev.groupBy("user_id").applyInPandas(hyst, schema=HYST_SCHEMA)


HOLT_ALPHA, HOLT_BETA = 0.5, 0.25  # dyadic: exact in binary floating point

HOLT_SCHEMA = T.StructType(
    [
        T.StructField("n_name", T.StringType()),
        T.StructField("n_days", T.LongType()),
        T.StructField("last_day", T.LongType()),
        T.StructField("level_cents", T.DoubleType()),
        T.StructField("trend_cents", T.DoubleType()),
        T.StructField("forecast7_cents", T.DoubleType()),
    ]
)


@query(
    "holt_linear_forecast",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT n_name,
               CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                   AS y
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2),
    d AS (
        SELECT n_name, day, y,
               ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY day) AS rn,
               COUNT(*) OVER (PARTITION BY n_name) AS n_days,
               MAX(day) OVER (PARTITION BY n_name) AS last_day
        FROM daily),
    st(n_name, rn, lprev, l, b) AS (
        SELECT n_name, rn, y, y, CAST(0 AS DOUBLE) FROM d WHERE rn = 1
        UNION ALL
        SELECT d.n_name, d.rn, st.l,
               0.5 * d.y + 0.5 * (st.l + st.b),
               0.25 * ((0.5 * d.y + 0.5 * (st.l + st.b)) - st.l)
                   + 0.75 * st.b
        FROM d JOIN st ON d.n_name = st.n_name AND d.rn = st.rn + 1)
    SELECT st.n_name, CAST(d.n_days AS BIGINT) AS n_days,
           CAST(d.last_day AS BIGINT) AS last_day,
           st.l AS level_cents, st.b AS trend_cents,
           st.l + 7 * st.b AS forecast7_cents
    FROM st
    JOIN (SELECT n_name, MAX(rn) AS mrn, ANY_VALUE(n_days) AS n_days,
                 ANY_VALUE(last_day) AS last_day
          FROM d GROUP BY 1) d
      ON st.n_name = d.n_name AND st.rn = d.mrn
    """,
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X262: Holt double exponential smoothing (level + trend) over each
    nation's daily-revenue series, with the 7-day-ahead linear forecast
    — the workhorse short-horizon forecaster between user_ewma's single
    smoother and full Holt-Winters. The state (l, b) is a genuinely
    2-dimensional linear recurrence: no window/prefix expression can
    carry both components, so this is the GROUPED_MAP applyInPandas
    shape (ONE shuffle on the series key, sequential recurrence inside
    the group — inherent to the model, parallelism comes from the
    number of series). Determinism is BIT-EXACT by construction, not by
    rounding: α=0.5 / β=0.25 are dyadic (exact binary floats), inputs
    are exact integer cents widened once, and the engine's numpy loop
    evaluates literally the same expression tree as the oracle's
    recursive CTE step — l' = 0.5y + 0.5(l+b), b' = 0.25(l'−l) + 0.75b
    — so IEEE-754 yields identical bits and the output ships UNROUNDED
    doubles. At scale: |nations| bounds the group count here; for
    millions of series the same plan shards perfectly (hash shuffle on
    key, O(len) work per series)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            "CAST(FLOOR(unix_timestamp(o_orderdate)) AS BIGINT) DIV 86400"
        ).alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        o.join(F.broadcast(c.join(F.broadcast(n),
                                  c["c_nationkey"] == n["n_nationkey"]))
               .select("c_custkey", "n_name"),
               o["o_custkey"] == F.col("c_custkey"))
        .groupBy("n_name", "day")
        .agg(F.sum("cents").cast("double").alias("y"))
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        y = pdf["y"].to_numpy()
        l = y[0]
        b = 0.0
        for t in range(1, len(y)):
            l_new = 0.5 * y[t] + 0.5 * (l + b)
            b = 0.25 * (l_new - l) + 0.75 * b
            l = l_new
        return pd.DataFrame(
            {
                "n_name": [pdf["n_name"].iloc[0]],
                "n_days": [len(y)],
                "last_day": [int(pdf["day"].max())],
                "level_cents": [l],
                "trend_cents": [b],
                "forecast7_cents": [l + 7 * b],
            }
        )

    return daily.groupBy("n_name").applyInPandas(holt, schema=HOLT_SCHEMA)


TB_CAP = 3  # token-bucket capacity
TB_REFILL_S = 86400  # one token per day (matches the fixture's event rate)

TB_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("sec", T.LongType()),
        T.StructField("allowed", T.IntegerType()),
        T.StructField("tokens_after", T.LongType()),
    ]
)


@query(
    "rate_limit_token_bucket",
    oracle=f"""
    WITH RECURSIVE e AS (
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(event_id AS BIGINT) AS event_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
               CAST(FLOOR(epoch(ts)) AS BIGINT) // {TB_REFILL_S} AS tick,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT),
                                           event_id) AS rn
        FROM events),
    st(user_id, event_id, sec, tick, rn, allowed, tokens_after) AS (
        SELECT user_id, event_id, sec, tick, rn,
               1, CAST({TB_CAP} - 1 AS BIGINT)
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.event_id, e.sec, e.tick, e.rn,
               CASE WHEN LEAST({TB_CAP}, st.tokens_after
                               + (e.tick - st.tick)) >= 1
                    THEN 1 ELSE 0 END,
               LEAST({TB_CAP}, st.tokens_after + (e.tick - st.tick))
               - CASE WHEN LEAST({TB_CAP}, st.tokens_after
                               + (e.tick - st.tick)) >= 1
                      THEN 1 ELSE 0 END
        FROM e JOIN st ON e.user_id = st.user_id AND e.rn = st.rn + 1)
    SELECT user_id, event_id, sec, CAST(allowed AS INT) AS allowed,
           tokens_after
    FROM st
    ORDER BY user_id, sec, event_id
    """,
)
def rate_limit_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X314: token-bucket rate limiting over each user's event stream —
    THE production admission-control recurrence (API gateways, ingest
    quotas): a bucket of {TB_CAP} tokens refills one per
    {TB_REFILL_S}-second tick, each admitted event spends one, empty
    bucket denies. Like hysteresis_alert_flags the state is genuinely
    recursive (the capacity clamp is non-linear — no window/prefix
    closed form), so the batch form is one hash shuffle on user_id +
    sortWithinPartitions(user_id, sec, event_id) and a single
    mapInPandas pass replaying the recurrence with carried state that
    resets at user_id boundaries (bin_pack_next_fit's shape — per-group
    applyInPandas paid a pandas-frame construction per tiny group).
    ALL state is integer (tokens, day ticks) —
    zero float anywhere — and refill accrues on absolute tick
    boundaries, so the recurrence depends only on (tick_i − tick_{{i-1}})
    integer differences the oracle's recursive CTE replays exactly.
    Pinned (tests): tokens_after ∈ [0, {TB_CAP}], denials fire on this
    fixture (bursty days outrun the refill), an admitted event always
    had ≥1 token, and per-user admitted count ≤ {TB_CAP} + elapsed
    ticks + 1 (the bucket's defining throughput bound). The streaming
    twin is applyInPandasWithState with (tokens, tick) as the one
    struct of state — stream_hysteresis_alerts' shape."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.expr("CAST(FLOOR(unix_timestamp(ts)) AS BIGINT)").alias("sec"),
    )

    n_part = spark.sparkContext.defaultParallelism

    def bucket(batches):
        import numpy as np

        # carried across Arrow batches within one partition; user rows are
        # contiguous and (sec, event_id)-ordered by sortWithinPartitions
        cur_user = None
        tokens, prev_tick = TB_CAP, 0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            users = pdf["user_id"].to_numpy()
            ticks = (pdf["sec"].to_numpy() // TB_REFILL_S).astype("int64")
            allowed = np.zeros(n, dtype="int32")
            after = np.zeros(n, dtype="int64")
            for i in range(n):
                u = users[i]
                if u != cur_user:
                    cur_user = u
                    tokens, prev_tick = TB_CAP, ticks[i]
                tokens = min(TB_CAP, tokens + (ticks[i] - prev_tick))
                prev_tick = ticks[i]
                if tokens >= 1:
                    allowed[i] = 1
                    tokens -= 1
                after[i] = tokens
            pdf["allowed"] = allowed
            pdf["tokens_after"] = after
            yield pdf[["user_id", "event_id", "sec", "allowed", "tokens_after"]]

    return (
        ev.repartition(n_part, "user_id")
        .sortWithinPartitions("user_id", "sec", "event_id")
        .mapInPandas(bucket, schema=TB_SCHEMA)
        .orderBy("user_id", "sec", "event_id")
    )


BP_CAP = 300  # container capacity in quantity units

BP_SCHEMA = T.StructType(
    [
        T.StructField("custkey", T.LongType()),
        T.StructField("orderkey", T.LongType()),
        T.StructField("day", T.LongType()),
        T.StructField("size", T.LongType()),
        T.StructField("bin_idx", T.LongType()),
        T.StructField("rem_after", T.LongType()),
    ]
)


@query(
    "bin_pack_next_fit",
    oracle=f"""
    WITH RECURSIVE it AS (
        SELECT o.o_custkey AS custkey, o.o_orderkey AS orderkey,
               CAST(epoch(o.o_orderdate) AS BIGINT) // 86400 AS day,
               LEAST(q.qty, {BP_CAP}) AS size,
               ROW_NUMBER() OVER (
                   PARTITION BY o.o_custkey
                   ORDER BY CAST(epoch(o.o_orderdate) AS BIGINT) // 86400,
                            o.o_orderkey) AS rn
        FROM orders o
        JOIN (SELECT l_orderkey,
                     CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT))
                          AS BIGINT) AS qty
              FROM lineitem GROUP BY 1) q
          ON q.l_orderkey = o.o_orderkey),
    st(custkey, orderkey, day, size, rn, bin_idx, rem_after) AS (
        SELECT custkey, orderkey, day, size, rn,
               CAST(1 AS BIGINT), CAST({BP_CAP} AS BIGINT) - size
        FROM it WHERE rn = 1
        UNION ALL
        SELECT i.custkey, i.orderkey, i.day, i.size, i.rn,
               CASE WHEN i.size <= st.rem_after THEN st.bin_idx
                    ELSE st.bin_idx + 1 END,
               CASE WHEN i.size <= st.rem_after
                    THEN st.rem_after - i.size
                    ELSE {BP_CAP} - i.size END
        FROM it i
        JOIN st ON i.custkey = st.custkey AND i.rn = st.rn + 1)
    SELECT custkey, orderkey, day, size, bin_idx, rem_after
    FROM st
    ORDER BY custkey, day, orderkey
    """,
)
def bin_pack_next_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X322: NEXT-FIT bin packing of each customer's order stream into
    fixed-capacity containers — the shipment-consolidation primitive
    (items arrive in time order; the open container closes the moment
    one doesn't fit; you never reopen). Item size = the order's total
    lineitem quantity clamped to the {BP_CAP}-unit capacity. The state
    (open-bin index, remaining space) resets non-linearly on overflow —
    like the token bucket there is NO window/prefix closed form. Batch
    shape: ONE hash shuffle on custkey + sortWithinPartitions(custkey,
    day, orderkey), then a single mapInPandas pass replaying the
    recurrence with carried state that resets at custkey boundaries —
    NOT per-group applyInPandas, whose per-tiny-group pandas-frame
    overhead dominated wall time (~15k one-customer frames per SF unit;
    measured ~19.9 s → ~2 s at sf0.1 for the same shuffle volume and
    identical output). Hash partitioning puts every custkey's rows in
    one partition; the within-partition sort makes them contiguous, so
    carried state crosses Arrow batches but never partitions. ALL state
    is BIGINT — zero float — so the oracle's recursive CTE replays the
    recurrence exactly.
    Pinned (tests): 0 <= rem_after < {BP_CAP}, bin_idx is nondecreasing
    per customer starting at 1, each bin's contents sum <= {BP_CAP},
    and next-fit's defining guarantee: two CONSECUTIVE bins always sum
    > {BP_CAP} (else the second would have fit in the first), which
    bounds bins used < 2x optimal. At 100 TB: parallelism = number of
    partitions (keys are spread hash-uniformly); per-key work linear in
    their orders."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("custkey"),
        F.col("o_orderkey").cast("long").alias("orderkey"),
        F.expr(
            "CAST(FLOOR(unix_timestamp(o_orderdate)) AS BIGINT) DIV 86400"
        ).alias("day"),
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").cast("long").alias("orderkey"))
        .agg(
            F.least(
                F.sum(F.floor(F.col("l_quantity")).cast("long")),
                F.lit(BP_CAP),
            )
            .cast("long")
            .alias("size")
        )
    )
    it = o.join(li, "orderkey")
    n_part = spark.sparkContext.defaultParallelism

    def pack(batches):
        import numpy as np

        # carried across Arrow batches WITHIN one partition (the generator
        # runs once per partition); custkey rows are contiguous and
        # (day, orderkey)-ordered by the sortWithinPartitions below
        cur_key = None
        bin_idx, rem = 1, BP_CAP
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            keys = pdf["custkey"].to_numpy()
            sizes = pdf["size"].to_numpy()
            bins = np.empty(n, dtype="int64")
            rems = np.empty(n, dtype="int64")
            for i in range(n):
                k = keys[i]
                if k != cur_key:
                    cur_key = k
                    bin_idx, rem = 1, BP_CAP
                s = int(sizes[i])
                if s <= rem:
                    rem -= s
                else:
                    bin_idx += 1
                    rem = BP_CAP - s
                bins[i] = bin_idx
                rems[i] = rem
            pdf["bin_idx"] = bins
            pdf["rem_after"] = rems
            yield pdf[
                ["custkey", "orderkey", "day", "size", "bin_idx", "rem_after"]
            ]

    return (
        it.repartition(n_part, "custkey")
        .sortWithinPartitions("custkey", "day", "orderkey")
        .mapInPandas(pack, schema=BP_SCHEMA)
        .orderBy("custkey", "day", "orderkey")
    )


HW_SCHEMA = T.StructType(
    [T.StructField("n_name", T.StringType()),
     T.StructField("n_days", T.LongType()),
     T.StructField("level_cents", T.DoubleType()),
     T.StructField("trend_cents", T.DoubleType())]
    + [T.StructField(f"s{i}", T.DoubleType()) for i in range(7)]
)


@query(
    "holt_winters_additive",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT n_name,
               CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2),
    span AS (
        SELECT n_name, MIN(day) AS d0, MAX(day) AS d1
        FROM daily GROUP BY 1),
    x AS (
        SELECT g.n_name, g.day - s.d0 AS rn,
               CAST(COALESCE(d.cents, 0) AS DOUBLE) AS y
        FROM (SELECT n_name, CAST(UNNEST(range(d0, d1 + 1)) AS BIGINT)
                     AS day
              FROM span) g
        JOIN span s USING (n_name)
        LEFT JOIN daily d ON d.n_name = g.n_name AND d.day = g.day),
    st(n_name, rn, l, b, s) AS (
        SELECT n_name, CAST(0 AS BIGINT), y, CAST(0 AS DOUBLE),
               [CAST(0 AS DOUBLE) FOR gi IN range(7)]
        FROM x WHERE rn = 0
        UNION ALL
        SELECT x.n_name, x.rn,
               0.5 * (x.y - st.s[CAST(x.rn % 7 AS INT) + 1])
                   + 0.5 * (st.l + st.b),
               0.25 * ((0.5 * (x.y - st.s[CAST(x.rn % 7 AS INT) + 1])
                        + 0.5 * (st.l + st.b)) - st.l) + 0.75 * st.b,
               [CASE WHEN gi = CAST(x.rn % 7 AS INT)
                     THEN 0.5 * (x.y
                                 - (0.5 * (x.y
                                           - st.s[CAST(x.rn % 7 AS INT)
                                                  + 1])
                                    + 0.5 * (st.l + st.b)))
                          + 0.5 * st.s[CAST(x.rn % 7 AS INT) + 1]
                     ELSE st.s[gi + 1] END
                FOR gi IN range(7)]
        FROM x JOIN st ON x.n_name = st.n_name AND x.rn = st.rn + 1)
    SELECT st.n_name,
           CAST(m.mrn + 1 AS BIGINT) AS n_days,
           st.l AS level_cents, st.b AS trend_cents,
           st.s[1] AS s0, st.s[2] AS s1, st.s[3] AS s2, st.s[4] AS s3,
           st.s[5] AS s4, st.s[6] AS s5, st.s[7] AS s6
    FROM st
    JOIN (SELECT n_name, MAX(rn) AS mrn FROM x GROUP BY 1) m
      ON st.n_name = m.n_name AND st.rn = m.mrn
    ORDER BY st.n_name
    """,
)
def holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X335: Holt-Winters ADDITIVE triple exponential smoothing (level +
    trend + weekly seasonal) over each nation's zero-filled daily
    revenue — the seasonal rung above holt_linear_forecast (X262),
    closing the classical smoothing ladder (EWMA -> Holt -> HW). The
    state is (l, b, s[7]): genuinely 9-dimensional and non-linear in
    its indexing (the seasonal slot rotates with day mod 7), so no
    window/prefix form exists — the declared GROUPED_MAP shape, one
    shuffle on nation, sequential recurrence per series. Determinism is
    BIT-EXACT by construction (the holt discipline, extended to LIST
    state): alpha=0.5, beta=0.25, gamma=0.5 are dyadic, inputs exact
    integer cents widened once, gap days are true zeros off the
    calendar grid (seasonality needs contiguous day indexing, unlike
    Holt), and the numpy loop evaluates literally the oracle CTE's
    expression tree — l' = 0.5(y - s_p) + 0.5(l+b); b' = 0.25(l'-l) +
    0.75b; s_p' = 0.5(y - l') + 0.5 s_p — so IEEE-754 gives identical
    bits and the output ships UNROUNDED doubles (level, trend, all 7
    seasonal slots). Init: l=y_0, b=0, s=0 (documented spec; t=0 does
    no seasonal update). At 100 TB parallelism = number of series."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            "CAST(FLOOR(unix_timestamp(o_orderdate)) AS BIGINT) DIV 86400"
        ).alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        o.join(
            F.broadcast(
                c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
            ).select("c_custkey", "n_name"),
            o["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy("n_name", "day")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    grid = (
        daily.groupBy("n_name")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "n_name",
            "d0",
            F.explode(F.sequence("d0", "d1")).alias("day"),
        )
    )
    x = (
        grid.join(daily, ["n_name", "day"], "left")
        .select(
            "n_name",
            (F.col("day") - F.col("d0")).alias("rn"),
            F.coalesce("cents", F.lit(0)).cast("double").alias("y"),
        )
    )

    def hw(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values("rn", ignore_index=True)
        y = pdf["y"].to_numpy()
        l = y[0]
        b = 0.0
        s = np.zeros(7)
        for t in range(1, len(y)):
            p = t % 7
            sp = s[p]
            l_new = 0.5 * (y[t] - sp) + 0.5 * (l + b)
            b = 0.25 * (l_new - l) + 0.75 * b
            s[p] = 0.5 * (y[t] - l_new) + 0.5 * sp
            l = l_new
        row = {
            "n_name": pdf["n_name"].iloc[0],
            "n_days": len(y),
            "level_cents": l,
            "trend_cents": b,
        }
        for i in range(7):
            row[f"s{i}"] = s[i]
        return pd.DataFrame([row])

    return (
        x.groupBy("n_name")
        .applyInPandas(hw, schema=HW_SCHEMA)
        .orderBy("n_name")
    )


QL_SVC_S = 1500  # service seconds per quantity unit
QL_REPLAY = 240  # replay window: first N orders per server (bounds the
# recursion depth — and the oracle's recursive-CTE iteration count — at
# any SF; backlog sims replay a window, not all history)

QL_SCHEMA = T.StructType(
    [
        T.StructField("nation", T.LongType()),
        T.StructField("orderkey", T.LongType()),
        T.StructField("arr_s", T.LongType()),
        T.StructField("svc_s", T.LongType()),
        T.StructField("wait_s", T.LongType()),
        T.StructField("depart_s", T.LongType()),
    ]
)


@query(
    "queue_lindley_wait",
    oracle=f"""
    WITH RECURSIVE it0 AS (
        SELECT c.c_nationkey AS nation, o.o_orderkey AS orderkey,
               CAST(epoch(o.o_orderdate) AS BIGINT) AS arr_s,
               q.qty * {QL_SVC_S} AS svc_s,
               ROW_NUMBER() OVER (
                   PARTITION BY c.c_nationkey
                   ORDER BY CAST(epoch(o.o_orderdate) AS BIGINT),
                            o.o_orderkey) AS rn
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN (SELECT l_orderkey,
                     CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT))
                          AS BIGINT) AS qty
              FROM lineitem GROUP BY 1) q
          ON q.l_orderkey = o.o_orderkey),
    it AS (SELECT * FROM it0 WHERE rn <= {QL_REPLAY}),
    st(nation, orderkey, arr_s, svc_s, rn, wait_s) AS (
        SELECT nation, orderkey, arr_s, svc_s, rn, CAST(0 AS BIGINT)
        FROM it WHERE rn = 1
        UNION ALL
        SELECT i.nation, i.orderkey, i.arr_s, i.svc_s, i.rn,
               GREATEST(CAST(0 AS BIGINT),
                        st.wait_s + st.svc_s - (i.arr_s - st.arr_s))
        FROM it i
        JOIN st ON i.nation = st.nation AND i.rn = st.rn + 1)
    SELECT nation, orderkey, arr_s, svc_s, wait_s,
           CAST(arr_s + wait_s + svc_s AS BIGINT) AS depart_s
    FROM st
    ORDER BY nation, arr_s, orderkey
    """,
)
def queue_lindley_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X348: Lindley waiting-time recursion — replay each nation's order
    stream through a single-server FIFO queue (service time
    proportional to order quantity, {QL_SVC_S}s per unit) and compute
    every order's queueing delay over the first {QL_REPLAY} arrivals
    per server (the replay window — bounds per-group work AND the
    oracle's recursive-CTE depth at any SF): W_i = max(0, W_(i-1) +
    S_(i-1) - interarrival). This is THE queueing-theory primitive (fulfillment
    backlogs, ticket queues, GPU job schedulers all replay it to size
    capacity). The max(0, .) reflection is non-linear — no
    window/prefix closed form (the token-bucket argument) — so the
    batch shape is GROUPED_MAP applyInPandas: one shuffle on the
    server key, a bounded integer recurrence per group. ALL state is
    BIGINT seconds; the recursive-CTE oracle replays it exactly.
    Pinned (tests): W >= 0, departures are monotone per server (FIFO
    never reorders), busy periods exist on the fixture AND idle resets
    occur (both branches of the max fire), and utilization < 1 so the
    queue is stable. At 100 TB parallelism = number of servers."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderkey").cast("long").alias("orderkey"),
        F.expr("CAST(FLOOR(unix_timestamp(o_orderdate)) AS BIGINT)").alias(
            "arr_s"
        ),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").cast("long").alias("nation")
    )
    qty = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").cast("long").alias("orderkey"))
        .agg(
            (
                F.sum(F.floor(F.col("l_quantity")).cast("long")) * QL_SVC_S
            )
            .cast("long")
            .alias("svc_s")
        )
    )
    wq = W.partitionBy("nation").orderBy("arr_s", "orderkey")
    it = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(qty, "orderkey")
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= QL_REPLAY)
        .drop("rn")
    )

    def lindley(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["arr_s", "orderkey"], ignore_index=True)
        arr = pdf["arr_s"].to_numpy()
        svc = pdf["svc_s"].to_numpy()
        n = len(pdf)
        wait = [0] * n
        for i in range(1, n):
            wait[i] = max(
                0, wait[i - 1] + int(svc[i - 1]) - int(arr[i] - arr[i - 1])
            )
        pdf["wait_s"] = wait
        pdf["depart_s"] = pdf["arr_s"] + pdf["wait_s"] + pdf["svc_s"]
        return pdf[
            ["nation", "orderkey", "arr_s", "svc_s", "wait_s", "depart_s"]
        ]

    return (
        it.groupBy("nation")
        .applyInPandas(lindley, schema=QL_SCHEMA)
        .orderBy("nation", "arr_s", "orderkey")
    )
