"""Product/behavioral analytics operators (SURVEY.md §2.9 round-3
additions X52-X54, X58-X59, X67-X68, X72-X74): retention cohorts,
event-transition counts, RFM segmentation, SCD2 intervals, time-weighted
averages, daily resample + forward fill, incremental rollup merge, PSI
drift, chi-squared independence, and session paths. The
reference pipeline stops at ratings aggregation
(``reference/models/als.py`` consumes a user×item matrix); these are the
standard analytics queries a team running that pipeline asks of the same
event/order data, expressed in the shapes that survive 100 TB — keyed
aggregates, lag windows keyed per user, and quantile-broadcast bucketing
instead of global NTILE sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..data import RATINGS_SQL, load_table
from ..models.common import block_offsets, tracked_checkpoint
from ..registry import query
from .relational import ORACLE_EPOCH

EPOCH_TS = ORACLE_EPOCH.format(col="ts")

# One week in seconds: with a UTC session and naive event timestamps the
# gap between two Monday-midnight week starts is exactly k * 604800.
WEEK_S = 604800


@query(
    "retention_cohorts",
    oracle=f"""
    WITH f AS (SELECT user_id,
                      MIN(date_trunc('week', ts)) AS cohort_week
               FROM events GROUP BY user_id),
    a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week
          FROM events)
    SELECT CAST(FLOOR(epoch(f.cohort_week)) AS BIGINT) AS cohort_week,
           CAST(FLOOR((epoch(a.act_week) - epoch(f.cohort_week))
                / {WEEK_S}) AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM a JOIN f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X52: weekly retention-cohort matrix — users bucketed by first-seen
    week, counted in every later week they return. The 100 TB shape: one
    keyed agg for first-seen (per-user MIN), one keyed distinct for
    (user, active-week), then a user_id-keyed join — both aggregates and
    the join share the user_id shuffle key, so AQE coalesces them onto one
    exchange; the output is |weeks|² rows regardless of input size. No
    global window, no driver collect."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("act_week")
    ).distinct()
    return (
        active.join(first, "user_id")
        .groupBy(
            F.unix_timestamp("cohort_week").alias("cohort_week"),
            F.floor(
                (F.unix_timestamp("act_week") - F.unix_timestamp("cohort_week"))
                / WEEK_S
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "event_transition_counts",
    oracle="""
    WITH t AS (SELECT user_id, event_type,
                      LAG(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS prev_type
               FROM events)
    SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM t WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def event_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X53: first-order event-transition (Markov) counts — for each user's
    time-ordered event stream, count (previous type → current type) pairs
    corpus-wide. One user_id-keyed lag window (event_id tiebreak makes the
    order total, so the lag is deterministic), then a tiny keyed agg whose
    output is |types|² rows. The per-user window is the same shuffle shape
    as sessionize; nothing global, no Python."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n"))
    )


# RFM quintile boundaries as a broadcast scalar row, NOT a global NTILE:
# ntile(5) over all customers is a single-partition window sort — the
# classic 100 TB scale-killer. Instead: one aggregate computes the four
# quintile cut points per metric (exact interpolated percentiles, the same
# quantile_cont arithmetic DuckDB uses), the 1-row result broadcasts, and
# scoring is a narrow comparison chain. Boundaries are rounded to 6 so
# both engines compare against bit-identical cut points.
RFM_QS = (0.2, 0.4, 0.6, 0.8)


@query(
    "rfm_segmentation",
    oracle=f"""
    WITH rfm AS (
        SELECT o_custkey AS user_id,
               MAX({ORACLE_EPOCH.format(col="o_orderdate")}) AS recency,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               ROUND(SUM(o_totalprice), 6) AS monetary
        FROM orders GROUP BY o_custkey),
    q AS (SELECT
        {", ".join(f"ROUND(quantile_cont({m}, {p}), 6) AS {m[0]}{int(p * 100)}"
                   for m in ("recency", "frequency", "monetary")
                   for p in RFM_QS)}
        FROM rfm)
    SELECT user_id, recency, frequency, monetary,
           CAST(1 + (recency > r20)::INT + (recency > r40)::INT
                  + (recency > r60)::INT + (recency > r80)::INT AS BIGINT)
               AS r_score,
           CAST(1 + (frequency > f20)::INT + (frequency > f40)::INT
                  + (frequency > f60)::INT + (frequency > f80)::INT AS BIGINT)
               AS f_score,
           CAST(1 + (monetary > m20)::INT + (monetary > m40)::INT
                  + (monetary > m60)::INT + (monetary > m80)::INT AS BIGINT)
               AS m_score
    FROM rfm CROSS JOIN q
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X54: RFM (recency / frequency / monetary) customer segmentation —
    each customer scored 1-5 per metric by quintile. Implemented without
    the textbook global NTILE (a single-partition sort at scale): one
    keyed agg builds per-customer R/F/M, one scalar aggregate computes the
    12 quintile boundaries (exact interpolated percentiles — the same
    arithmetic as DuckDB's quantile_cont, rounded to 6 for bit parity),
    and a broadcast cross join + comparison chain assigns scores. Scoring
    is embarrassingly parallel; the only data-sized shuffle is the
    per-customer agg."""
    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy(F.col("o_custkey").alias("user_id")).agg(
        F.max(F.unix_timestamp("o_orderdate")).alias("recency"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 6).alias("monetary"),
    )
    cuts = rfm.agg(
        *[
            F.round(F.expr(f"percentile({m}, {p})"), 6).alias(f"{m[0]}{int(p * 100)}")
            for m in ("recency", "frequency", "monetary")
            for p in RFM_QS
        ]
    )

    def score(m: str) -> F.Column:
        c = F.lit(1)
        for p in RFM_QS:
            c = c + (F.col(m) > F.col(f"{m[0]}{int(p * 100)}")).cast("int")
        return c.cast("long").alias(f"{m[0]}_score")

    return rfm.crossJoin(F.broadcast(cuts)).select(
        "user_id",
        "recency",
        "frequency",
        "monetary",
        score("recency"),
        score("frequency"),
        score("monetary"),
    )


# SCD2 open-interval sentinel: 9999-01-01 00:00:00 UTC as epoch seconds —
# NULL-free validity intervals keep the cross-engine canonical hash simple
# (pandas turns NULL BIGINT columns into float64 with NaN).
SCD2_OPEN_END = 253402214400


@query(
    "scd2_intervals",
    oracle=f"""
    WITH o AS (SELECT user_id, event_type, {EPOCH_TS} AS t,
                      LAG(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS prev
               FROM events),
    ch AS (SELECT user_id, event_type, t FROM o
           WHERE prev IS NULL OR prev <> event_type),
    iv AS (SELECT user_id, event_type, t AS valid_from,
                  LEAD(t) OVER (PARTITION BY user_id ORDER BY t) AS nxt
           FROM ch)
    SELECT user_id, event_type AS attr, valid_from,
           COALESCE(nxt, {SCD2_OPEN_END}) AS valid_to,
           CAST(nxt IS NULL AS BIGINT) AS is_current
    FROM iv
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X58: slowly-changing-dimension type-2 build — turn a per-user
    change-event stream into validity intervals: collapse consecutive
    repeats of the same attribute value (lag), then close each version
    with the next change's timestamp (lead), open tail capped with a
    sentinel instead of NULL. This is the standard dimension-history ETL
    every warehouse needs; both windows are keyed per user (the sessionize
    shuffle shape), so at 100 TB it is one user_id exchange end-to-end —
    change-collapse, interval-close, and current-flagging all ride it."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ch = (
        ev.select(
            "user_id", "event_type", F.unix_timestamp("ts").alias("t"),
            F.lag("event_type").over(w).alias("prev"),
            F.col("ts"), F.col("event_id"),
        )
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    )
    w2 = W.partitionBy("user_id").orderBy("t")
    return ch.select(
        "user_id",
        F.col("event_type").alias("attr"),
        F.col("t").alias("valid_from"),
        F.lead("t").over(w2).alias("nxt"),
    ).select(
        "user_id",
        "attr",
        "valid_from",
        F.coalesce("nxt", F.lit(SCD2_OPEN_END)).alias("valid_to"),
        F.col("nxt").isNull().cast("long").alias("is_current"),
    )


@query(
    "time_weighted_avg",
    oracle=f"""
    WITH o AS (SELECT user_id, value, {EPOCH_TS} AS t,
                      LEAD({EPOCH_TS}) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS nxt
               FROM events)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(MAX(nxt) - MIN(t) AS BIGINT) AS span_s,
           ROUND(SUM(value * (nxt - t)) / SUM(nxt - t), 6) AS twa
    FROM o WHERE nxt IS NOT NULL AND nxt > t
    GROUP BY user_id
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X59: time-weighted average over an irregular per-user time series —
    each observation weighted by how long it remained current (interval to
    the next observation), the correct mean for unevenly sampled metrics
    (a plain AVG over-counts burst periods). One keyed lead window + one
    keyed agg, both on user_id — a single exchange end-to-end at 100 TB.
    Zero-length intervals (same-second observations) drop out, matching
    the measure-theoretic definition and keeping the quotient NULL-free."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id", "value", F.unix_timestamp("ts").alias("t"),
        F.lead(F.unix_timestamp("ts")).over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull() & (F.col("nxt") > F.col("t")))
    dt = F.col("nxt") - F.col("t")
    return o.groupBy("user_id").agg(
        F.count("*").alias("n_intervals"),
        (F.max("nxt") - F.min("t")).cast("long").alias("span_s"),
        F.round(F.sum(F.col("value") * dt) / F.sum(dt), 6).alias("twa"),
    )


@query(
    "timeseries_resample",
    oracle=f"""
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             ROUND(SUM(value), 6) AS v
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1
    ),
    cal AS (
      SELECT s.user_id, UNNEST(generate_series(s.lo, s.hi,
                                               INTERVAL 1 DAY)) AS day
      FROM span s
    )
    SELECT c.user_id,
           {ORACLE_EPOCH.format(col='c.day')} AS day_s,
           LAST_VALUE(d.v IGNORE NULLS) OVER (
             PARTITION BY c.user_id ORDER BY c.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           CAST(d.day IS NULL AS BIGINT) AS is_gap
    FROM cal c LEFT JOIN daily d
      ON c.user_id = d.user_id AND c.day = d.day
    """,
)
def timeseries_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X67: per-user daily resample with forward fill — turn an irregular
    event series into the dense, gap-flagged daily grid feature pipelines
    and sequence models consume. Shape: a keyed daily agg collapses the
    corpus to |user|×|days| rows FIRST; each user's calendar comes from an
    in-row ``sequence()`` explode off that user's own (min, max) span —
    never a global calendar cross join, so a one-day user costs one row
    and the densification is bounded by the true output size. The
    fill window rides the same user_id key as the agg and join. Daily
    sums are ROUNDED BEFORE the fill on both engines so the propagated
    value is bit-identical however each engine ordered the additions."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("v"))
    )
    # both the span branch and the calendar join consume daily; the
    # eager checkpoint (output-sized: |user|×|days| rows) keeps the
    # static plan from re-scanning the corpus per branch — same fix as
    # data_drift_psi / chi2_independence; tracked for registry-side
    # release (ADVICE r08)
    daily = tracked_checkpoint(daily)
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    cal = span.select(
        "user_id",
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day"),
    )
    joined = cal.join(daily, ["user_id", "day"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "user_id",
        F.unix_timestamp("day").alias("day_s"),
        F.last("v", ignorenulls=True).over(w).alias("value"),
        F.col("v").isNull().cast("long").alias("is_gap"),
    )


# Incremental rollup maintenance: the "stored" rollup is the partial-state
# aggregate of the closed partition (even epoch-days here — a stand-in for
# "all days before today"); the delta is the open partition's raw rows.
# Merging = union the partial states and re-reduce: SUM of SUMs, SUM of
# COUNTs, derive AVG at the end — exactly the algebraic-aggregate merge
# a Lambda/incremental-view pipeline runs, and why the stored state must
# be (sum, count), never avg.
@query(
    "rollup_incremental_merge",
    oracle="""
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(value), 6) AS sum_value,
           ROUND(SUM(value) / COUNT(*), 6) AS avg_value
    FROM events
    GROUP BY user_id, event_type
    """,
)
def rollup_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X68: incremental rollup maintenance — merge a stored partial-state
    rollup with a fresh delta and reproduce the full recompute EXACTLY
    (the oracle IS the full recompute; equality is the proof the stored
    state is mergeable). At 100 TB this is the difference between
    re-aggregating the whole history every day and touching only the new
    partition: base and delta each reduce map-side to |keys| partial rows,
    and the merge is ONE keyed agg over partials — input-size-independent
    once the base is materialized. AVG is derived sum/cnt at the very end;
    rounding happens only on emitted columns, never on merged state."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "_part", F.floor(F.unix_timestamp("ts") / 86400) % 2
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.count("*").alias("cnt"), F.sum("value").alias("s")
        )

    base = partial(ev.filter(F.col("_part") == 0))   # the stored rollup
    delta = partial(ev.filter(F.col("_part") == 1))  # today's new rows
    return (
        base.unionByName(delta)
        .groupBy("user_id", "event_type")
        .agg(F.sum("cnt").alias("cnt"), F.sum("s").alias("s"))
        .select(
            "user_id",
            "event_type",
            F.col("cnt").cast("long").alias("cnt"),
            F.round("s", 6).alias("sum_value"),
            F.round(F.col("s") / F.col("cnt"), 6).alias("avg_value"),
        )
    )


# Drift bins: exact integer arithmetic only (floor division + clip), same
# rationale as feature_binning. Laplace-smoothed shares keep ln(p/q)
# finite when a bin is empty on one side — the smoothing is part of the
# declared semantics so both engines compute identical terms.
PSI_BIN_W = 25
PSI_BIN_MAX = 15


@query(
    "data_drift_psi",
    oracle=f"""
    WITH d AS (
      SELECT LEAST(CAST(FLOOR(value / {PSI_BIN_W}) AS BIGINT),
                   {PSI_BIN_MAX}) AS bin,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day
      FROM events
    ),
    mid AS (SELECT (MIN(day) + MAX(day)) / 2 AS m FROM d),
    c AS (
      SELECT d.bin,
             CAST(SUM(CASE WHEN d.day < mid.m THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_ref,
             CAST(SUM(CASE WHEN d.day >= mid.m THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_cur
      FROM d CROSS JOIN mid GROUP BY d.bin
    ),
    t AS (SELECT CAST(SUM(n_ref) AS DOUBLE) AS t_ref,
                 CAST(SUM(n_cur) AS DOUBLE) AS t_cur,
                 CAST(COUNT(*) AS DOUBLE) AS n_bins FROM c)
    SELECT c.bin, c.n_ref, c.n_cur,
           ROUND((c.n_cur + 1) / (t.t_cur + t.n_bins)
                 - (c.n_ref + 1) / (t.t_ref + t.n_bins), 6) AS share_delta,
           ROUND(((c.n_cur + 1) / (t.t_cur + t.n_bins)
                  - (c.n_ref + 1) / (t.t_ref + t.n_bins))
                 * LN(((c.n_cur + 1) / (t.t_cur + t.n_bins))
                      / ((c.n_ref + 1) / (t.t_ref + t.n_bins))), 6)
             AS psi_term
    FROM c CROSS JOIN t
    """,
)
def data_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X72: Population Stability Index drift monitor — the standard
    production check that a feature's distribution hasn't shifted between
    a reference window (first half of the data's day span) and the
    current window (second half). ONE corpus scan, enforced: the corpus
    collapses to |bins|×|days| cells in a single keyed aggregate that is
    eagerly localCheckpoint'ed — the split boundary, the ref/cur
    conditional sums, and the bin totals are all derived from those
    cells, so no downstream branch ever re-reads the input (without the
    checkpoint Spark's static plan re-scans the corpus once per branch).
    Per-bin PSI terms emit with Laplace smoothing so empty-on-one-side
    bins stay finite; the fleet-level alarm is SUM(psi_term) > 0.2,
    computable from this output by one more keyed agg at any scale."""
    cells = (
        load_table(spark, sf_dir, "events")
        .select(
            F.least(
                F.floor(F.col("value") / PSI_BIN_W).cast("long"),
                F.lit(PSI_BIN_MAX),
            ).alias("bin"),
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
        )
        .groupBy("bin", "day")
        .agg(F.count("*").alias("n"))
    )
    cells = tracked_checkpoint(cells)
    mid = cells.agg(((F.min("day") + F.max("day")) / 2).alias("m"))
    c = (
        cells.crossJoin(F.broadcast(mid))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("day") < F.col("m"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_ref"),
            F.sum(F.when(F.col("day") >= F.col("m"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_cur"),
        )
    )
    t = c.agg(
        F.sum("n_ref").cast("double").alias("t_ref"),
        F.sum("n_cur").cast("double").alias("t_cur"),
        F.count("*").cast("double").alias("n_bins"),
    )
    p_cur = (F.col("n_cur") + 1) / (F.col("t_cur") + F.col("n_bins"))
    p_ref = (F.col("n_ref") + 1) / (F.col("t_ref") + F.col("n_bins"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            F.round(p_cur - p_ref, 6).alias("share_delta"),
            F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
        )
    )


@query(
    "chi2_independence",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) % 7 AS dow
      FROM events
    ),
    o AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS obs
          FROM d GROUP BY event_type, dow),
    rm AS (SELECT event_type, CAST(SUM(obs) AS DOUBLE) AS row_n
           FROM o GROUP BY event_type),
    cm AS (SELECT dow, CAST(SUM(obs) AS DOUBLE) AS col_n FROM o GROUP BY dow),
    t AS (SELECT CAST(SUM(obs) AS DOUBLE) AS n FROM o)
    SELECT o.event_type, o.dow, o.obs,
           ROUND(rm.row_n * cm.col_n / t.n, 6) AS expected,
           ROUND(POW(o.obs - rm.row_n * cm.col_n / t.n, 2)
                 / (rm.row_n * cm.col_n / t.n), 6) AS chi2_term
    FROM o JOIN rm ON o.event_type = rm.event_type
           JOIN cm ON o.dow = cm.dow
           CROSS JOIN t
    """,
)
def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X73: χ² independence test between two categorical columns (event
    type × arithmetic day-of-week) — the feature-screening statistic for
    categorical/categorical dependence (the categorical twin of
    corr_matrix). ONE keyed contingency agg collapses the corpus to
    |types|×7 cells, eagerly localCheckpoint'ed so the four downstream
    branches (row marginal, column marginal, total, final join) all read
    the cells, never the corpus — without the checkpoint Spark's static
    plan re-scans the input once per branch. Marginals broadcast back
    onto the cells with the 1-row total.
    Day-of-week is epoch-day mod 7, pure integer arithmetic —
    engine weekday functions disagree on week origin. Emits per-cell
    expected counts and χ² contributions over observed cells; the test
    statistic is their sum."""
    d = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 7).alias("dow"),
    )
    o = tracked_checkpoint(
        d.groupBy("event_type", "dow").agg(F.count("*").alias("obs"))
    )
    rm = o.groupBy("event_type").agg(F.sum("obs").cast("double").alias("row_n"))
    cm = o.groupBy("dow").agg(F.sum("obs").cast("double").alias("col_n"))
    t = o.agg(F.sum("obs").cast("double").alias("n"))
    e = F.col("row_n") * F.col("col_n") / F.col("n")
    return (
        o.join(F.broadcast(rm), "event_type")
        .join(F.broadcast(cm), "dow")
        .crossJoin(F.broadcast(t))
        .select(
            "event_type",
            "dow",
            "obs",
            F.round(e, 6).alias("expected"),
            F.round(F.pow(F.col("obs") - e, 2) / e, 6).alias("chi2_term"),
        )
    )


SESSION_PATH_LEN = 3
SESSION_PATH_TOP = 20


@query(
    "session_path_topk",
    oracle=f"""
    WITH e AS (
      SELECT user_id,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
             event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)
               ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id, day,
             STRING_AGG(event_type, '>' ORDER BY rn) AS path
      FROM e WHERE rn <= {SESSION_PATH_LEN}
      GROUP BY user_id, day
    ),
    c AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
          FROM paths GROUP BY path)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS BIGINT)
             AS rank,
           path, n_sessions
    FROM c
    QUALIFY rank <= {SESSION_PATH_TOP}
    """,
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X74: top session entry paths — the first {SESSION_PATH_LEN} event
    types of each (user, day) session joined into a path string, counted
    corpus-wide, top-{SESSION_PATH_TOP} emitted. The path build is ONE
    session-keyed agg: events collect as (ts, event_id, type) structs,
    ``array_sort`` orders them IN-ROW (collect_list order is
    partition-nondeterministic — the struct sort with the event_id
    tiebreak restores a total order without a window), ``slice`` keeps
    the prefix. Path counting is a second keyed agg whose output is
    |distinct paths|; the global top-k is orderBy+limit, which Spark
    plans as TakeOrderedAndProject (per-partition top-k + k-row merge),
    never a single-partition sort. The rank window then runs on
    ≤ {SESSION_PATH_TOP} rows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    paths = (
        ev.select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
            F.struct("ts", "event_id", "event_type").alias("s"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.array_join(
                F.transform(
                    F.slice(F.array_sort(F.collect_list("s")), 1, SESSION_PATH_LEN),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    c = paths.groupBy("path").agg(F.count("*").alias("n_sessions"))
    top = c.orderBy(F.col("n_sessions").desc(), "path").limit(SESSION_PATH_TOP)
    # pmod-constant partition: ≤ SESSION_PATH_TOP rows in one explicit
    # group — avoids the unpartitioned-WindowExec warning (see sort_by_time)
    w = Window.partitionBy(F.pmod(F.col("n_sessions"), F.lit(1))).orderBy(
        F.col("n_sessions").desc(), "path"
    )
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"), "path", "n_sessions"
    )


@query(
    "join_point_in_interval",
    oracle=f"""
    WITH o AS (SELECT user_id, event_type, {EPOCH_TS} AS t,
                      LAG(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS prev
               FROM events),
    ch AS (SELECT user_id, event_type, t FROM o
           WHERE prev IS NULL OR prev <> event_type),
    iv AS (SELECT user_id, event_type AS attr, t AS valid_from,
                  COALESCE(LEAD(t) OVER (PARTITION BY user_id ORDER BY t),
                           {SCD2_OPEN_END}) AS valid_to
           FROM ch)
    SELECT iv.user_id, iv.attr, iv.valid_from,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 6) AS sum_value
    FROM iv JOIN (SELECT user_id, {EPOCH_TS} AS t, value FROM events) e
      ON e.user_id = iv.user_id
     AND e.t >= iv.valid_from AND e.t < iv.valid_to
    GROUP BY iv.user_id, iv.attr, iv.valid_from
    """,
)
def join_point_in_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X82: point-in-interval (temporal dimension) join — enrich each fact
    event with the SCD2 dimension version valid AT its timestamp, then
    aggregate per version. The third member of the temporal-join family:
    join_asof takes the latest-before row, join_range_band a fixed-width
    band, this one an arbitrary validity interval. Plan shape: the join
    is EQUI on user_id with the interval bounds as a residual range
    filter — one keyed shuffle, per-user interval lists are small (the
    SCD2 change count), so the within-key comparison is bounded; never a
    cross join against the interval table. Intervals come from the same
    collapse/close construction scd2_intervals pins (half-open
    [from, to) — every event lands in exactly one version)."""
    iv = scd2_intervals(spark, sf_dir).select(
        "user_id", "attr", "valid_from", "valid_to"
    )
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("t"), "value"
    )
    return (
        e.join(iv, "user_id")
        .filter((F.col("t") >= F.col("valid_from")) & (F.col("t") < F.col("valid_to")))
        .groupBy("user_id", "attr", "valid_from")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


@query(
    "grouped_median_mad",
    oracle="""
    WITH med AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(quantile_cont(value, 0.5), 6) AS median
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, med.n, med.median,
           ROUND(quantile_cont(ABS(e.value - med.median), 0.5), 6) AS mad
    FROM events e JOIN med ON e.event_type = med.event_type
    GROUP BY e.event_type, med.n, med.median
    """,
)
def grouped_median_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X84: per-group robust location/scale — exact median and MAD
    (median absolute deviation), the outlier-immune counterparts of
    mean/std that anomaly_zscore and feature_winsorize lean on. Two keyed
    aggregates over two scans: medians first (a |types|-row table,
    broadcast back), then deviations' median — MAD is a nested quantile
    and cannot fuse into one pass. The median is ROUNDED before the
    deviation pass so both engines take |x − med| against bit-identical
    centers (same discipline as the winsorize cut points). At unbounded
    group cardinality swap percentile → approx_percentile per the
    corpus_quality_filter twin note in SCALE.md."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("median"),
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "n", "median")
        .agg(
            F.round(
                F.expr("percentile(abs(value - median), 0.5)"), 6
            ).alias("mad")
        )
        .select("event_type", "n", "median", "mad")
    )


# Each event opens a fixed attention window; the union length is the
# user's truly-covered time (overlaps counted once) — the denominator
# engagement metrics need. 300 s = the sessionize gap's "active" scale.
INTERVAL_LEN_S = 300


@query(
    "interval_union_length",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, {EPOCH_TS} AS s, {EPOCH_TS} + {INTERVAL_LEN_S} AS e,
             event_id
      FROM events
    ),
    w AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max_e
      FROM iv
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(GREATEST(0, e - GREATEST(s, COALESCE(prev_max_e, s))))
                AS BIGINT) AS covered_s
    FROM w GROUP BY user_id
    """,
)
def interval_union_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X85: interval-union coverage — total time each user was "active"
    with overlapping per-event windows counted ONCE (the sweep-line
    union-of-intervals, as a window function). Per user: sort intervals
    by start, carry the running max end over PRECEDING rows, and each
    interval contributes max(0, end − max(start, prev_max_end)) — new
    coverage only. ONE user-keyed window + ONE keyed agg riding the same
    exchange; pure integer epoch arithmetic end-to-end so the hash
    comparison has no float surface at all."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts") + INTERVAL_LEN_S).alias("e"),
        "event_id",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    iv = ev.withColumn("prev_max_e", F.max("e").over(w))
    contrib = F.greatest(
        F.lit(0),
        F.col("e") - F.greatest(F.col("s"), F.coalesce("prev_max_e", F.col("s"))),
    )
    return iv.groupBy("user_id").agg(
        F.count("*").alias("n_intervals"),
        F.sum(contrib).cast("long").alias("covered_s"),
    )


# --- Kaplan-Meier retention curve (X103) ----------------------------------

KM_UNIT_S = 86400  # lifetimes measured in whole days
KM_CENSOR_WINDOW_S = 86400  # last-seen inside the final day => censored


@query(
    "kaplan_meier_retention",
    oracle=f"""
    WITH u AS (SELECT user_id,
                      MIN({EPOCH_TS}) AS first_s,
                      MAX({EPOCH_TS}) AS last_s
               FROM events GROUP BY user_id),
    m AS (SELECT MAX(last_s) AS max_s FROM u),
    d AS (SELECT CAST(FLOOR((last_s - first_s) / {KM_UNIT_S}) AS BIGINT) AS t_day,
                 (last_s >= m.max_s - {KM_CENSOR_WINDOW_S})::INT AS censored
          FROM u CROSS JOIN m),
    g AS (SELECT t_day,
                 CAST(SUM(1 - censored) AS BIGINT) AS d_events,
                 CAST(SUM(censored) AS BIGINT) AS c_censored
          FROM d GROUP BY t_day),
    c AS (SELECT t_day, d_events, c_censored,
                 (SELECT SUM(d_events + c_censored) FROM g)
                 - COALESCE(SUM(d_events + c_censored) OVER (ORDER BY t_day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS n_at_risk
          FROM g)
    SELECT t_day,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           d_events, c_censored,
           ROUND(EXP(SUM(CASE WHEN d_events = n_at_risk THEN -1e30
                              ELSE LN(1 - CAST(d_events AS DOUBLE) / n_at_risk)
                         END) OVER (ORDER BY t_day
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW)), 6) AS survival
    FROM c
    WHERE d_events > 0
    """,
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X103: Kaplan-Meier survival curve over user lifetimes — lifetime =
    whole DAYS between a user's first and last event; users last seen
    inside the final day of the dataset are right-censored (still alive
    when observation ended), everyone else "churned" at their last day.
    S(t) = prod_{{s<=t}} (1 - d_s/n_s) with the deaths-before-censoring
    risk-set convention. Scale shape: one user-keyed agg to (first,
    last), one keyed agg to the |days|-bounded lifetime table, then
    every window is pmod-partitioned over that bounded table; the only
    broadcast is the 1-row observation-end scalar. The d == n final day
    maps to a -1e30 log-term so both engines underflow survival to
    exactly 0.0 instead of diverging on ln(0)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.unix_timestamp("ts")).alias("first_s"),
        F.max(F.unix_timestamp("ts")).alias("last_s"),
    )
    m = u.agg(F.max("last_s").alias("max_s"))
    d = u.crossJoin(F.broadcast(m)).select(
        F.floor((F.col("last_s") - F.col("first_s")) / KM_UNIT_S)
        .cast("long")
        .alias("t_day"),
        (F.col("last_s") >= F.col("max_s") - KM_CENSOR_WINDOW_S)
        .cast("int")
        .alias("censored"),
    )
    g = d.groupBy("t_day").agg(
        F.sum(1 - F.col("censored")).alias("d_events"),
        F.sum("censored").alias("c_censored"),
    )
    one = F.pmod(F.col("t_day"), F.lit(1))
    w_all = W.partitionBy(one)
    w_prev = (
        W.partitionBy(one).orderBy("t_day").rowsBetween(W.unboundedPreceding, -1)
    )
    w_cum = (
        W.partitionBy(one).orderBy("t_day").rowsBetween(W.unboundedPreceding, 0)
    )
    tot = F.col("d_events") + F.col("c_censored")
    c = g.withColumn(
        "n_at_risk",
        F.sum(tot).over(w_all) - F.coalesce(F.sum(tot).over(w_prev), F.lit(0)),
    )
    term = F.when(F.col("d_events") == F.col("n_at_risk"), F.lit(-1e30)).otherwise(
        F.log(1 - F.col("d_events").cast("double") / F.col("n_at_risk"))
    )
    return (
        c.withColumn("survival", F.round(F.exp(F.sum(term).over(w_cum)), 6))
        .filter(F.col("d_events") > 0)
        .select("t_day", "n_at_risk", "d_events", "c_censored", "survival")
    )


# --- Gini popularity concentration (X104) ---------------------------------


@query(
    "gini_popularity",
    oracle=f"""
    WITH r AS MATERIALIZED ({RATINGS_SQL}),
    cnts AS (SELECT item_id, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM r GROUP BY item_id),
    g AS (SELECT cnt, CAST(COUNT(*) AS BIGINT) AS n_v
          FROM cnts GROUP BY cnt),
    c AS (SELECT cnt, n_v,
                 COALESCE(SUM(n_v) OVER (ORDER BY cnt
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS below
          FROM g)
    SELECT CAST(SUM(n_v) AS BIGINT) AS n_items,
           CAST(SUM(cnt * n_v) AS BIGINT) AS total_interactions,
           ROUND(2.0 * SUM(cnt * (n_v * below + n_v * (n_v + 1) / 2.0))
                 / (SUM(n_v) * SUM(cnt * n_v))
                 - (SUM(n_v) + 1.0) / SUM(n_v), 6) AS gini
    FROM c
    """,
)
def gini_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X104: Gini coefficient of item-popularity concentration — the
    long-tail inequality statistic a recommender team tracks to see how
    much exposure the catalog head absorbs (0 = uniform, ->1 = all
    interactions on one item). Exact, but WITHOUT sorting items: ties at
    popularity v occupy a contiguous rank block, so sum_i i*x_i collapses
    onto the per-distinct-count table (v, n_v) - rank-block sum =
    v*(n_v*below + n_v(n_v+1)/2). One item-keyed agg, one agg to the
    bounded distinct-count table, a pmod-partitioned cumsum, a 1-row
    reduce. No global sort of the catalog at any point."""
    from ..data import ratings_cached

    r = ratings_cached(spark, sf_dir)
    cnts = r.groupBy("item_id").agg(F.count("*").alias("cnt"))
    g = cnts.groupBy("cnt").agg(F.count("*").alias("n_v"))
    w_prev = (
        W.partitionBy(F.pmod(F.col("cnt"), F.lit(1)))
        .orderBy("cnt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    c = g.withColumn("below", F.coalesce(F.sum("n_v").over(w_prev), F.lit(0)))
    n = F.sum("n_v")
    s = F.sum(F.col("cnt") * F.col("n_v"))
    rank_weighted = F.sum(
        F.col("cnt")
        * (F.col("n_v") * F.col("below") + F.col("n_v") * (F.col("n_v") + 1) / 2.0)
    )
    return c.agg(
        n.alias("n_items"),
        s.alias("total_interactions"),
        F.round(2.0 * rank_weighted / (n * s) - (n + 1.0) / n, 6).alias("gini"),
    )


# --- day-of-week seasonality profile (X115) -------------------------------

# Portable day-of-week: epoch day 0 (1970-01-01) was a Thursday, so
# (epoch_day + 4) % 7 gives 0=Sunday..6=Saturday identically in both
# engines — no reliance on either engine's dow() convention (Spark
# dayofweek is 1-based Sunday, DuckDB dayofweek is 0-based Sunday,
# isodow is Monday-based: three conventions, one arithmetic).
DOW_SQL = f"CAST((FLOOR({{c}} / 86400) + 4) % 7 AS BIGINT)"


@query(
    "seasonal_dow_profile",
    oracle=f"""
    WITH d AS (SELECT {DOW_SQL.format(c=EPOCH_TS)} AS dow, value FROM events),
    mu AS (SELECT AVG(value) AS mu FROM d)
    SELECT dow,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(value), 6) AS avg_value,
           ROUND(AVG(value) / ANY_VALUE(mu.mu), 6) AS seasonal_index
    FROM d CROSS JOIN mu
    GROUP BY dow
    """,
)
def seasonal_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X115: day-of-week seasonality profile — per-weekday event volume,
    mean value, and multiplicative seasonal index (weekday mean / global
    mean), the first seasonal-decomposition step before any forecasting
    of the event stream. Weekday comes from pure epoch arithmetic
    ((epoch_day + 4) % 7), sidestepping the three incompatible dow()
    conventions across engines. One keyed agg to 7 rows + a 1-row
    global-mean broadcast — nothing here changes at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        ((F.floor(F.unix_timestamp("ts") / 86400) + 4) % 7)
        .cast("long")
        .alias("dow"),
        "value",
    )
    mu = d.agg(F.avg("value").alias("mu"))
    return (
        d.crossJoin(F.broadcast(mu))
        .groupBy("dow")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.avg("value") / F.any_value("mu"), 6).alias(
                "seasonal_index"
            ),
        )
    )


# --- cohort lifetime value (X116) -----------------------------------------


@query(
    "cohort_ltv",
    oracle=f"""
    WITH f AS (SELECT o_custkey,
                      MIN(date_trunc('week', o_orderdate)) AS cw
               FROM orders GROUP BY o_custkey),
    sz AS (SELECT cw, CAST(COUNT(*) AS BIGINT) AS cohort_users
           FROM f GROUP BY cw),
    rev AS (SELECT f.cw,
                   CAST(FLOOR((epoch(date_trunc('week', o.o_orderdate))
                        - epoch(f.cw)) / {WEEK_S}) AS BIGINT) AS week_offset,
                   SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                       AS rev_cents
            FROM orders o JOIN f ON o.o_custkey = f.o_custkey
            GROUP BY 1, 2)
    SELECT CAST(FLOOR(epoch(rev.cw)) AS BIGINT) AS cohort_week,
           rev.week_offset,
           sz.cohort_users,
           ROUND(rev.rev_cents / 100.0, 6) AS revenue,
           CAST(FLOOR(SUM(rev.rev_cents) OVER (PARTITION BY rev.cw
                     ORDER BY rev.week_offset) / sz.cohort_users) AS BIGINT)
               AS cum_ltv_cents_per_user
    FROM rev JOIN sz ON rev.cw = sz.cw
    """,
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X116: cohort lifetime-value matrix — customers cohorted by
    first-order week, revenue per (cohort, week offset), and the running
    LTV per user (whole cents, floored — an all-integer statistic so the
    windowed cumulation is bit-identical across engines) each cohort has
    accumulated by that offset; the revenue
    twin of retention_cohorts (X52: does the cohort come back; this:
    what is it worth). Two o_custkey-keyed aggs sharing one exchange, a
    cohort-keyed join, and the cumulative sum runs PARTITIONED BY cohort
    over the |offsets|-bounded per-cohort series — output is
    |cohorts| x |offsets| rows regardless of order volume."""
    o = load_table(spark, sf_dir, "orders")
    f = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("week", "o_orderdate")).alias("cw")
    )
    sz = f.groupBy("cw").agg(F.count("*").alias("cohort_users"))
    rev = (
        o.join(f, "o_custkey")
        .groupBy(
            "cw",
            F.floor(
                (
                    F.unix_timestamp(F.date_trunc("week", "o_orderdate"))
                    - F.unix_timestamp("cw")
                )
                / WEEK_S
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "rev_cents"
            )
        )
    )
    w_cum = (
        W.partitionBy("cw")
        .orderBy("week_offset")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    # all-integer cumulation: prices are 2-decimal, so cents are exact
    # BIGINTs and the running sum is bit-identical in both engines no
    # matter how each one associates its windowed summation (DuckDB uses
    # a segment tree, Spark a running frame — float order would differ)
    return (
        rev.join(sz, "cw")
        .select(
            F.unix_timestamp("cw").alias("cohort_week"),
            "week_offset",
            "cohort_users",
            F.round(F.col("rev_cents") / 100.0, 6).alias("revenue"),
            F.floor(
                F.sum("rev_cents").over(w_cum) / F.col("cohort_users")
            ).cast("long").alias("cum_ltv_cents_per_user"),
        )
    )


# --- price elasticity by brand (X117) -------------------------------------


@query(
    "price_elasticity",
    oracle="""
    WITH d AS (SELECT p.p_brand,
                      LN(l.l_quantity) AS lq,
                      LN(l.l_extendedprice / l.l_quantity) AS lp
               FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(REGR_SLOPE(lq, lp), 6) AS elasticity,
           ROUND(REGR_R2(lq, lp), 6) AS r2
    FROM d GROUP BY p_brand
    """,
)
def price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X117: log-log price elasticity of demand per brand — slope of
    ln(quantity) on ln(unit price) within each brand (unit price =
    extendedprice / quantity, the TPC-H convention); the standard demand
    model a pricing team fits on the same order lines the recommender
    trains on. One p_partkey-keyed dim join (broadcastable dim, AQE
    decides) + ONE brand-keyed regression aggregate — REGR_* are
    map-side-combinable moments, so the shuffle carries five numbers per
    brand at any scale."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    d = l.join(p, l.l_partkey == p.p_partkey).select(
        "p_brand",
        F.log(F.col("l_quantity")).alias("lq"),
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("lp"),
    )
    return d.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.round(F.regr_slope("lq", "lp"), 6).alias("elasticity"),
        F.round(F.regr_r2("lq", "lp"), 6).alias("r2"),
    )


# Time-decay half-life in days, and the bucket cap. weight = 0.5^k with
# k = min(floor(age_days/7), 20) is a DYADIC rational: every per-row
# weight is exactly representable, counts are integers, and with k <= 20
# a per-item sum spans at most 37 significand bits — so the SUM is EXACT
# in IEEE double regardless of partitioning/summation order, and the
# cross-engine hash compare needs no tolerance. (An exp(-lambda*age) form
# would differ in the last ulp between libm implementations.)
DECAY_HALFLIFE_D = 7
DECAY_K_CAP = 20


@query(
    "time_decayed_popularity",
    oracle=f"""
    WITH r AS ({{ratings}}),
    m AS (SELECT MAX(ts) AS tmax FROM r)
    SELECT item_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(POWER(0.5, LEAST(CAST(FLOOR(
               date_diff('day', ts, tmax) / {DECAY_HALFLIFE_D}) AS BIGINT),
               {DECAY_K_CAP}))), 6) AS decayed_score,
           CAST(MIN(LEAST(CAST(FLOOR(
               date_diff('day', ts, tmax) / {DECAY_HALFLIFE_D}) AS BIGINT),
               {DECAY_K_CAP})) AS BIGINT) AS freshest_bucket
    FROM r CROSS JOIN m GROUP BY item_id
    """.format(ratings=RATINGS_SQL),
)
def time_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed item popularity — the recency-aware popularity
    baseline every recommender ships next to its factor model: each
    interaction contributes 0.5^(age_weeks) so last week's click outranks
    last year's. One 1-row MAX(ts) broadcast anchors age, then ONE
    item-keyed aggregate — narrow weight arithmetic, map-side partials,
    no window. Weights are dyadic (0.5^k, k capped) so per-item sums are
    EXACT doubles, order-independent across any partitioning — the same
    libm-free discipline as `feature_binning`. At 100 TB the decayed
    score is incrementally maintainable: yesterday's scores halve every
    half-life and today's delta adds — see `rollup_incremental_merge` for
    the merge pattern."""
    from ..data import ratings_cached

    r = ratings_cached(spark, sf_dir)
    tmax = r.agg(F.max("ts").alias("tmax"))
    k = F.least(
        F.floor(F.datediff("tmax", "ts") / DECAY_HALFLIFE_D), F.lit(DECAY_K_CAP)
    ).cast("long")
    aged = r.crossJoin(F.broadcast(tmax)).withColumn("k", k)
    return aged.groupBy("item_id").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.pow(F.lit(0.5), F.col("k"))), 6).alias("decayed_score"),
        F.min("k").alias("freshest_bucket"),
    )


@query(
    "funnel_time_to_convert",
    oracle=f"""
    WITH v AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view'
                   THEN {EPOCH_TS} END) AS t_view
        FROM events GROUP BY user_id),
    p AS (
        SELECT e.user_id, MIN({EPOCH_TS}) AS t_conv
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND {EPOCH_TS} > v.t_view
        GROUP BY e.user_id),
    d AS (
        SELECT v.user_id, p.t_conv - v.t_view AS delta_s
        FROM v LEFT JOIN p ON v.user_id = p.user_id
        WHERE v.t_view IS NOT NULL)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_viewed,
           CAST(COUNT(delta_s) AS BIGINT) AS n_converted,
           ROUND(AVG(delta_s), 6) AS avg_s,
           ROUND(quantile_cont(delta_s, 0.5), 6) AS p50_s,
           ROUND(quantile_cont(delta_s, 0.9), 6) AS p90_s
    FROM d
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution — the latency readout next to
    `funnel_conversion`'s rate readout: for every user whose first 'view'
    is later followed by a 'purchase', the seconds between them,
    summarized as avg/p50/p90. Two user-keyed aggregates and one
    user-keyed join, all riding the SAME user_id key (one logical
    shuffle family, AQE coalesces); the final 5-number summary is a
    scalar gather of one row. Deltas are integer epoch seconds — the
    only floats are the interpolated percentiles, rounded."""
    ev = load_table(spark, sf_dir, "events")
    es = ev.select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("t")
    )
    v = es.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("t"))).alias("t_view")
    ).filter(F.col("t_view").isNotNull())
    p = (
        es.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("t") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_conv"))
    )
    d = v.join(p, "user_id", "left").withColumn(
        "delta_s", F.col("t_conv") - F.col("t_view")
    )
    return d.agg(
        F.count("*").alias("n_viewed"),
        F.count("delta_s").alias("n_converted"),
        F.round(F.avg("delta_s"), 6).alias("avg_s"),
        F.round(F.expr("percentile(delta_s, 0.5)"), 6).alias("p50_s"),
        F.round(F.expr("percentile(delta_s, 0.9)"), 6).alias("p90_s"),
    )


@query(
    "event_rate_cusum",
    oracle=f"""
    WITH d AS (
        SELECT event_type,
               CAST(FLOOR({EPOCH_TS} / 86400) AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
    m AS (
        SELECT event_type, AVG(cnt) AS mean_cnt,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM d GROUP BY 1),
    c AS (
        SELECT d.event_type, day, n_days,
               SUM(cnt - mean_cnt) OVER (
                   PARTITION BY d.event_type ORDER BY day) AS cusum
        FROM d JOIN m USING (event_type)),
    r AS (
        SELECT event_type, day, n_days, cusum,
               ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY ABS(cusum) DESC, day) AS rn
        FROM c)
    SELECT event_type, n_days,
           ROUND(ABS(cusum), 6) AS peak_cusum,
           day AS changepoint_day
    FROM r WHERE rn = 1
    """,
)
def event_rate_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan per event_type: cumulative sum of
    (daily count - overall mean rate), whose peak magnitude locates the
    most likely rate-shift day — the monitoring primitive behind
    'did this event's volume change, and when'. Corpus collapses to
    |types|x|days| rows in ONE keyed agg; the mean joins back via a
    |types|-row broadcast; the running sum and the argmax ranking ride
    one event_type exchange. The cusum is an ORDERED sequential sum, so
    both engines execute bit-identical double additions — no
    summation-order tolerance needed."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    ).agg(F.count("*").alias("cnt"))
    m = d.groupBy("event_type").agg(
        F.avg("cnt").alias("mean_cnt"), F.count("*").alias("n_days")
    )
    wd = W.partitionBy("event_type").orderBy("day")
    c = (
        d.join(F.broadcast(m), "event_type")
        .withColumn(
            "cusum",
            F.sum(F.col("cnt") - F.col("mean_cnt")).over(
                wd.rowsBetween(W.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("event_type").orderBy(
                    F.abs(F.col("cusum")).desc(), "day"
                )
            ),
        )
    )
    return c.filter(F.col("rn") == 1).select(
        "event_type",
        "n_days",
        F.round(F.abs("cusum"), 6).alias("peak_cusum"),
        F.col("day").alias("changepoint_day"),
    )


# Materialized-path tree over customers: parent(u) = floor(u/10), root 0,
# depth capped at HIER_DEPTH levels — every ancestor of u is a decimal
# prefix, so subtree rollup needs NO iteration: explode each user into its
# ancestor list IN-ROW and aggregate once on the ancestor key.
HIER_DEPTH = 8


@query(
    "hierarchy_rollup",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey AS u,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS sp_cents
        FROM orders GROUP BY 1),
    a AS (
        SELECT u, sp_cents,
               CAST(FLOOR(u / POWER(10, k)) AS BIGINT) AS node,
               CASE WHEN k = 0 THEN 1
                    WHEN CAST(FLOOR(u / POWER(10, k - 1)) AS BIGINT) > 0
                    THEN 1 ELSE 0 END AS keep
        FROM spend CROSS JOIN (SELECT UNNEST(range(0, {HIER_DEPTH})) AS k))
    SELECT node,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(sp_cents) AS BIGINT) AS subtree_spend_cents
    FROM a WHERE keep = 1 GROUP BY node
    """,
)
def hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy (BOM / org-chart) subtree rollup WITHOUT iteration: the
    tree is materialized-path encoded (ancestors of u are its decimal
    prefixes floor(u/10^k)), so each leaf explodes IN-ROW into its <=
    HIER_DEPTH ancestors and ONE ancestor-keyed aggregate yields every
    node's subtree total — versus the naive level-by-level loop of D
    join+agg rounds (compare `pagerank_items`, where iteration is
    genuinely required because edges aren't prefix-encoded). At 100 TB
    the explode is a bounded x8 row amplification on an already
    user-collapsed input, and the rollup is a single keyed shuffle.

    Money is summed as integer CENTS (round(x*100) per row, BIGINT sums)
    so subtree totals are exact and independent of partitioning /
    summation order — a rollup over doubles hash-diverged at 6 decimals
    on this very fixture."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("u")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "sp_cents"
        )
    )
    anc = spend.select(
        "u",
        "sp_cents",
        F.explode(
            F.expr(
                f"""filter(
                    transform(sequence(0, {HIER_DEPTH - 1}), k -> struct(
                        CAST(FLOOR(u / POWER(10, k)) AS BIGINT) AS node,
                        CASE WHEN k = 0
                             OR CAST(FLOOR(u / POWER(10, k - 1)) AS BIGINT) > 0
                             THEN 1 ELSE 0 END AS keep)),
                    s -> s.keep = 1)"""
            )
        ).alias("s"),
    )
    return anc.groupBy(F.col("s.node").alias("node")).agg(
        F.count("*").alias("n_members"),
        F.sum("sp_cents").alias("subtree_spend_cents"),
    )


MODE_BIN_W = 25


@query(
    "grouped_mode",
    oracle=f"""
    WITH b AS (
        SELECT event_type,
               CAST(FLOOR(value / {MODE_BIN_W}) AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type)
                    AS BIGINT) AS total
        FROM events GROUP BY 1, 2),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY cnt DESC, bucket) AS rn
        FROM b)
    SELECT event_type, bucket AS mode_bucket, cnt AS mode_count,
           ROUND(CAST(cnt AS DOUBLE) / total, 6) AS mode_share
    FROM r WHERE rn = 1
    """,
)
def grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group statistical mode with a DETERMINISTIC tiebreak (highest
    count, then smallest bucket) — built-in `mode()` leaves ties
    engine-/partitioning-defined, which is exactly what a reproducible
    pipeline cannot ship. Two keyed hash aggregates collapse the corpus
    to |types|x|buckets| rows; the marginal and the argmax ranking ride
    the same event_type exchange. Integer bucket keys and counts — the
    only float is the final share division."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(
        "event_type",
        F.floor(F.col("value") / MODE_BIN_W).cast("long").alias("bucket"),
    ).agg(F.count("*").alias("cnt"))
    wt = W.partitionBy("event_type")
    r = b.withColumn("total", F.sum("cnt").over(wt)).withColumn(
        "rn",
        F.row_number().over(wt.orderBy(F.col("cnt").desc(), "bucket")),
    )
    return r.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("bucket").alias("mode_bucket"),
        F.col("cnt").alias("mode_count"),
        F.round(F.col("cnt").cast("double") / F.col("total"), 6).alias(
            "mode_share"
        ),
    )


@query(
    "benford_deviation",
    oracle="""
    WITH c AS (
        SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                    AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders),
    o AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total
          FROM c GROUP BY digit)
    SELECT digit, n,
           ROUND(CAST(n AS DOUBLE) / total, 6) AS obs_share,
           ROUND(LOG10(1 + 1.0 / digit), 6) AS benford_share,
           ROUND(ABS(CAST(n AS DOUBLE) / total - LOG10(1 + 1.0 / digit)),
                 6) AS abs_dev
    FROM o
    """,
)
def benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over order amounts — the
    classic anomaly/fraud sniff test: natural multi-scale amounts follow
    P(d) = log10(1 + 1/d); synthetic or capped data deviates. The first
    digit is taken from the INTEGER cents string (double formatting
    differs between engines; integer-to-string does not). One narrow map
    + one 9-key aggregate; the marginal is a 1-row broadcast (an
    unpartitioned window — even over 9 rows — would log the
    single-partition warning this engine bans). At 100 TB this is a
    scan-speed profile with a 9-row result."""
    o = load_table(spark, sf_dir, "orders")
    digits = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    agged = digits.groupBy("digit").agg(F.count("*").alias("n"))
    tot = agged.crossJoin(F.broadcast(agged.agg(F.sum("n").alias("total"))))
    share = F.col("n").cast("double") / F.col("total")
    benford = F.log10(1 + 1.0 / F.col("digit"))
    return tot.select(
        "digit",
        "n",
        F.round(share, 6).alias("obs_share"),
        F.round(benford, 6).alias("benford_share"),
        F.round(F.abs(share - benford), 6).alias("abs_dev"),
    )


MI_BIN_W = 50


@query(
    "mutual_information_screen",
    oracle=f"""
    WITH j AS (
        SELECT event_type AS x,
               CAST(FLOOR(value / {MI_BIN_W}) AS BIGINT) AS y,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
    t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM j),
    m AS (
        SELECT x, y, c,
               CAST(SUM(c) OVER (PARTITION BY x) AS BIGINT) AS cx,
               CAST(SUM(c) OVER (PARTITION BY y) AS BIGINT) AS cy,
               CAST(MIN(y) OVER (PARTITION BY x) AS BIGINT) AS ymin
        FROM j)
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(SUM((CAST(c AS DOUBLE) / n) *
                 LN((CAST(c AS DOUBLE) * n) / (CAST(cx AS DOUBLE) * cy))),
                 6) AS mi_nats,
           ROUND(-SUM(CASE WHEN y = ymin THEN (CAST(cx AS DOUBLE) / n) *
                 LN(CAST(cx AS DOUBLE) / n) ELSE 0 END), 6) AS h_x_nats
    FROM m CROSS JOIN t
    GROUP BY n
    """,
)
def mutual_information_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(X;Y) between a categorical feature and a
    binned measure — the model-free feature-relevance screen (near-zero
    MI → the feature can't predict the target, whatever the model). The
    corpus collapses to the |X|x|Y| joint-count table in ONE keyed agg;
    marginals are window sums over that tiny table and the MI reduction
    is a scalar gather — the same moments-only shape as `corr_matrix`,
    but detecting NONLINEAR dependence Pearson misses. H(X) ships
    alongside so the caller can normalize. (The y=min-y-of-x guard on
    the H(X) term just picks each x's marginal exactly once.)"""
    ev = load_table(spark, sf_dir, "events")
    j = ev.groupBy(
        F.col("event_type").alias("x"),
        F.floor(F.col("value") / MI_BIN_W).cast("long").alias("y"),
    ).agg(F.count("*").alias("c"))
    m = (
        j.withColumn("cx", F.sum("c").over(W.partitionBy("x")))
        .withColumn("cy", F.sum("c").over(W.partitionBy("y")))
        .withColumn("ymin", F.min("y").over(W.partitionBy("x")))
    )
    n = m.agg(F.sum("c").alias("n"))
    cd = F.col("c").cast("double")
    mi_term = (cd / F.col("n")) * F.log(
        (cd * F.col("n")) / (F.col("cx").cast("double") * F.col("cy"))
    )
    hx_term = F.when(
        F.col("y") == F.col("ymin"),
        (F.col("cx").cast("double") / F.col("n"))
        * F.log(F.col("cx").cast("double") / F.col("n")),
    ).otherwise(0.0)
    return (
        m.crossJoin(F.broadcast(n))
        .groupBy("n")
        .agg(
            F.round(F.sum(mi_term), 6).alias("mi_nats"),
            F.round(-F.sum(hx_term), 6).alias("h_x_nats"),
        )
    )


@query(
    "pareto_frontier_2d",
    oracle="""
    WITH it AS (
        SELECT l_partkey AS item_id,
               CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS x,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS y
        FROM lineitem GROUP BY 1)
    SELECT item_id, x, y FROM it a
    WHERE NOT EXISTS (SELECT 1 FROM it b WHERE b.x > a.x AND b.y > a.y)
    """,
)
def pareto_frontier_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline): items not strictly dominated on
    (total quantity, total revenue) — multi-objective shortlisting
    (price/quality, cost/latency) without collapsing to a single score.
    The textbook skyline is the oracle's O(n²) NOT-EXISTS self-join; the
    engine instead sorts ONE axis and takes a suffix-max of the other:
    dominated(a) ⟺ max{y : x > a.x} > a.y. That suffix max is a global
    ordered scan: a :func:`block_offsets` prefix max over x DESC, whose
    in-block part is a RANGE window ending at -1 (STRICT x dominators
    only, so equal-x rows never dominate each other); every earlier block
    has strictly larger x. Both measures are exact integers (unit
    quantities, revenue cents) — no float ordering surface anywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    it = li.groupBy(F.col("l_partkey").alias("item_id")).agg(
        F.sum(F.floor("l_quantity").cast("long")).alias("x"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias("y"),
    )
    blocks, w, _ = block_offsets(it, F.col("x").desc(), maxes=("y",))
    local = blocks.withColumn(
        "_lmax", F.max("y").over(w.rangeBetween(W.unboundedPreceding, -1))
    )
    thr = F.greatest(F.col("_lmax"), F.col("_pre_y"))
    return (
        local.filter(thr.isNull() | (F.col("y") >= thr))
        .select("item_id", "x", "y")
    )


@query(
    "period_over_period",
    oracle=f"""
    WITH wk AS (
        SELECT event_type,
               CAST(FLOOR({EPOCH_TS} / 604800) AS BIGINT) AS week,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2)
    SELECT event_type, week, cnt,
           LAG(cnt) OVER (PARTITION BY event_type ORDER BY week) AS prev_cnt,
           ROUND((cnt - LAG(cnt) OVER (PARTITION BY event_type ORDER BY week))
                 / CAST(LAG(cnt) OVER (PARTITION BY event_type ORDER BY week)
                        AS DOUBLE), 6) AS wow_change
    FROM wk
    """,
)
def period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type — the BI staple behind every
    'metric is up X%' readout: weekly counts (one keyed agg collapses
    the corpus to |types|x|weeks| rows), keyed lag, percentage delta
    (NULL for each type's first week — no fabricated 0%). Week numbers
    are tz-free epoch/604800 integers; the only float is the final
    division of two exact integers, identical on both engines. The lag
    window rides the same event_type key as the agg."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week"),
    ).agg(F.count("*").alias("cnt"))
    w = W.partitionBy("event_type").orderBy("week")
    prev = F.lag("cnt").over(w)
    return wk.select(
        "event_type",
        "week",
        "cnt",
        prev.alias("prev_cnt"),
        F.round((F.col("cnt") - prev) / prev.cast("double"), 6).alias(
            "wow_change"
        ),
    )


BASKET_MIN_PAIR = 3


@query(
    "basket_lift",
    oracle=f"""
    WITH pc AS MATERIALIZED (
        SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
               CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS pair_n
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(DISTINCT a.l_orderkey) >= {BASKET_MIN_PAIR}),
    -- MATERIALIZED + pre-filter: inlined, DuckDB estimated pc at 1 row
    -- and cross-producted ic x ic x t (~10^13 at 30x) before the probe
    ic AS MATERIALIZED (
        SELECT l_partkey, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n
        FROM lineitem GROUP BY 1),
    t AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM lineitem)
    SELECT item_a, item_b, pair_n,
           ROUND(CAST(pair_n AS DOUBLE) / n_orders, 6) AS support,
           ROUND(CAST(pair_n AS DOUBLE) / ia.n, 6) AS confidence,
           ROUND(CAST(pair_n AS DOUBLE) * n_orders
                 / (CAST(ia.n AS DOUBLE) * ib.n), 6) AS lift
    FROM pc
    JOIN ic ia ON item_a = ia.l_partkey
    JOIN ic ib ON item_b = ib.l_partkey
    CROSS JOIN t
    WHERE pair_n >= {BASKET_MIN_PAIR}
    """,
)
def basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules: support / confidence / lift for
    item pairs co-occurring in an order — the classic 'bought together'
    mining. The engine NEVER self-joins the fact table on orderkey (the
    oracle's form — quadratic in basket size times join overhead):
    baskets collapse to per-order sorted distinct item ARRAYS first,
    pairs explode IN-ROW (Σ basket² bounded by the order line cap — the
    `item_cf_similarity` / `pagerank_items` discipline), then one
    pair-keyed count, two item-keyed degree joins, a 1-row order-count
    broadcast. Min-support floor keeps the output rule-sized."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                """flatten(transform(items, (x, i) ->
                       transform(slice(items, i + 2, size(items)), y ->
                           struct(x AS item_a, y AS item_b))))"""
            )
        ).alias("p")
    ).select("p.item_a", "p.item_b")
    pc = pairs.groupBy("item_a", "item_b").agg(F.count("*").alias("pair_n"))
    ic = li.groupBy("l_partkey").agg(
        F.countDistinct("l_orderkey").alias("n")
    )
    t = baskets.agg(F.count("*").alias("n_orders"))
    return (
        pc.filter(F.col("pair_n") >= BASKET_MIN_PAIR)
        .join(ic.select(F.col("l_partkey").alias("item_a"), F.col("n").alias("na")), "item_a")
        .join(ic.select(F.col("l_partkey").alias("item_b"), F.col("n").alias("nb")), "item_b")
        .crossJoin(F.broadcast(t))
        .select(
            "item_a",
            "item_b",
            "pair_n",
            F.round(F.col("pair_n").cast("double") / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(F.col("pair_n").cast("double") / F.col("na"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("pair_n").cast("double")
                * F.col("n_orders")
                / (F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "weighted_median_grouped",
    oracle="""
    WITH w AS (
        SELECT l_returnflag AS flag,
               ROUND(l_extendedprice, 6) AS price,
               CAST(FLOOR(l_quantity) AS BIGINT) AS wt
        FROM lineitem),
    c AS (
        SELECT flag, price, wt,
               CAST(SUM(wt) OVER (PARTITION BY flag ORDER BY price
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_wt,
               CAST(SUM(wt) OVER (PARTITION BY flag) AS BIGINT) AS tot_wt
        FROM w),
    m AS (
        SELECT flag, price, tot_wt,
               ROW_NUMBER() OVER (PARTITION BY flag ORDER BY price) AS rn
        FROM c WHERE cum_wt * 2 >= tot_wt)
    SELECT flag, ROUND(price, 6) AS weighted_median, tot_wt
    FROM m WHERE rn = 1
    """,
)
def weighted_median_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median per group — the robust center when observations
    carry unequal mass (price weighted by units sold): the smallest
    value whose CUMULATIVE weight reaches half the group's total.
    Integer weights make the cumulative comparison exact (cum*2 >=
    total avoids division entirely); both the running sum and the
    pick-first ranking ride ONE group-keyed exchange. No SQL aggregate
    computes this directly — it is the canonical ordered-keyed-window
    composition, and at 100 TB the group key partitions it perfectly."""
    li = load_table(spark, sf_dir, "lineitem")
    w = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round("l_extendedprice", 6).alias("price"),
        F.floor("l_quantity").cast("long").alias("wt"),
    )
    wf = W.partitionBy("flag").orderBy("price")
    c = w.withColumn(
        "cum_wt", F.sum("wt").over(wf.rowsBetween(W.unboundedPreceding, 0))
    ).withColumn("tot_wt", F.sum("wt").over(W.partitionBy("flag")))
    m = c.filter(F.col("cum_wt") * 2 >= F.col("tot_wt")).withColumn(
        "rn", F.row_number().over(wf)
    )
    return m.filter(F.col("rn") == 1).select(
        "flag", F.round("price", 6).alias("weighted_median"), "tot_wt"
    )


@query(
    "cumulative_unique_users",
    oracle=f"""
    WITH fs AS (
        SELECT user_id,
               CAST(MIN(FLOOR({EPOCH_TS} / 86400)) AS BIGINT) AS first_day
        FROM events GROUP BY user_id),
    d AS (SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
          FROM fs GROUP BY first_day)
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
    FROM d
    """,
)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users over time — the growth-curve readout a
    naive per-day COUNT(DISTINCT) over expanding windows gets quadratically
    wrong: distinct-to-date = (each user counted on their FIRST day) +
    a running sum. Two keyed aggs collapse the corpus to |users| then
    |days| rows; the only ordered pass is the running sum over the
    COLLAPSED calendar table (|days| rows — calendar-bounded at any data
    scale, the `key_skew_profile` bounded-single-partition exception,
    documented because the input is provably tiny, not accidentally
    so). Day numbers are tz-free integers."""
    ev = load_table(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(
        F.min(F.floor(F.unix_timestamp("ts") / 86400)).cast("long").alias(
            "first_day"
        )
    )
    d = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    # pmod-constant partition: one explicit group over the bounded day
    # table — avoids the unpartitioned-WindowExec warning (the
    # key_skew_profile idiom)
    w = (
        W.partitionBy(F.pmod(F.col("day"), F.lit(1)))
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return d.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )


@query(
    "timeseries_interpolate_linear",
    oracle=f"""
    WITH d AS (
        SELECT user_id,
               CAST(FLOOR({EPOCH_TS} / 86400) AS BIGINT) AS day,
               ROUND(SUM(value), 6) AS v
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
    span AS (
        SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM d GROUP BY 1),
    grid AS (
        SELECT user_id, UNNEST(range(d0, d1 + 1)) AS day FROM span),
    j AS (
        SELECT g.user_id, g.day, d.v FROM grid g
        LEFT JOIN d ON d.user_id = g.user_id AND d.day = g.day),
    f AS (
        SELECT user_id, day, v,
               MAX(CASE WHEN v IS NOT NULL THEN day END) OVER
                   (PARTITION BY user_id ORDER BY day) AS prev_day,
               MIN(CASE WHEN v IS NOT NULL THEN day END) OVER
                   (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS next_day
        FROM j),
    vals AS (
        SELECT f.user_id, f.day, f.v, f.prev_day, f.next_day,
               pv.v AS prev_v, nv.v AS next_v
        FROM f
        LEFT JOIN d pv ON pv.user_id = f.user_id AND pv.day = f.prev_day
        LEFT JOIN d nv ON nv.user_id = f.user_id AND nv.day = f.next_day)
    SELECT user_id, day,
           ROUND(CASE
               WHEN v IS NOT NULL THEN v
               ELSE prev_v + (next_v - prev_v) * (day - prev_day)
                    / CAST(next_day - prev_day AS DOUBLE)
           END, 6) AS v_interp,
           (v IS NULL) AS was_gap
    FROM vals
    """,
)
def timeseries_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation over per-user daily series — the
    model-input counterpart of `timeseries_resample`'s forward fill:
    interior gaps get the straight line between the bracketing known
    points (no flat steps, no leakage past series ends since the grid
    spans exactly [first, last] day). All passes ride ONE user_id key:
    the daily collapse, the in-row `sequence()` grid, the bracketing
    prev/next windows, and the two value lookups. The interpolation
    weight is one division of exact integer day distances; daily sums
    are rounded BEFORE interpolating so both engines interpolate
    identical endpoints (the `timeseries_resample` lesson)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    d = ev.groupBy(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    ).agg(F.round(F.sum("value"), 6).alias("v"))
    span = d.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    j = grid.join(d, ["user_id", "day"], "left")
    wb = W.partitionBy("user_id").orderBy("day")
    wf = wb.rowsBetween(W.currentRow, W.unboundedFollowing)
    f = j.withColumn(
        "prev_day",
        F.max(F.when(F.col("v").isNotNull(), F.col("day"))).over(
            wb.rowsBetween(W.unboundedPreceding, 0)
        ),
    ).withColumn(
        "next_day",
        F.min(F.when(F.col("v").isNotNull(), F.col("day"))).over(wf),
    )
    pv = d.select("user_id", F.col("day").alias("prev_day"), F.col("v").alias("prev_v"))
    nv = d.select("user_id", F.col("day").alias("next_day"), F.col("v").alias("next_v"))
    vals = f.join(pv, ["user_id", "prev_day"], "left").join(
        nv, ["user_id", "next_day"], "left"
    )
    interp = F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * (
        F.col("day") - F.col("prev_day")
    ) / (F.col("next_day") - F.col("prev_day")).cast("double")
    return vals.select(
        "user_id",
        "day",
        F.round(
            F.when(F.col("v").isNotNull(), F.col("v")).otherwise(interp), 6
        ).alias("v_interp"),
        F.col("v").isNull().alias("was_gap"),
    )


@query(
    "grouped_skew_kurtosis",
    oracle="""
    WITH m AS (
        SELECT event_type, ROUND(AVG(value), 6) AS mu
        FROM events GROUP BY event_type),
    c AS (
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(POWER(value - mu, 2)) AS m2,
               SUM(POWER(value - mu, 3)) AS m3,
               SUM(POWER(value - mu, 4)) AS m4
        FROM events e JOIN m ON e.event_type = m.event_type
        GROUP BY e.event_type)
    SELECT event_type, n,
           ROUND((m3 / n) / POWER(m2 / n, 1.5), 6) AS skewness,
           ROUND(n * m4 / (m2 * m2) - 3, 6) AS excess_kurtosis
    FROM c
    """,
)
def grouped_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher distribution moments (skewness, excess kurtosis) per group
    from EXPLICIT central power sums — deliberately not the built-in
    `skewness()`/`kurtosis()` aggregates, whose sample-vs-population
    adjustment conventions differ between engines and would hash-diverge
    by definition, not by bug. Two passes sharing the group key: a tiny
    mean table (rounded to 6 so both engines center on the IDENTICAL
    constant) broadcast back, then one moments aggregate — the same
    shape as `anomaly_zscore`'s two-pass z-score. Centering before the
    power sums is also the numerics: raw Σx⁴ at 100 TB overflows double
    precision long before the centered sums do."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(F.round(F.avg("value"), 6).alias("mu"))
    dev = F.col("value") - F.col("mu")
    c = (
        ev.join(F.broadcast(m), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.pow(dev, 2)).alias("m2"),
            F.sum(F.pow(dev, 3)).alias("m3"),
            F.sum(F.pow(dev, 4)).alias("m4"),
        )
    )
    return c.select(
        "event_type",
        "n",
        F.round((F.col("m3") / F.col("n")) / F.pow(F.col("m2") / F.col("n"), 1.5), 6).alias(
            "skewness"
        ),
        F.round(
            F.col("n") * F.col("m4") / (F.col("m2") * F.col("m2")) - 3, 6
        ).alias("excess_kurtosis"),
    )


# ABC boundaries in exact integer arithmetic: A while cum <= 80% of total
# revenue cents, B while cum <= 95%, else C — no float boundary can flip
# a class (the vocab_coverage discipline on money).
ABC_A_PCT = 80
ABC_B_PCT = 95


@query(
    "abc_classification",
    oracle=f"""
    WITH it AS (
        SELECT l_partkey AS item_id,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM lineitem GROUP BY 1),
    t AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS total FROM it),
    w AS (SELECT item_id, rev_cents,
                 ROW_NUMBER() OVER (ORDER BY rev_cents DESC, item_id) AS rnk,
                 CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, item_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM it)
    SELECT item_id, rev_cents, CAST(rnk AS BIGINT) AS rnk,
           ROUND(CAST(cum AS DOUBLE) / total, 6) AS cum_share,
           CASE WHEN cum * 100 <= {ABC_A_PCT} * total THEN 'A'
                WHEN cum * 100 <= {ABC_B_PCT} * total THEN 'B'
                ELSE 'C' END AS abc_class
    FROM w CROSS JOIN t
    """,
)
def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: rank items by revenue,
    class A while cumulative share <= 80%, B <= 95%, else C — the
    workhorse of inventory/catalog prioritization. The global rank +
    running revenue share are a :func:`block_offsets` scan ordered
    (rev_cents DESC, item_id), like `vocab_coverage`; revenue is integer
    CENTS so both the cumsum and the class boundaries are exact integer
    comparisons."""
    li = load_table(spark, sf_dir, "lineitem")
    it = li.groupBy(F.col("l_partkey").alias("item_id")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias(
            "rev_cents"
        )
    )
    blocks, lw, totals = block_offsets(
        it, F.col("rev_cents").desc(), "item_id", sums=("rev_cents",)
    )
    total = F.lit(totals["_off_rev_cents"])
    cum = F.col("_off_rev_cents") + F.sum("rev_cents").over(
        lw.rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return blocks.select(
        "item_id",
        "rev_cents",
        (F.col("_row_off") + F.row_number().over(lw)).cast("long").alias("rnk"),
        F.round(cum.cast("double") / total, 6).alias("cum_share"),
        F.when(cum * 100 <= ABC_A_PCT * total, "A")
        .when(cum * 100 <= ABC_B_PCT * total, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@query(
    "log2_histogram",
    oracle="""
    WITH b AS (
        SELECT LENGTH(to_base(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT), 2))
                   - 1 AS bucket
        FROM orders)
    SELECT CAST(bucket AS BIGINT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM b GROUP BY bucket
    """,
)
def log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-scale (power-of-two) histogram of order amounts — the
    heavy-tail profile where fixed-width bins waste 90% of their range:
    bucket = floor(log2(cents)), computed as the LENGTH OF THE BINARY
    STRING minus one — exact integer arithmetic on both engines, where
    floor(ln(x)/ln(2)) flips at exact powers of two on last-ulp libm
    differences. One narrow map + one ~40-key aggregate; the log2
    histogram is also the shape HDR latency histograms use at 100 TB
    telemetry scale."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    bucket = (F.length(F.conv(cents.cast("string"), 10, 2)) - 1).cast("long")
    return o.select(bucket.alias("log2_bucket")).groupBy("log2_bucket").agg(
        F.count("*").alias("n")
    )


TOPK_ARRAY_K = 3


@query(
    "grouped_topk_array",
    oracle=f"""
    WITH d AS (
        SELECT event_type,
               CAST(FLOOR({{EPOCH}} / 86400) AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY cnt DESC, day) AS rn FROM d)
    SELECT event_type,
           CAST(to_json(list(struct_pack(day := day, cnt := cnt)
                ORDER BY cnt DESC, day)) AS VARCHAR) AS top_days_json
    FROM r WHERE rn <= {TOPK_ARRAY_K}
    GROUP BY event_type
    """.replace("{EPOCH}", "CAST(FLOOR(epoch(ts)) AS BIGINT)"),
)
def grouped_topk_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-K delivered AS A NESTED ARRAY column — the result
    shape APIs actually serve ('top 3 days per metric' as one row per
    metric, not K rows): keyed ranking window -> filter -> sort_array
    over collect_list of (cnt, day) structs, with a deterministic
    (cnt desc, day) order inside the array. Pins that nested
    array<struct> results survive Arrow conversion and cross-engine
    value comparison — the contract any downstream JSON serializer
    depends on."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    ).agg(F.count("*").alias("cnt"))
    w = W.partitionBy("event_type").orderBy(F.col("cnt").desc(), "day")
    top = d.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= TOPK_ARRAY_K
    )
    # sort by (-cnt, day) then strip the sort key: array order must be
    # deterministic and identical to the oracle's ORDER BY
    return top.groupBy("event_type").agg(
        F.to_json(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct((-F.col("cnt")).alias("negcnt"), "day", "cnt")
                    )
                ),
                lambda s: F.struct(s["day"].alias("day"), s["cnt"].alias("cnt")),
            )
        ).alias("top_days_json")
    )


@query(
    "activity_heatmap",
    oracle=f"""
    SELECT CAST(isodow(ts) AS BIGINT) AS iso_dow,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 6) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (day-of-week × hour) activity heatmap — the BI grid behind
    every 'when are users active' dashboard: one keyed aggregate
    collapsing the corpus to <= 7x24 cells, map-side partials carrying
    everything. ISO day-of-week (Monday=1, converted from Spark's
    Sunday-based dayofweek) and the hour both extract from the UTC-pinned
    timestamp — the tz discipline is the whole trick, since a heatmap
    shifted by the session zone is wrong in the most plausible-looking
    way."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        (((F.dayofweek("ts") + 5) % 7) + 1).cast("long").alias("iso_dow"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value")
    )


@query(
    "argmax_per_group",
    oracle=f"""
    SELECT user_id,
           arg_max(event_type,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) * 1000000 + event_id)
               AS last_event_type,
           arg_min(event_type,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) * 1000000 + event_id)
               AS first_event_type,
           CAST(MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS BIGINT) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARGMAX aggregates (`max_by`/`min_by`): carry an ATTRIBUTE of the
    extreme row out of a single hash aggregate — first/last event type
    per user with no window, no self-join, no rank pass (the window
    form costs a sort per partition; max_by is one map-side-combinable
    agg). Ties are the trap: max_by on a bare timestamp is
    engine-defined when timestamps repeat, so the ordering key is the
    COMPOSITE (epoch micros-scaled + event_id) — unique by
    construction, deterministic on both engines."""
    ev = load_table(spark, sf_dir, "events")
    key = F.unix_timestamp("ts") * 1000000 + F.col("event_id")
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", key).alias("last_event_type"),
        F.min_by("event_type", key).alias("first_event_type"),
        F.max(F.unix_timestamp("ts")).cast("long").alias("last_ts"),
    )


@query(
    "string_agg_ordered",
    oracle="""
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations_csv,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM region r JOIN nation n ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name
    """,
)
def string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg) — the
    denormalized-label column every report and export wants. The
    determinism trap is the ORDER: an unordered collect_list is
    partition-order-defined and can differ per RUN, let alone per
    engine — so the contract is sort-then-join
    (`sort_array(collect_list(...))`), matching the oracle's
    WITHIN-GROUP ORDER BY. One keyed agg; the concatenation is
    in-group, bounded by group size."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return (
        r.join(n, r.r_regionkey == n.n_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations_csv"
            ),
            F.count("*").alias("n"),
        )
    )


ID_GAP_BUCKET = 1000


@query(
    "id_gap_audit",
    oracle=f"""
    WITH src AS (
        SELECT event_id FROM events WHERE event_id % 997 <> 0),
    d AS (
        SELECT event_id // {ID_GAP_BUCKET} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(event_id) AS BIGINT) AS lo,
               CAST(MAX(event_id) AS BIGINT) AS hi
        FROM src GROUP BY 1)
    SELECT CAST(bucket AS BIGINT) AS bucket, n, lo, hi,
           CAST(hi - lo + 1 - n AS BIGINT) AS n_missing
    FROM d WHERE hi - lo + 1 - n > 0
    """,
)
def id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap audit: which id ranges have HOLES (dropped events,
    failed producers, compaction bugs) — per fixed-width id bucket,
    span-minus-count gives the missing count with pure integer
    arithmetic and ONE keyed aggregate; only gappy buckets surface. The
    naive form (anti-join against a generated full sequence) costs a
    generated table the size of the ID SPACE — this form costs one agg
    over the data that exists. Within-bucket holes are exact; holes
    ALIGNED with bucket boundaries would need the islands machinery
    (`gaps_islands`) — declared scope. The fixture's ids are DENSE, so
    holes are planted (every 997th id dropped, a lost-producer shape) —
    an audit that can never fire checks nothing."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 997 != 0
    )
    d = ev.groupBy(
        F.floor(F.col("event_id") / ID_GAP_BUCKET).cast("long").alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.min("event_id").alias("lo"),
        F.max("event_id").alias("hi"),
    )
    missing = F.col("hi") - F.col("lo") + 1 - F.col("n")
    return d.filter(missing > 0).select(
        "bucket", "n", "lo", "hi", missing.cast("long").alias("n_missing")
    )


@query(
    "dense_scaffold_fill",
    oracle=f"""
    WITH wk AS (
        SELECT DISTINCT CAST(FLOOR({EPOCH_TS} / 604800) AS BIGINT) AS week
        FROM events),
    et AS (SELECT DISTINCT event_type FROM events),
    grid AS (SELECT week, event_type FROM wk CROSS JOIN et),
    f AS (
        SELECT CAST(FLOOR({EPOCH_TS} / 604800) AS BIGINT) AS week,
               event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE value > 280 GROUP BY 1, 2)
    SELECT g.week, g.event_type,
           CAST(COALESCE(f.n, 0) AS BIGINT) AS n,
           (f.n IS NULL) AS was_empty
    FROM grid g LEFT JOIN f ON g.week = f.week AND g.event_type = f.event_type
    """,
)
def dense_scaffold_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense reporting scaffold: the (week × event_type) grid with
    ZERO-FILLED empty cells — the 'no data must still be a row' fix
    every dashboard needs (a sparse GROUP BY silently drops empty
    cells, and a line chart connects across the hole as if nothing
    happened). The scaffold is the cross join of two COLLAPSED
    dimension sets (|weeks| × |types| rows — broadcast-sized by
    construction, the only cross join this engine allows unbounded
    sides nowhere near); facts left-join in and COALESCE to zero,
    with the was_empty flag distinguishing true zero from filled
    zero. The filter makes empty cells actually exist."""
    ev = load_table(spark, sf_dir, "events")
    week = F.floor(F.unix_timestamp("ts") / 604800).cast("long")
    wk = ev.select(week.alias("week")).distinct()
    et = ev.select("event_type").distinct()
    grid = wk.crossJoin(F.broadcast(et))
    f = (
        ev.filter(F.col("value") > 280)
        .groupBy(week.alias("week"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    return grid.join(f, ["week", "event_type"], "left").select(
        "week",
        "event_type",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        F.col("n").isNull().alias("was_empty"),
    )


DEBOUNCE_S = 600


@query(
    "event_debounce",
    oracle=f"""
    WITH g AS (
        SELECT event_id, user_id, event_type,
               {EPOCH_TS} AS t,
               LAG({EPOCH_TS}) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) AS prev_t
        FROM events)
    SELECT event_id, user_id, event_type, CAST(t AS BIGINT) AS t
    FROM g WHERE prev_t IS NULL OR t - prev_t > {DEBOUNCE_S}
    """,
)
def event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debouncing: drop an event arriving within
    {DEBOUNCE_S}s of the PREVIOUS event of the same (user, type) —
    double-click/retry squashing, the single-pass lag form (each event
    compares against its immediate raw predecessor; the iterative form,
    where survivors re-anchor the window, is a recurrence — `user_ewma`
    territory — and deliberately out of scope, declared). One keyed
    window on the (user_id, event_type) composite, integer-seconds
    comparison, deterministic event_id tiebreak for same-second
    events."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    t = F.unix_timestamp("ts")
    g = ev.select(
        "event_id", "user_id", "event_type", t.alias("t"),
        F.lag(t).over(w).alias("prev_t"),
    )
    return g.filter(
        F.col("prev_t").isNull() | (F.col("t") - F.col("prev_t") > DEBOUNCE_S)
    ).select("event_id", "user_id", "event_type", "t")


@query(
    "session_duration_stats",
    oracle=f"""
    WITH g AS (
        SELECT user_id, {EPOCH_TS} AS t,
               CASE WHEN {EPOCH_TS} - LAG({EPOCH_TS}) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                    THEN 1 ELSE 0 END AS new_sess
        FROM events),
    s AS (
        SELECT user_id, t,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM g),
    d AS (
        SELECT user_id, sid,
               CAST(MAX(t) - MIN(t) AS BIGINT) AS dur_s,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM s GROUP BY user_id, sid)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           ROUND(AVG(dur_s), 6) AS avg_dur_s,
           ROUND(quantile_cont(dur_s, 0.5), 6) AS p50_dur_s,
           ROUND(quantile_cont(dur_s, 0.9), 6) AS p90_dur_s,
           ROUND(AVG(n_events), 6) AS avg_events
    FROM d
    """,
)
def session_duration_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration distribution — the product-health readout on top
    of sessionization: session count, bounce rate (single-event
    sessions), avg/p50/p90 duration, events per session. Reuses the
    `sessionize` lag+running-sum decomposition (both windows + the
    session collapse on ONE user key), then a 6-number scalar gather.
    Durations are exact integer seconds; only the interpolated
    percentiles and means are floats, rounded."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_timestamp("ts")
    g = ev.select(
        "user_id", t.alias("t"),
        F.when(t - F.lag(t).over(w) > 1800, 1).otherwise(0).alias("new_sess"),
    )
    s = g.withColumn(
        "sid",
        F.sum("new_sess").over(
            W.partitionBy("user_id").orderBy("t").rowsBetween(
                W.unboundedPreceding, 0
            )
        ),
    )
    d = s.groupBy("user_id", "sid").agg(
        (F.max("t") - F.min("t")).cast("long").alias("dur_s"),
        F.count("*").alias("n_events"),
    )
    return d.agg(
        F.count("*").alias("n_sessions"),
        F.sum((F.col("n_events") == 1).cast("long")).alias("n_bounces"),
        F.round(F.avg("dur_s"), 6).alias("avg_dur_s"),
        F.round(F.expr("percentile(dur_s, 0.5)"), 6).alias("p50_dur_s"),
        F.round(F.expr("percentile(dur_s, 0.9)"), 6).alias("p90_dur_s"),
        F.round(F.avg("n_events"), 6).alias("avg_events"),
    )


TOP_MOVERS_K = 5


@query(
    "top_movers",
    oracle=f"""
    WITH wk AS (
        SELECT event_type,
               CAST(FLOOR({EPOCH_TS} / 604800) AS BIGINT) AS week,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
    ch AS (
        SELECT event_type, week, cnt,
               LAG(cnt) OVER (PARTITION BY event_type ORDER BY week)
                   AS prev_cnt
        FROM wk)
    SELECT event_type, week, cnt, prev_cnt,
           CAST(ABS(cnt - prev_cnt) AS BIGINT) AS abs_change
    FROM ch WHERE prev_cnt IS NOT NULL
    ORDER BY abs_change DESC, event_type, week
    LIMIT {TOP_MOVERS_K}
    """,
)
def top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top movers — the alerting cut of `period_over_period`: the K
    (metric, week) cells with the largest ABSOLUTE week-over-week swing,
    ranked on exact integer deltas (ranking on the percentage is
    float-ordering; ranking on |Δcount| is not, and for alerting the
    absolute move is usually the right severity anyway). Keyed agg +
    keyed lag as before; the global K-cut is a TakeOrderedAndProject
    over the |types|x|weeks| table with full deterministic tiebreaks."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week"),
    ).agg(F.count("*").alias("cnt"))
    w = W.partitionBy("event_type").orderBy("week")
    ch = wk.withColumn("prev_cnt", F.lag("cnt").over(w)).filter(
        F.col("prev_cnt").isNotNull()
    )
    return (
        ch.withColumn(
            "abs_change", F.abs(F.col("cnt") - F.col("prev_cnt")).cast("long")
        )
        .orderBy(F.col("abs_change").desc(), "event_type", "week")
        .limit(TOP_MOVERS_K)
    )


OPEN_WINDOW_D = 30


@query(
    "concurrent_intervals_daily",
    oracle=f"""
    WITH iv AS (
        SELECT CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS d0,
               CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT)
                   + {OPEN_WINDOW_D} AS d1
        FROM orders),
    deltas AS (
        SELECT d0 AS day, CAST(COUNT(*) AS BIGINT) AS delta FROM iv GROUP BY d0
        UNION ALL
        SELECT d1 AS day, -CAST(COUNT(*) AS BIGINT) FROM iv GROUP BY d1),
    byday AS (
        SELECT day, CAST(SUM(delta) AS BIGINT) AS net FROM deltas GROUP BY day)
    SELECT day, net,
           CAST(SUM(net) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_open
    FROM byday
    """,
)
def concurrent_intervals_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval CONCURRENCY time series — how many orders are 'open'
    (within {OPEN_WINDOW_D} days of placement) on each day: the sweep-line
    +1/-1 decomposition, which turns an interval-stabbing problem (naive:
    days × intervals containment join) into two keyed delta aggregates
    collapsing to |days| rows and ONE running sum over that bounded
    calendar table (pmod-constant window, the `cumulative_unique_users`
    idiom). Peak concurrency, capacity planning, license counting — all
    the same sweep. Pure integer arithmetic end-to-end."""
    o = load_table(spark, sf_dir, "orders")
    d0 = F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long")
    iv = o.select(d0.alias("d0"), (d0 + OPEN_WINDOW_D).alias("d1"))
    opens = iv.groupBy(F.col("d0").alias("day")).agg(
        F.count("*").alias("delta")
    )
    closes = iv.groupBy(F.col("d1").alias("day")).agg(
        (-F.count("*")).alias("delta")
    )
    byday = (
        opens.unionByName(closes)
        .groupBy("day")
        .agg(F.sum("delta").cast("long").alias("net"))
    )
    w = (
        W.partitionBy(F.pmod(F.col("day"), F.lit(1)))
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return byday.select(
        "day", "net", F.sum("net").over(w).cast("long").alias("n_open")
    )


@query(
    "snapshot_diff",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
        FROM orders),
    v2 AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 11 = 0
                    THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) + 500
                    ELSE CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
               END AS v
        FROM orders WHERE o_orderkey % 13 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
        FROM orders WHERE o_orderkey % 17 = 0),
    tagged AS (
        SELECT k, v, 1 AS s1, 0 AS s2 FROM v1
        UNION ALL
        SELECT k, v, 0, 1 FROM v2),
    g AS (
        SELECT k,
               CAST(SUM(s1) AS BIGINT) AS in1, CAST(SUM(s2) AS BIGINT) AS in2,
               CAST(MAX(CASE WHEN s1 = 1 THEN v END) AS BIGINT) AS v1,
               CAST(MAX(CASE WHEN s2 = 1 THEN v END) AS BIGINT) AS v2
        FROM tagged GROUP BY k)
    SELECT CASE WHEN in1 = 0 THEN 'added'
                WHEN in2 = 0 THEN 'removed'
                WHEN v1 <> v2 THEN 'changed'
                ELSE 'unchanged' END AS diff_class,
           CAST(COUNT(*) AS BIGINT) AS n_keys
    FROM g GROUP BY 1
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation — added / removed / changed / unchanged
    between two table versions (the nightly did-the-migration-lose-rows
    audit; planted: every 13th key deleted, every 11th updated, every
    17th re-added under a new key). The textbook full-outer join never
    plans: both snapshots UNION with side tags and ONE key-keyed
    aggregate carries presence counts and both values out — a single
    co-partitioned shuffle with no join-skew surface, the
    `merge_upsert_cdc` trick pointed at diffing instead of merging.
    Output is the |classes|-row summary; the per-key detail is the same
    aggregate without the final collapse."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    v1 = o.select(F.col("o_orderkey").alias("k"), cents.alias("v"))
    v2 = (
        o.filter(F.col("o_orderkey") % 13 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.when(F.col("o_orderkey") % 11 == 0, cents + 500)
            .otherwise(cents)
            .alias("v"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 17 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("k"), cents.alias("v")
            )
        )
    )
    tagged = v1.select(
        "k", "v", F.lit(1).alias("s1"), F.lit(0).alias("s2")
    ).unionByName(v2.select("k", "v", F.lit(0).alias("s1"), F.lit(1).alias("s2")))
    g = tagged.groupBy("k").agg(
        F.sum("s1").alias("in1"),
        F.sum("s2").alias("in2"),
        F.max(F.when(F.col("s1") == 1, F.col("v"))).alias("v1"),
        F.max(F.when(F.col("s2") == 1, F.col("v"))).alias("v2"),
    )
    cls = (
        F.when(F.col("in1") == 0, "added")
        .when(F.col("in2") == 0, "removed")
        .when(F.col("v1") != F.col("v2"), "changed")
        .otherwise("unchanged")
    )
    return g.groupBy(cls.alias("diff_class")).agg(F.count("*").alias("n_keys"))


@query(
    "running_compound_growth",
    oracle=f"""
    WITH wk AS (
        SELECT event_type,
               CAST(FLOOR({EPOCH_TS} / 604800) AS BIGINT) AS week,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
    r AS (
        SELECT event_type, week, cnt,
               CAST(cnt AS DOUBLE) /
                   LAG(cnt) OVER (PARTITION BY event_type ORDER BY week)
                   AS ratio
        FROM wk)
    SELECT event_type, week, cnt,
           ROUND(EXP(SUM(LN(ratio)) OVER (
               PARTITION BY event_type ORDER BY week
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
               AS growth_index
    FROM r WHERE ratio IS NOT NULL
    """,
)
def running_compound_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compounding growth index — cumulative PRODUCT of week-over-week
    ratios (index = 1 at the first comparable week), via the log-sum-exp
    identity: SQL has running SUM but no running PRODUCT, and
    exp(Σ ln rᵢ) is the standard rewrite (portfolio returns, compounding
    conversion lifts). The inner sum is an ORDERED sequential window sum
    — both engines execute identical additions in identical order, so
    the only cross-engine surface is ln/exp themselves, absorbed by the
    6-decimal round. Note the telescoping identity (index =
    cnt/first_cnt) holds mathematically and is the property test; the
    log form is what generalizes to ratios that don't telescope
    (per-period rebalanced returns)."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week"),
    ).agg(F.count("*").alias("cnt"))
    w = W.partitionBy("event_type").orderBy("week")
    r = wk.withColumn(
        "ratio", F.col("cnt").cast("double") / F.lag("cnt").over(w)
    ).filter(F.col("ratio").isNotNull())
    return r.select(
        "event_type",
        "week",
        "cnt",
        F.round(
            F.exp(
                F.sum(F.log("ratio")).over(
                    w.rowsBetween(W.unboundedPreceding, 0)
                )
            ),
            6,
        ).alias("growth_index"),
    )


@query(
    "new_vs_returning_daily",
    oracle=f"""
    WITH act AS (
        SELECT DISTINCT user_id,
               CAST(FLOOR({EPOCH_TS} / 86400) AS BIGINT) AS day
        FROM events),
    fs AS (SELECT user_id, MIN(day) AS first_day FROM act GROUP BY user_id)
    SELECT a.day,
           CAST(SUM(CASE WHEN a.day = f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN a.day > f.first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS returning_users,
           ROUND(SUM(CASE WHEN a.day > f.first_day THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS returning_share
    FROM act a JOIN fs f ON a.user_id = f.user_id
    GROUP BY a.day
    """,
)
def new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning split per day — the growth-quality readout next
    to `cumulative_unique_users`' total curve (growth made of new users
    and growth made of retention are different businesses): each active
    (user, day) classifies against the user's first-seen day. Both aggs
    and the classify join ride the user key (the daily distinct, the
    first-seen MIN, and the join share it); the final day collapse is
    the only other exchange. Counts are exact integers; the share is
    one division."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    ).distinct()
    fs = act.groupBy("user_id").agg(F.min("day").alias("first_day"))
    j = act.join(fs, "user_id")
    is_new = (F.col("day") == F.col("first_day")).cast("long")
    is_ret = (F.col("day") > F.col("first_day")).cast("long")
    return j.groupBy("day").agg(
        F.sum(is_new).alias("new_users"),
        F.sum(is_ret).alias("returning_users"),
        F.round(F.sum(is_ret) / F.count("*").cast("double"), 6).alias(
            "returning_share"
        ),
    )


FREQ_CAP_N = 3


@query(
    "frequency_cap",
    oracle=f"""
    WITH r AS (
        SELECT event_id, user_id, event_type,
               CAST(FLOOR({EPOCH_TS} / 604800) AS BIGINT) AS week,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type,
                       CAST(FLOOR({EPOCH_TS} / 604800) AS BIGINT)
                   ORDER BY ts, event_id) AS rn
        FROM events)
    SELECT event_id, user_id, event_type, week,
           CAST(rn AS BIGINT) AS exposure_rank
    FROM r WHERE rn <= {FREQ_CAP_N}
    """,
)
def frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency capping — at most {FREQ_CAP_N} exposures per (user,
    type, week), the ad-serving / notification-throttling primitive:
    ONE ranking window on the composite (user, type, week) key keeps
    the first N by time and drops the rest. Unlike `sample_per_key`'s
    hash-random keep, the cap keeps the EARLIEST (order matters to the
    product semantics); unlike `event_debounce`'s gap rule, the budget
    is per calendar window. Deterministic (ts, event_id) tiebreaks;
    the week boundary is a tz-free integer."""
    ev = load_table(spark, sf_dir, "events")
    week = F.floor(F.unix_timestamp("ts") / 604800).cast("long")
    w = W.partitionBy("user_id", "event_type", week.alias("wk")).orderBy(
        "ts", "event_id"
    )
    r = ev.select(
        "event_id", "user_id", "event_type", week.alias("week"),
        F.row_number().over(
            W.partitionBy("user_id", "event_type", week).orderBy("ts", "event_id")
        ).alias("rn"),
    )
    return r.filter(F.col("rn") <= FREQ_CAP_N).select(
        "event_id", "user_id", "event_type", "week",
        F.col("rn").cast("long").alias("exposure_rank"),
    )


# Fixture-calibrated: users here are active near-daily (max observed idle
# ~2.4 days), so the risk line sits at 1 day to split the population —
# the production value is weeks, the plan is identical.
CHURN_IDLE_D = 1


@query(
    "churn_risk_flags",
    oracle=f"""
    WITH m AS (SELECT MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS t_max
               FROM events),
    u AS (
        SELECT user_id,
               MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS last_t,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id)
    SELECT user_id, n_events,
           CAST((t_max - last_t) // 86400 AS BIGINT) AS idle_days,
           CAST(t_max - last_t > {CHURN_IDLE_D} * 86400 AS BOOLEAN)
               AS churn_risk
    FROM u CROSS JOIN m
    """,
)
def churn_risk_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-risk flagging: users idle for more than {CHURN_IDLE_D} days
    relative to the CORPUS's observation end (anchoring to now() would
    make every historical backfill disagree with itself — the
    observation-end anchor is the `kaplan_meier_retention` discipline).
    One user-keyed agg + a 1-row max broadcast; integer day arithmetic
    end-to-end. The flag feeds win-back campaigns; the idle-days column
    feeds the survival curves next door."""
    ev = load_table(spark, sf_dir, "events")
    t = F.unix_timestamp("ts")
    m = ev.agg(F.max(t).alias("t_max"))
    u = ev.groupBy("user_id").agg(
        F.max(t).alias("last_t"), F.count("*").alias("n_events")
    )
    return u.crossJoin(F.broadcast(m)).select(
        "user_id",
        "n_events",
        F.floor((F.col("t_max") - F.col("last_t")) / 86400)
        .cast("long")
        .alias("idle_days"),
        (F.col("t_max") - F.col("last_t") > CHURN_IDLE_D * 86400).alias(
            "churn_risk"
        ),
    )


@query(
    "monotonicity_audit",
    oracle=f"""
    WITH src AS (
        SELECT user_id, {EPOCH_TS} AS t,
               event_id + CASE WHEN event_id % 97 = 0 THEN 500 ELSE 0 END
                   AS seq,
               event_id
        FROM events),
    g AS (
        SELECT user_id, t,
               LAG(t) OVER (PARTITION BY user_id
                            ORDER BY seq, event_id) AS prev_t
        FROM src)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN t < prev_t THEN 1 ELSE 0 END) AS BIGINT)
               AS n_inversions,
           CAST(SUM(CASE WHEN t < prev_t THEN 1 ELSE 0 END) > 0 AS BOOLEAN)
               AS has_disorder
    FROM g GROUP BY user_id
    """,
)
def monotonicity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-monotonicity audit: does event TIME advance with event
    ID per producer — the stream-quality check behind every 'can I
    trust event order' decision (CDC appliers, sessionizers and as-of
    joins all silently assume it; this measures it instead). The
    fixture's ids are perfectly time-ordered, so disorder is PLANTED:
    every 97th sequence number jumps 500 positions ahead (a delayed
    producer flush), creating real inversions for the audit to find.
    One keyed lag + one keyed agg on the same user exchange; the
    inversion count
    per producer is the reorder-buffer sizing input for the streaming
    jobs next door (watermark delay ≈ max observed disorder)."""
    ev = load_table(spark, sf_dir, "events")
    seq = F.col("event_id") + F.when(F.col("event_id") % 97 == 0, 500).otherwise(0)
    t = F.unix_timestamp("ts")
    src = ev.select("user_id", t.alias("t"), seq.alias("seq"), "event_id")
    w = W.partitionBy("user_id").orderBy("seq", "event_id")
    g = src.select(
        "user_id", "t", F.lag("t").over(w).alias("prev_t")
    )
    inv = (F.col("t") < F.col("prev_t")).cast("long")
    return g.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(inv).alias("n_inversions"),
        (F.sum(inv) > 0).alias("has_disorder"),
    )


@query(
    "share_of_parent",
    oracle=f"""
    WITH wk AS (
        SELECT event_type,
               CAST(FLOOR({EPOCH_TS} / 604800) AS BIGINT) AS week,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2)
    SELECT event_type, week, cnt,
           CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT)
               AS type_total,
           ROUND(CAST(cnt AS DOUBLE) /
                 SUM(cnt) OVER (PARTITION BY event_type), 6)
               AS share_of_type,
           ROUND(CAST(cnt AS DOUBLE) /
                 SUM(cnt) OVER (PARTITION BY week), 6) AS share_of_week
    FROM wk
    """,
)
def share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent along BOTH hierarchy axes in one pass: each
    (type, week) cell's share of its type's total AND of its week's
    total — the contribution readout every drill-down table shows. Two
    partition-keyed window sums over the COLLAPSED cell table (never
    the corpus), no self-joins back to totals; both marginals ride the
    |types|x|weeks| table. Integer counts, two exact divisions."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week"),
    ).agg(F.count("*").alias("cnt"))
    by_type = F.sum("cnt").over(W.partitionBy("event_type"))
    by_week = F.sum("cnt").over(W.partitionBy("week"))
    return wk.select(
        "event_type",
        "week",
        "cnt",
        by_type.cast("long").alias("type_total"),
        F.round(F.col("cnt").cast("double") / by_type, 6).alias("share_of_type"),
        F.round(F.col("cnt").cast("double") / by_week, 6).alias("share_of_week"),
    )


TRIM_PCT = 0.05


@query(
    "trimmed_mean_grouped",
    oracle=f"""
    WITH cuts AS (
        SELECT event_type,
               ROUND(quantile_cont(value, {TRIM_PCT}), 6) AS lo,
               ROUND(quantile_cont(value, {1 - TRIM_PCT}), 6) AS hi,
               CAST(COUNT(*) AS BIGINT) AS n_all
        FROM events GROUP BY event_type)
    SELECT e.event_type,
           c.n_all,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           ROUND(AVG(e.value), 6) AS trimmed_mean,
           c.lo AS lo_cut, c.hi AS hi_cut
    FROM events e JOIN cuts c ON e.event_type = c.event_type
    WHERE e.value >= c.lo AND e.value <= c.hi
    GROUP BY e.event_type, c.n_all, c.lo, c.hi
    """,
)
def trimmed_mean_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trimmed mean per group (drop the top and bottom {TRIM_PCT:.0%}
    before averaging) — the robust center that, unlike the median,
    still uses 90% of the data: the standard answer to 'the mean is
    dominated by outliers but the median wastes information'. Two-pass
    broadcast shape (the `anomaly_zscore` / `feature_winsorize`
    family): a tiny per-group percentile-cuts table joins back and the
    trimmed AVG runs in the second pass — winsorize CLAMPS the tails,
    trimming EXCLUDES them; both exist because they answer different
    questions. Cut values are ROUND(...,6) BEFORE the range filter (the
    shared-rounded-constant discipline: Spark percentile() and DuckDB
    quantile_cont() can differ in the last ulp, and an unrounded cut
    landing exactly on a data value could flip a boundary row's
    inclusion) and the rounded cuts are emitted so the filter boundary
    itself is value-checked."""
    ev = load_table(spark, sf_dir, "events")
    cuts = ev.groupBy("event_type").agg(
        F.round(F.expr(f"percentile(value, {TRIM_PCT})"), 6).alias("lo"),
        F.round(F.expr(f"percentile(value, {1 - TRIM_PCT})"), 6).alias("hi"),
        F.count("*").alias("n_all"),
    )
    j = ev.join(F.broadcast(cuts), "event_type").filter(
        (F.col("value") >= F.col("lo")) & (F.col("value") <= F.col("hi"))
    )
    return j.groupBy("event_type", "n_all", "lo", "hi").agg(
        F.count("*").alias("n_kept"),
        F.round(F.avg("value"), 6).alias("trimmed_mean"),
    ).select(
        "event_type", "n_all", "n_kept", "trimmed_mean",
        F.col("lo").alias("lo_cut"), F.col("hi").alias("hi_cut"),
    )


@query(
    "peak_activity_cell",
    oracle=f"""
    WITH cells AS (
        SELECT event_type,
               CAST(isodow(ts) AS BIGINT) AS iso_dow,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2, 3)
    SELECT event_type,
           arg_max(iso_dow, n * 1000 - (iso_dow * 24 + hr)) AS peak_dow,
           arg_max(hr, n * 1000 - (iso_dow * 24 + hr)) AS peak_hr,
           CAST(MAX(n) AS BIGINT) AS peak_n
    FROM cells GROUP BY event_type
    """,
)
def peak_activity_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak activity cell per metric — `activity_heatmap`'s grid reduced
    to its answer ('WHEN is each event type busiest'): two chained
    keyed aggregates, the second carrying the argmax cell out via
    max_by on a composite key (count scaled, earliest cell breaks
    ties — the `argmax_per_group` tie discipline applied to a derived
    grid instead of raw rows). No window, no broadcast, no join; the
    grid is ≤ 7×24 cells per type so the second agg is bounded at any
    corpus size."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        (((F.dayofweek("ts") + 5) % 7) + 1).cast("long").alias("iso_dow"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(F.count("*").alias("n"))
    key = F.col("n") * 1000 - (F.col("iso_dow") * 24 + F.col("hr"))
    return cells.groupBy("event_type").agg(
        F.max_by("iso_dow", key).alias("peak_dow"),
        F.max_by("hr", key).alias("peak_hr"),
        F.max("n").alias("peak_n"),
    )


ROLLING_DISTINCT_DAYS = 7


@query(
    "rolling_distinct_users_7d",
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(FLOOR({EPOCH_TS} / 86400) AS BIGINT) AS day
        FROM events),
    days AS (SELECT DISTINCT day FROM ud),
    contrib AS (
        SELECT ud.user_id, d.day
        FROM ud JOIN days d
          ON d.day BETWEEN ud.day AND ud.day + {ROLLING_DISTINCT_DAYS} - 1)
    SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS uniques_7d
    FROM contrib GROUP BY day
    """,
)
def rolling_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X239: trailing-{ROLLING_DISTINCT_DAYS}-day distinct users per day
    (rolling WAU/MAU) — the metric a RANGE window cannot produce because
    COUNT(DISTINCT) is not a window aggregate. The scalable shape:
    collapse events to distinct (user, day) pairs first (the only
    data-sized reduction), then EXPLODE each pair to the
    {ROLLING_DISTINCT_DAYS} window days it contributes to (an in-row
    `sequence`, ×{ROLLING_DISTINCT_DAYS} fan-out of the already-collapsed
    pairs, NOT of raw events), and finish with one day-keyed distinct
    count. Cost is {ROLLING_DISTINCT_DAYS}·|user-days| — at 100 TB swap
    the exact final count for `approx_count_distinct` or the mergeable
    HLL sketches of `hll_sketch_rollup` and the shape is unchanged. The
    oracle keeps only observed days (the engine's explode is bounded to
    the days table by a semi join)."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    ).distinct()
    days = ud.select("day").distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.col("day") + F.lit(ROLLING_DISTINCT_DAYS - 1)
            )
        ).alias("day"),
    ).join(days, "day", "left_semi")
    return contrib.groupBy("day").agg(
        F.countDistinct("user_id").alias("uniques_7d")
    )


@query(
    "session_entropy",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY user_id, event_type),
    u AS (
        SELECT user_id,
               CAST(SUM(c) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               SUM(c * log2(CAST(c AS DOUBLE))) AS s
        FROM c GROUP BY user_id)
    SELECT user_id, n_events, n_types,
           ROUND(log2(CAST(n_events AS DOUBLE))
                 - s / CAST(n_events AS DOUBLE), 6) AS entropy_bits
    FROM u
    """,
)
def session_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X243: per-user Shannon entropy of the event-type mix — the
    behavioral-diversity feature (specialist vs generalist users) that
    feeds recommender exploration policies and bot screens (a scripted
    client has near-zero entropy; organic browsing doesn't). Algebra is
    the numerically honest factoring H = log2(n) − Σcᵢ·log2(cᵢ)/n: every
    log2 argument is an exact INTEGER count (identical bit pattern on
    both engines), the per-user sum runs over ≤|event types| ≈ 5 terms
    (ULP noise orders below the ROUND 6 emission), and no p=c/n division
    happens before the single final one. Two chained keyed aggregates —
    the first collapses events to |users|×|types| rows map-side, the
    second to |users| — zero joins, zero windows; at 100 TB this is a
    scan plus two combine-friendly shuffles of tiny key spaces."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    return (
        c.groupBy("user_id")
        .agg(
            F.sum("c").alias("n_events"),
            F.count("*").alias("n_types"),
            F.sum(F.col("c") * F.log2(F.col("c").cast("double"))).alias("s"),
        )
        .select(
            "user_id",
            "n_events",
            "n_types",
            F.round(
                F.log2(F.col("n_events").cast("double"))
                - F.col("s") / F.col("n_events").cast("double"),
                6,
            ).alias("entropy_bits"),
        )
    )


COVISIT_WINDOW_S = 900  # 15-minute co-visitation window


@query(
    "covisitation_timebound",
    oracle=f"""
    WITH e AS (
        SELECT user_id,
               CAST(json_extract(props, '$.k') AS BIGINT) AS item,
               {EPOCH_TS} AS sec
        FROM events)
    SELECT a.item AS item_a, b.item AS item_b,
           CAST(COUNT(*) AS BIGINT) AS n_covisits,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM e a JOIN e b
      ON a.user_id = b.user_id
     AND a.item < b.item
     AND b.sec BETWEEN a.sec - {COVISIT_WINDOW_S} AND a.sec + {COVISIT_WINDOW_S}
    GROUP BY a.item, b.item
    """,
)
def covisitation_timebound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X246: time-bounded co-visitation counts — the candidate-generation
    matrix behind "people who viewed X soon viewed Y" recommenders
    (co-visitation with a 15-min proximity constraint, not whole-history
    co-occurrence: temporal locality IS the signal, and it also bounds
    the work per user). The naive per-user event self-join is quadratic
    in user history; here both sides bucket to ⌊sec/900⌋ and the LEFT
    side expands to {b−1, b, b+1} in-row (a 3-array explode — the
    join_range_bucketized move; any in-window pair differs by at most one
    bucket, and the three keys are distinct so it lands exactly once),
    making the join a pure EQUI join on
    (user, bucket) whose candidate pairs are only same-or-adjacent-bucket
    events; the exact |Δt| ≤ 900 filter then prunes. At 100 TB the
    shuffle carries (user, bucket) keys, pair work is bounded by events
    per 30-min of any one user, and the final pair aggregate is
    combine-friendly. The item pair is oriented (item_a < item_b) so each
    unordered event pair lands exactly once."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.get_json_object("props", "$.k").cast("long").alias("item"),
        F.unix_timestamp("ts").alias("sec"),
    )
    b = (F.col("sec") / COVISIT_WINDOW_S).cast("long")
    left = ev.select(
        F.col("user_id").alias("u"),
        F.col("item").alias("item_a"),
        F.col("sec").alias("sec_a"),
        F.explode(F.array(b - 1, b, b + 1)).alias("bk"),
    )
    right = ev.select(
        F.col("user_id").alias("u"),
        F.col("item").alias("item_b"),
        F.col("sec").alias("sec_b"),
        b.alias("bk"),
    )
    pairs = left.join(right, ["u", "bk"]).filter(
        (F.col("item_a") < F.col("item_b"))
        & (F.col("sec_b") >= F.col("sec_a") - COVISIT_WINDOW_S)
        & (F.col("sec_b") <= F.col("sec_a") + COVISIT_WINDOW_S)
    )
    return pairs.groupBy("item_a", "item_b").agg(
        F.count("*").alias("n_covisits"),
        F.countDistinct("u").alias("n_users"),
    )


@query(
    "quantile_normalize",
    oracle="""
    WITH src AS (
        SELECT c_nationkey AS grp,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer),
    gh AS (SELECT grp, cents, CAST(COUNT(*) AS BIGINT) AS c
           FROM src GROUP BY grp, cents),
    gcum AS (SELECT grp, cents,
                    SUM(c) OVER (PARTITION BY grp ORDER BY cents) AS r,
                    SUM(c) OVER (PARTITION BY grp) AS ng
             FROM gh),
    h AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS c FROM src GROUP BY cents),
    g AS (SELECT cents AS gval,
                 SUM(c) OVER (ORDER BY cents) AS hi,
                 SUM(c) OVER (ORDER BY cents) - c + 1 AS lo
          FROM h),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM src),
    probe AS (SELECT grp, cents, r, ng,
                     (r * (SELECT n FROM nn) + ng - 1) // ng AS t
              FROM gcum)
    SELECT p.grp, p.cents AS orig_cents,
           CAST(p.r AS BIGINT) AS rank_in_grp,
           CAST(p.ng AS BIGINT) AS n_grp,
           g.gval AS qnorm_cents
    FROM probe p JOIN g ON p.t BETWEEN g.lo AND g.hi
    """,
)
def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X250: quantile normalization — map each group's value distribution
    onto the GLOBAL distribution (the cross-sample calibration standard
    from genomics/feature preprocessing, here: each nation's account
    balances re-expressed as the global balance at the same within-group
    rank fraction). Entirely INTEGER arithmetic: rank targets are
    ceil(r·N/n_g) = (r·N + n_g − 1) DIV n_g and values stay exact cents —
    zero float surface. Physical design has the two classic 100 TB traps
    and dodges both: (a) the GLOBAL cumulative distribution is a
    :func:`block_offsets` running sum over the value histogram — never a
    single-partition ORDER BY window; (b) the
    rank→value lookup is an interval join (positions tile [1..N]
    disjointly) executed as a bucketized EQUI join: each global interval
    explodes to its ⌈span/W⌉ buckets (amortized N/W + |values| rows), the
    probe hashes to one bucket. Output is histogram-compressed (one row
    per distinct (group, value))."""
    src = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("grp"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    gh = src.groupBy("grp", "cents").agg(F.count("*").alias("c"))
    wg = W.partitionBy("grp").orderBy("cents")
    gcum = gh.select(
        "grp",
        "cents",
        F.sum("c").over(wg).alias("r"),
        F.sum("c").over(W.partitionBy("grp")).alias("ng"),
    )
    h = src.groupBy("cents").agg(F.count("*").alias("c"))
    blocks, wl, totals = block_offsets(h, "cents", sums=("c",))
    n_total = totals["_off_c"]
    g = blocks.withColumn("_lcum", F.sum("c").over(wl)).select(
        F.col("cents").alias("gval"),
        (F.col("_off_c") + F.col("_lcum")).alias("hi"),
        (F.col("_off_c") + F.col("_lcum") - F.col("c") + 1).alias("lo"),
    )
    # bucketized interval join: W_B positions per bucket
    wb = max(1, n_total // 512)
    probe = gcum.withColumn(
        "t", F.expr(f"(r * {n_total} + ng - 1) DIV ng")
    ).withColumn("bk", F.expr(f"(t - 1) DIV {wb}"))
    build = g.withColumn(
        "bk", F.explode(F.sequence(F.expr(f"(lo - 1) DIV {wb}"), F.expr(f"(hi - 1) DIV {wb}")))
    )
    return (
        probe.join(build, "bk")
        .filter((F.col("t") >= F.col("lo")) & (F.col("t") <= F.col("hi")))
        .select(
            "grp",
            F.col("cents").alias("orig_cents"),
            F.col("r").alias("rank_in_grp"),
            F.col("ng").alias("n_grp"),
            F.col("gval").alias("qnorm_cents"),
        )
    )


FUNNEL_STEPS = [("view", 0), ("click", 3600), ("purchase", 7200)]


@query(
    "funnel_step_deadlines",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, {EPOCH_TS} AS sec FROM events),
    t1 AS (SELECT user_id, MIN(sec) AS s FROM e
           WHERE event_type = 'view' GROUP BY user_id),
    t2 AS (SELECT e.user_id, MIN(e.sec) AS s
           FROM e JOIN t1 ON e.user_id = t1.user_id
           WHERE e.event_type = 'click'
             AND e.sec >= t1.s AND e.sec <= t1.s + 3600
           GROUP BY e.user_id),
    t3 AS (SELECT e.user_id, MIN(e.sec) AS s
           FROM e JOIN t2 ON e.user_id = t2.user_id
           WHERE e.event_type = 'purchase'
             AND e.sec >= t2.s AND e.sec <= t2.s + 7200
           GROUP BY e.user_id),
    c AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM t1) AS n1,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM t2) AS n2,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM t3) AS n3)
    SELECT 'view' AS step, n1 AS n_users, CAST(1 AS DOUBLE) AS conv_rate
    FROM c
    UNION ALL
    SELECT 'click', n2,
           ROUND(CAST(n2 AS DOUBLE) / NULLIF(n1, 0), 6) FROM c
    UNION ALL
    SELECT 'purchase', n3,
           ROUND(CAST(n3 AS DOUBLE) / NULLIF(n2, 0), 6) FROM c
    """,
)
def funnel_step_deadlines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X251: funnel with PER-STEP DEADLINES — view → click within 1 h →
    purchase within 2 h of the click. funnel_conversion (X37) counts
    ever-ordered steps; real product funnels expire (an attribution
    window), which changes both the numbers and the shape: each step's
    earliest qualifying time depends on the PREVIOUS step's, so the
    computation is a chain of keyed aggregates — min(view) per user,
    then min(click) within the window anchored at it, then
    min(purchase) — each one user-keyed agg + one user-keyed join of
    dimension-sized frames (no event self-join, no window function; the
    naive per-user event cross-product is quadratic in history).
    Division guards (NULLIF) keep empty funnels NULL on both engines.
    At 100 TB the events table is scanned once per step with the type
    filter pushed down, and everything after the first agg is
    |users|-sized."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("sec")
    )
    t1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("sec").alias("s1"))
    )
    t2 = (
        e.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter((F.col("sec") >= F.col("s1")) & (F.col("sec") <= F.col("s1") + 3600))
        .groupBy("user_id")
        .agg(F.min("sec").alias("s2"))
    )
    t3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter((F.col("sec") >= F.col("s2")) & (F.col("sec") <= F.col("s2") + 7200))
        .groupBy("user_id")
        .agg(F.min("sec").alias("s3"))
    )
    c = (
        t1.agg(F.count("*").alias("n1"))
        .crossJoin(F.broadcast(t2.agg(F.count("*").alias("n2"))))
        .crossJoin(F.broadcast(t3.agg(F.count("*").alias("n3"))))
    )
    return c.selectExpr(
        "stack(3,"
        " 'view', n1, CAST(1 AS DOUBLE),"
        " 'click', n2, ROUND(CAST(n2 AS DOUBLE) / NULLIF(n1, 0), 6),"
        " 'purchase', n3, ROUND(CAST(n3 AS DOUBLE) / NULLIF(n2, 0), 6))"
        " AS (step, n_users, conv_rate)"
    )


# X253 determinism note: both engines evaluate the IDENTICAL Cramer
# expression text over sufficient statistics that are EXACT integers
# (every sum fits double's 2^53 integer range, or is carried in
# decimal/hugeint first and converted once), so the float arithmetic is
# bit-identical by construction.
@query(
    "grouped_ols_2var",
    oracle="""
    WITH src AS (
        SELECT o_orderpriority AS grp,
               CAST(FLOOR(l_quantity) AS BIGINT) AS q,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS d,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    s AS (
        SELECT grp,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(q) AS DOUBLE) AS sq,
               CAST(SUM(d) AS DOUBLE) AS sd,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(q * q) AS DOUBLE) AS sqq,
               CAST(SUM(d * d) AS DOUBLE) AS sdd,
               CAST(SUM(q * d) AS DOUBLE) AS sqd,
               CAST(SUM(q * y) AS DOUBLE) AS sqy,
               CAST(SUM(d * y) AS DOUBLE) AS sdy,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM src GROUP BY grp),
    f AS (
        SELECT grp, n_rows, n, sq, sd, sy, sqq, sdd, sqd, sqy, sdy, syy,
               (n * (sqq * sdd - sqd * sqd)
                - sq * (sq * sdd - sqd * sd)
                + sd * (sq * sqd - sqq * sd)) AS det
        FROM s)
    SELECT grp, n_rows,
           ROUND((sy * (sqq * sdd - sqd * sqd)
                  - sq * (sqy * sdd - sqd * sdy)
                  + sd * (sqy * sqd - sqq * sdy)) / det, 6) AS b0,
           ROUND((n * (sqy * sdd - sqd * sdy)
                  - sy * (sq * sdd - sqd * sd)
                  + sd * (sq * sdy - sqy * sd)) / det, 6) AS b1,
           ROUND((n * (sqq * sdy - sqy * sqd)
                  - sq * (sq * sdy - sqy * sd)
                  + sy * (sq * sqd - sqq * sd)) / det, 6) AS b2,
           ROUND(1 - (syy
                      - ((sy * (sqq * sdd - sqd * sqd)
                          - sq * (sqy * sdd - sqd * sdy)
                          + sd * (sqy * sqd - sqq * sdy)) / det) * sy
                      - ((n * (sqy * sdd - sqd * sdy)
                          - sy * (sq * sdd - sqd * sd)
                          + sd * (sq * sdy - sqy * sd)) / det) * sqy
                      - ((n * (sqq * sdy - sqy * sqd)
                          - sq * (sq * sdy - sqy * sd)
                          + sy * (sq * sqd - sqq * sd)) / det) * sdy)
                     / (syy - sy * sy / n), 6) AS r2
    FROM f
    """,
)
def grouped_ols_2var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X253: per-group TWO-regressor OLS (revenue cents on quantity and
    discount basis points) solved in closed form from the 3×3 normal
    equations via Cramer's rule — the multivariate step past
    trend_linear_fit's single regressor, and the shape a feature-
    attribution pass runs per segment at 100 TB: ONE combine-friendly
    keyed aggregate collecting the 10 sufficient statistics, then pure
    per-group scalar arithmetic (the matrix solve never touches the
    cluster). Determinism: every sufficient statistic is an EXACT
    integer (Σy² carried in decimal/hugeint — cents² × 600k rows
    overflows int64 — then converted once), and both engines evaluate
    the IDENTICAL Cramer expression text over those exact doubles, so
    the emitted coefficients agree bit-for-bit before the ROUND 6. R²
    from the same statistics: 1 − SSE/SST with SSE expanded in sums (no
    second data pass)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    src = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("grp"),
        F.floor("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    s = src.groupBy("grp").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("q").cast("double").alias("sq"),
        F.sum("d").cast("double").alias("sd"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("q") * F.col("q")).cast("double").alias("sqq"),
        F.sum(F.col("d") * F.col("d")).cast("double").alias("sdd"),
        F.sum(F.col("q") * F.col("d")).cast("double").alias("sqd"),
        F.sum(F.col("q") * F.col("y")).cast("double").alias("sqy"),
        F.sum(F.col("d") * F.col("y")).cast("double").alias("sdy"),
        F.sum(
            (F.col("y").cast("decimal(38,0)") * F.col("y")).cast("decimal(38,0)")
        ).cast("double").alias("syy"),
        F.count("*").alias("n_rows"),
    )
    det = (
        F.col("n") * (F.col("sqq") * F.col("sdd") - F.col("sqd") * F.col("sqd"))
        - F.col("sq") * (F.col("sq") * F.col("sdd") - F.col("sqd") * F.col("sd"))
        + F.col("sd") * (F.col("sq") * F.col("sqd") - F.col("sqq") * F.col("sd"))
    )
    b0 = (
        F.col("sy") * (F.col("sqq") * F.col("sdd") - F.col("sqd") * F.col("sqd"))
        - F.col("sq") * (F.col("sqy") * F.col("sdd") - F.col("sqd") * F.col("sdy"))
        + F.col("sd") * (F.col("sqy") * F.col("sqd") - F.col("sqq") * F.col("sdy"))
    ) / F.col("det")
    b1 = (
        F.col("n") * (F.col("sqy") * F.col("sdd") - F.col("sqd") * F.col("sdy"))
        - F.col("sy") * (F.col("sq") * F.col("sdd") - F.col("sqd") * F.col("sd"))
        + F.col("sd") * (F.col("sq") * F.col("sdy") - F.col("sqy") * F.col("sd"))
    ) / F.col("det")
    b2 = (
        F.col("n") * (F.col("sqq") * F.col("sdy") - F.col("sqy") * F.col("sqd"))
        - F.col("sq") * (F.col("sq") * F.col("sdy") - F.col("sqy") * F.col("sd"))
        + F.col("sy") * (F.col("sq") * F.col("sqd") - F.col("sqq") * F.col("sd"))
    ) / F.col("det")
    r2 = 1 - (
        F.col("syy") - b0 * F.col("sy") - b1 * F.col("sqy") - b2 * F.col("sdy")
    ) / (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
    return s.withColumn("det", det).select(
        "grp",
        "n_rows",
        F.round(b0, 6).alias("b0"),
        F.round(b1, 6).alias("b1"),
        F.round(b2, 6).alias("b2"),
        F.round(r2, 6).alias("r2"),
    )


XCORR_MAX_LAG = 7


@query(
    "daily_crosscorr_lags",
    oracle=f"""
    WITH e AS (SELECT event_type, {EPOCH_TS} // 86400 AS day FROM events),
    v AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS x FROM e
          WHERE event_type = 'view' GROUP BY day),
    p AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS y FROM e
          WHERE event_type = 'purchase' GROUP BY day),
    lags AS (SELECT UNNEST(range(-{XCORR_MAX_LAG}, {XCORR_MAX_LAG + 1})) AS lag),
    j AS (SELECT l.lag, v.x, p.y
          FROM lags l JOIN v ON TRUE JOIN p ON p.day = v.day + l.lag),
    s AS (SELECT lag,
                 CAST(COUNT(*) AS BIGINT) AS n_days,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(x) AS DOUBLE) AS sx,
                 CAST(SUM(y) AS DOUBLE) AS sy,
                 CAST(SUM(x * x) AS DOUBLE) AS sxx,
                 CAST(SUM(y * y) AS DOUBLE) AS syy,
                 CAST(SUM(x * y) AS DOUBLE) AS sxy
          FROM j GROUP BY lag)
    SELECT CAST(lag AS INT) AS lag, n_days,
           ROUND((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
               AS xcorr
    FROM s
    """,
)
def daily_crosscorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X254: lead–lag cross-correlation between two daily event series
    (views vs purchases at lags −{XCORR_MAX_LAG}..+{XCORR_MAX_LAG}) — the
    standard "does activity LEAD conversions, and by how many days"
    diagnostic behind marketing-mix and capacity models. The series
    collapse to |days| integer counts FIRST (two keyed aggs of the fact
    scan), so the lag sweep is a {2 * XCORR_MAX_LAG + 1}-row literal dim
    broadcast against the tiny day table, one shifted-day equi join, and
    a per-lag aggregate of exact integer sums — Pearson arithmetic
    happens once per lag over sums that are all exactly representable,
    with both engines evaluating the identical expression. At 100 TB the
    only data-sized work is the two initial aggregates."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", (F.unix_timestamp("ts") / 86400).cast("long").alias("day")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("day")
        .agg(F.count("*").alias("x"))
        .select(F.col("day").alias("vday"), "x")
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("day")
        .agg(F.count("*").alias("y"))
        .select(F.col("day").alias("pday"), "y")
    )
    lags = spark.range(-XCORR_MAX_LAG, XCORR_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    j = (
        v.crossJoin(F.broadcast(lags))
        .join(p, F.col("pday") == F.col("vday") + F.col("lag"))
        .select("lag", "x", "y")
    )
    s = j.groupBy("lag").agg(
        F.count("*").alias("n_days"),
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    xcorr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select("lag", "n_days", F.round(xcorr, 6).alias("xcorr"))


CHG_MIN_SEG = 30  # minimum days on each side of a candidate breakpoint

# Shared centered-sum SSE text for X257: sse(n,sx,sy,sxx,syy,sxy) of the
# best-fit line over a segment, from exact integer sums converted once.
_SEG_SSE = (
    "(({syy} - {sy} * {sy} / {n}) - "
    "({sxy} - {sx} * {sy} / {n}) * ({sxy} - {sx} * {sy} / {n})"
    " / ({sxx} - {sx} * {sx} / {n}))"
)


@query(
    "revenue_changepoint_fit",
    oracle=f"""
    WITH d AS (
        SELECT CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400 AS x,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1),
    p AS (
        SELECT x, y,
               CAST(COUNT(*) OVER w AS DOUBLE) AS n1,
               CAST(SUM(x) OVER w AS DOUBLE) AS sx1,
               CAST(SUM(y) OVER w AS DOUBLE) AS sy1,
               CAST(SUM(x * x) OVER w AS DOUBLE) AS sxx1,
               CAST(SUM(CAST(y AS HUGEINT) * y) OVER w AS DOUBLE) AS syy1,
               CAST(SUM(x * y) OVER w AS DOUBLE) AS sxy1
        FROM d WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)),
    t AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy
        FROM d),
    c AS (
        SELECT p.x AS break_day, p.n1 AS nl,
               {_SEG_SSE.format(n='p.n1', sx='p.sx1', sy='p.sy1',
                                sxx='p.sxx1', syy='p.syy1', sxy='p.sxy1')}
               + {_SEG_SSE.format(n='(t.n - p.n1)', sx='(t.sx - p.sx1)',
                                  sy='(t.sy - p.sy1)', sxx='(t.sxx - p.sxx1)',
                                  syy='(t.syy - p.syy1)', sxy='(t.sxy - p.sxy1)')}
                   AS sse_split,
               ((p.sxy1 - p.sx1 * p.sy1 / p.n1)
                / (p.sxx1 - p.sx1 * p.sx1 / p.n1)) AS slope_left,
               (((t.sxy - p.sxy1) - (t.sx - p.sx1) * (t.sy - p.sy1) / (t.n - p.n1))
                / ((t.sxx - p.sxx1) - (t.sx - p.sx1) * (t.sx - p.sx1) / (t.n - p.n1)))
                   AS slope_right,
               {_SEG_SSE.format(n='t.n', sx='t.sx', sy='t.sy',
                                sxx='t.sxx', syy='t.syy', sxy='t.sxy')}
                   AS sse_single
        FROM p CROSS JOIN t
        WHERE p.n1 >= {CHG_MIN_SEG} AND t.n - p.n1 >= {CHG_MIN_SEG})
    SELECT break_day, CAST(nl AS BIGINT) AS n_left,
           ROUND(slope_left / 100, 6) AS slope_left_dollars,
           ROUND(slope_right / 100, 6) AS slope_right_dollars,
           ROUND(1 - sse_split / sse_single, 6) AS sse_reduction
    FROM c ORDER BY sse_split, break_day LIMIT 1
    """,
)
def revenue_changepoint_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X257: segmented-regression changepoint — fit daily revenue with
    TWO lines split at the breakpoint minimizing total SSE (the "did the
    trend change, and when" question behind launch/regression analyses;
    the exhaustive one-breakpoint special case of PELT-style detection).
    The whole sweep costs ONE pass of prefix sufficient statistics: each
    candidate's left segment reads the prefix sums at its row, the right
    segment is total − prefix, and the SSE closed form (centered sums)
    needs no residual pass — so evaluating EVERY candidate is O(|days|)
    rows of scalar arithmetic, not |days| regression fits. Sums are
    exact integers (Σy² via decimal/hugeint); both engines evaluate the
    same centered-sum text; the winner is picked by (sse, day) so float
    ties cannot flap. The day series is bounded (|days| rows), so the
    prefix window runs on the collapsed table — the fact scan does one
    keyed day aggregate and is done."""
    d = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.expr("CAST(FLOOR(unix_timestamp(o_orderdate)) AS BIGINT) DIV 86400").alias("x")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y")
        )
    )
    # bounded |days| table: the single-partition prefix window is explicit
    # and documented (pmod partition key per house convention)
    wp = W.partitionBy(F.pmod(F.col("x"), F.lit(1))).orderBy("x").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    p = d.select(
        "x",
        "y",
        F.count("*").over(wp).cast("double").alias("n1"),
        F.sum("x").over(wp).cast("double").alias("sx1"),
        F.sum("y").over(wp).cast("double").alias("sy1"),
        F.sum(F.col("x") * F.col("x")).over(wp).cast("double").alias("sxx1"),
        F.sum((F.col("y").cast("decimal(38,0)") * F.col("y")).cast("decimal(38,0)"))
        .over(wp)
        .cast("double")
        .alias("syy1"),
        F.sum(F.col("x") * F.col("y")).over(wp).cast("double").alias("sxy1"),
    )
    t = d.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum((F.col("y").cast("decimal(38,0)") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )

    def sse(n, sx, sy, sxx, syy, sxy):
        return (syy - sy * sy / n) - (sxy - sx * sy / n) * (sxy - sx * sy / n) / (
            sxx - sx * sx / n
        )

    c = p.crossJoin(F.broadcast(t)).filter(
        (F.col("n1") >= CHG_MIN_SEG) & (F.col("n") - F.col("n1") >= CHG_MIN_SEG)
    )
    nl, sxl, syl, sxxl, syyl, sxyl = (
        F.col("n1"), F.col("sx1"), F.col("sy1"),
        F.col("sxx1"), F.col("syy1"), F.col("sxy1"),
    )
    nr = F.col("n") - nl
    sxr, syr = F.col("sx") - sxl, F.col("sy") - syl
    sxxr, syyr, sxyr = (
        F.col("sxx") - sxxl, F.col("syy") - syyl, F.col("sxy") - sxyl,
    )
    sse_split = sse(nl, sxl, syl, sxxl, syyl, sxyl) + sse(
        nr, sxr, syr, sxxr, syyr, sxyr
    )
    slope_l = (sxyl - sxl * syl / nl) / (sxxl - sxl * sxl / nl)
    slope_r = (sxyr - sxr * syr / nr) / (sxxr - sxr * sxr / nr)
    sse_single = sse(
        F.col("n"), F.col("sx"), F.col("sy"),
        F.col("sxx"), F.col("syy"), F.col("sxy"),
    )
    scored = c.select(
        F.col("x").alias("break_day"),
        nl.alias("nl"),
        sse_split.alias("sse_split"),
        slope_l.alias("slope_l"),
        slope_r.alias("slope_r"),
        sse_single.alias("sse_single"),
    )
    return (
        scored.orderBy("sse_split", "break_day")
        .limit(1)
        .select(
            "break_day",
            F.col("nl").cast("long").alias("n_left"),
            F.round(F.col("slope_l") / 100, 6).alias("slope_left_dollars"),
            F.round(F.col("slope_r") / 100, 6).alias("slope_right_dollars"),
            F.round(1 - F.col("sse_split") / F.col("sse_single"), 6).alias(
                "sse_reduction"
            ),
        )
    )


@query(
    "inventory_fifo_matching",
    oracle="""
    WITH base AS (
        SELECT l_partkey, l_linestatus AS st,
               CAST(l_quantity AS BIGINT) AS qty,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cost_cents,
               CAST(FLOOR(epoch(l_shipdate)) AS BIGINT) AS ship_s,
               l_orderkey, l_linenumber
        FROM lineitem),
    sup AS (
        SELECT l_partkey, qty, cost_cents,
               CAST(SUM(qty) OVER (PARTITION BY l_partkey
                    ORDER BY ship_s, l_orderkey, l_linenumber
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
        FROM base WHERE st = 'F'),
    dem AS (
        SELECT l_partkey, qty,
               CAST(SUM(qty) OVER (PARTITION BY l_partkey
                    ORDER BY ship_s, l_orderkey, l_linenumber
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cd
        FROM base WHERE st = 'O'),
    pairs AS (
        SELECT s.l_partkey,
               LEAST(s.cs, d.cd)
                 - GREATEST(s.cs - s.qty, d.cd - d.qty) AS overlap,
               (s.cost_cents
                 * (LEAST(s.cs, d.cd) - GREATEST(s.cs - s.qty, d.cd - d.qty))
                 * 1000) // s.qty AS pair_cogs_milli
        FROM sup s JOIN dem d ON s.l_partkey = d.l_partkey
        WHERE s.cs - s.qty < d.cd AND d.cd - d.qty < s.cs),
    ps AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_lots,
                  CAST(SUM(qty) AS BIGINT) AS supply_qty
           FROM sup GROUP BY 1),
    pdm AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_demands,
                   CAST(SUM(qty) AS BIGINT) AS demand_qty
            FROM dem GROUP BY 1),
    pm AS (SELECT l_partkey, CAST(SUM(overlap) AS BIGINT) AS matched_qty,
                  CAST(SUM(pair_cogs_milli) AS BIGINT) AS cogs_milli
           FROM pairs GROUP BY 1)
    SELECT COALESCE(ps.l_partkey, pdm.l_partkey) AS part_key,
           COALESCE(n_lots, 0) AS n_lots,
           COALESCE(n_demands, 0) AS n_demands,
           COALESCE(supply_qty, 0) AS supply_qty,
           COALESCE(demand_qty, 0) AS demand_qty,
           COALESCE(matched_qty, 0) AS matched_qty,
           COALESCE(supply_qty, 0) - COALESCE(matched_qty, 0)
               AS leftover_supply_qty,
           COALESCE(demand_qty, 0) - COALESCE(matched_qty, 0)
               AS unmatched_demand_qty,
           COALESCE(cogs_milli, 0) AS cogs_milli
    FROM ps FULL JOIN pdm ON ps.l_partkey = pdm.l_partkey
         LEFT JOIN pm ON pm.l_partkey = COALESCE(ps.l_partkey, pdm.l_partkey)
    ORDER BY part_key
    """,
)
def inventory_fifo_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X258: FIFO inventory matching — per part, allocate "open" demand
    lines (l_linestatus='O') against "finished" supply lots ('F') in
    strict ship-date order, yielding matched quantity, leftover stock,
    backordered demand, and FIFO cost-of-goods (the cost basis every
    inventory/tax ledger legally needs; same mechanics as payment-to-
    invoice application). The set-based formulation replaces the
    textbook sequential loop: each side gets a per-part CUMULATIVE
    quantity interval [c_prev, c), and lot i supplies demand j exactly
    where the intervals overlap — so the allocation is ONE keyed
    equi-join on partkey with two range predicates, and a chain of at
    most n_s + n_d − 1 pairs survives per part. All quantities are
    exact integers; per-pair COGS is scaled-integer arithmetic
    ((cost_cents · overlap · 1000) DIV lot_qty) so both engines agree
    bit-for-bit with no float sums anywhere. Scale: windows and the
    join are all partkey-keyed (no global ordering); per-part line
    counts are bounded by the schema (TPC-H ~30/part), so the join
    fanout is data-bounded and the whole plan is two keyed windows +
    one keyed join + keyed aggregates — shuffle count stays constant
    at any corpus size."""
    base = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_linestatus").alias("st"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cost_cents"),
        F.expr("CAST(FLOOR(unix_timestamp(l_shipdate)) AS BIGINT)").alias("ship_s"),
        "l_orderkey",
        "l_linenumber",
    )
    w = W.partitionBy("l_partkey").orderBy(
        "ship_s", "l_orderkey", "l_linenumber"
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    sup = (
        base.filter(F.col("st") == "F")
        .select(
            "l_partkey",
            F.col("qty").alias("s_qty"),
            "cost_cents",
            F.sum("qty").over(w).alias("cs"),
        )
    )
    dem = (
        base.filter(F.col("st") == "O")
        .select(
            F.col("l_partkey").alias("d_partkey"),
            F.col("qty").alias("d_qty"),
            F.sum("qty").over(w).alias("cd"),
        )
    )
    overlap = F.least(F.col("cs"), F.col("cd")) - F.greatest(
        F.col("cs") - F.col("s_qty"), F.col("cd") - F.col("d_qty")
    )
    pairs = (
        sup.join(
            dem,
            on=[
                F.col("l_partkey") == F.col("d_partkey"),
                F.col("cs") - F.col("s_qty") < F.col("cd"),
                F.col("cd") - F.col("d_qty") < F.col("cs"),
            ],
        )
        .select(
            F.col("l_partkey"),
            overlap.alias("overlap"),
            F.expr(
                "(cost_cents * (least(cs, cd) - greatest(cs - s_qty, cd - d_qty))"
                " * 1000) DIV s_qty"
            ).alias("pair_cogs_milli"),
        )
    )
    ps = sup.groupBy("l_partkey").agg(
        F.count("*").alias("n_lots"), F.sum("s_qty").alias("supply_qty")
    )
    pdm = (
        dem.groupBy("d_partkey")
        .agg(F.count("*").alias("n_demands"), F.sum("d_qty").alias("demand_qty"))
        .withColumnRenamed("d_partkey", "l_partkey")
    )
    pm = pairs.groupBy("l_partkey").agg(
        F.sum("overlap").alias("matched_qty"),
        F.sum("pair_cogs_milli").alias("cogs_milli"),
    )
    out = (
        ps.join(pdm, "l_partkey", "full")
        .join(pm, "l_partkey", "left")
        .select(
            F.col("l_partkey").alias("part_key"),
            F.coalesce("n_lots", F.lit(0)).alias("n_lots"),
            F.coalesce("n_demands", F.lit(0)).alias("n_demands"),
            F.coalesce("supply_qty", F.lit(0)).alias("supply_qty"),
            F.coalesce("demand_qty", F.lit(0)).alias("demand_qty"),
            F.coalesce("matched_qty", F.lit(0)).alias("matched_qty"),
            (
                F.coalesce("supply_qty", F.lit(0))
                - F.coalesce("matched_qty", F.lit(0))
            ).alias("leftover_supply_qty"),
            (
                F.coalesce("demand_qty", F.lit(0))
                - F.coalesce("matched_qty", F.lit(0))
            ).alias("unmatched_demand_qty"),
            F.coalesce("cogs_milli", F.lit(0)).alias("cogs_milli"),
        )
        .orderBy("part_key")
    )
    return out


L3_MIN_ORDERS = 2  # minimum co-order support for a 3-itemset


@query(
    "frequent_itemsets_l3",
    oracle=f"""
    WITH baskets AS (
        SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS items
        FROM lineitem GROUP BY l_orderkey
        HAVING COUNT(DISTINCT l_partkey) >= 3),
    -- staged per-row index explosion (i < j < k by construction): the
    -- relational triple self-join form made DuckDB pick a GLOBAL
    -- piecewise-merge join on the partkey inequality alone — O(n^2) at
    -- sf0.1 (~50 CPU-minutes); this basket form mirrors the engine's
    -- in-row HOF generation and stays linear in orders
    b1 AS (SELECT l_orderkey, items,
                  UNNEST(range(1, len(items) + 1)) AS gi
           FROM baskets),
    b2 AS (SELECT l_orderkey, items, gi,
                  UNNEST(range(gi + 1, len(items) + 1)) AS gj
           FROM b1),
    b3 AS (SELECT l_orderkey, items, gi, gj,
                  UNNEST(range(gj + 1, len(items) + 1)) AS gk
           FROM b2),
    cnt AS (
        SELECT items[gi] AS item_a, items[gj] AS item_b, items[gk] AS item_c,
               CAST(COUNT(*) AS BIGINT) AS n_orders_together
        FROM b3 GROUP BY 1, 2, 3),
    tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
            FROM lineitem)
    SELECT item_a, item_b, item_c, n_orders_together,
           ROUND(CAST(n_orders_together AS DOUBLE) / n_orders, 6) AS support
    FROM cnt CROSS JOIN tot
    WHERE n_orders_together >= {L3_MIN_ORDERS}
    ORDER BY item_a, item_b, item_c
    """,
)
def frequent_itemsets_l3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X276: frequent 3-itemsets (the Apriori L3 step past basket_lift's
    pairs) — "these THREE items sell together", the bundle-mining
    primitive pair lift can't see (a pair can lift while the triple is
    noise). The engine NEVER self-joins the fact twice (the oracle's
    cubic form): baskets collapse to per-order sorted distinct item
    ARRAYS first (one keyed agg), then every C(k,3) triple generates
    IN-ROW via nested sequence/transform HOFs — per-basket work is
    schema-bounded (k ≤ ~7 lines/order ⇒ ≤ 35 triples), so the explode
    is linear in orders, and ONE triple-keyed count finishes. Support
    denominates over all orders via a 1-row broadcast. At 100 TB
    basket size stays schema-bounded, so this plan's cost is one scan
    + one keyed agg + one keyed count — the Apriori candidate
    generation without a candidate join."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
        .filter(F.size("items") >= 3)
    )
    triples = baskets.select(
        F.explode(
            F.expr(
                "flatten(flatten("
                "transform(sequence(1, size(items) - 2), i -> "
                "  transform(sequence(i + 1, size(items) - 1), j -> "
                "    transform(sequence(j + 1, size(items)), k -> "
                "      struct(items[i - 1] AS item_a, items[j - 1] AS item_b,"
                "             items[k - 1] AS item_c))))))"
            )
        ).alias("t")
    ).select("t.item_a", "t.item_b", "t.item_c")
    cnt = (
        triples.groupBy("item_a", "item_b", "item_c")
        .agg(F.count("*").alias("n_orders_together"))
        .filter(F.col("n_orders_together") >= L3_MIN_ORDERS)
    )
    tot = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "item_a",
            "item_b",
            "item_c",
            "n_orders_together",
            F.round(
                F.col("n_orders_together").cast("double") / F.col("n_orders"), 6
            ).alias("support"),
        )
        .orderBy("item_a", "item_b", "item_c")
    )


DP_EPSILON_INV = 1  # Laplace scale b = 1/epsilon (epsilon = 1)


@query(
    "dp_noisy_counts",
    oracle=f"""
    WITH g AS (
        SELECT event_type,
               CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    u AS (
        SELECT event_type, day, n,
               CAST(list_sum(list_transform(range(15), i ->
                   (strpos('0123456789abcdef',
                           substr(md5(event_type || '|' || CAST(day AS VARCHAR)),
                                  CAST(i + 1 AS INT), 1)) - 1)
                   * [{", ".join(str(16 ** (14 - i)) for i in range(15))}][i + 1]))
                    AS DOUBLE) / 1152921504606846976 AS uni
        FROM g)
    SELECT event_type, day, n,
           ROUND(n + CASE WHEN uni >= 0.5
                          THEN -{DP_EPSILON_INV} * LN(2 * (1 - uni))
                          ELSE {DP_EPSILON_INV} * LN(2 * uni) END,
                 6) AS noisy_n
    FROM u ORDER BY event_type, day
    """,
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X278: differentially-private count release — the Laplace
    mechanism (Dwork et al. 2006) over per-(event_type, day) counts
    with sensitivity 1 and ε = 1: the release step a privacy-preserving
    analytics pipeline runs after pii_pseudonymize / text_pii_redact
    have cleaned the rows, completing the privacy family with an
    OUTPUT-side guarantee. The noise draw is the inverse-CDF transform
    of a DETERMINISTIC portable uniform (h60 of the group key / 2⁶⁰ —
    the negative_sampling hash-randomness discipline), so the release
    is reproducible and the oracle recomputes the exact same noise; a
    production deployment swaps the hash for a sealed RNG, changing
    nothing in the plan. Plan: one map-combinable keyed agg to
    |type×day| rows, then in-row scalar noise — the fact scan
    dominates at any volume. The test pins the mechanism's shape:
    noise is centered (mean |noisy−n| ≈ b) and no group is dropped or
    duplicated."""
    from .dedup import h60_spark

    g = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(
                "CAST(FLOOR(unix_timestamp(ts)) AS BIGINT) DIV 86400"
            ).alias("day"),
        )
        .agg(F.count("*").alias("n"))
    )
    uni = h60_spark(
        F.concat(F.col("event_type"), F.lit("|"), F.col("day").cast("string"))
    ).cast("double") / F.lit(float(2**60))
    lap = F.when(
        uni >= 0.5, -DP_EPSILON_INV * F.log(2 * (1 - uni))
    ).otherwise(DP_EPSILON_INV * F.log(2 * uni))
    return g.select(
        "event_type",
        "day",
        "n",
        F.round(F.col("n") + lap, 6).alias("noisy_n"),
    ).orderBy("event_type", "day")


SEQ_PATTERN = "vc*p"  # view, any clicks, purchase — the funnel as a regex


@query(
    "sequence_regex_match",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec, event_id
        FROM events),
    s AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY sec, event_id) AS seq
        FROM e GROUP BY user_id),
    m AS (
        SELECT user_id, seq,
               COALESCE(len(regexp_extract_all(seq, '{SEQ_PATTERN}')), 0)
                   AS n_matches,
               regexp_extract(seq, '{SEQ_PATTERN}') AS first_match
        FROM s)
    SELECT user_id, CAST(LENGTH(seq) AS BIGINT) AS seq_len,
           CAST(n_matches AS BIGINT) AS n_matches,
           CAST(CASE WHEN n_matches > 0 THEN 1 ELSE 0 END AS BIGINT)
               AS matched,
           CAST(CASE WHEN n_matches > 0 THEN LENGTH(first_match)
                     ELSE 0 END AS BIGINT) AS first_match_len,
           CAST(CASE WHEN n_matches > 0 THEN strpos(seq, first_match)
                     ELSE 0 END AS BIGINT) AS first_match_pos
    FROM m ORDER BY user_id
    """,
)
def sequence_regex_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X282: event-sequence pattern matching — MATCH_RECOGNIZE's core
    (row-pattern matching, SQL:2016) for an engine that lacks it: each
    user's event stream collapses to a type-initial string in time
    order, and the behavioral pattern ('{SEQ_PATTERN}' = view, any
    clicks, then purchase) runs as a REGEX against it — leftmost
    non-overlapping semantics, identical in both engines. This
    subsumes funnel_conversion's fixed-stage ordering with full
    regular-language power (alternation, repetition, negation via
    classes) at the cost of one per-user string. first-match position
    via strpos is sound: the regex is anchor-free, so any earlier
    literal occurrence of the matched text would itself have been the
    leftmost match. Plan: ONE user-keyed ordered aggregation
    (array_sort of (sec, event_id, initial) structs → join — no
    window), then in-row regex — per-user work linear in history, the
    string bounded by per-user event counts; at 100 TB the monthly
    partition bound on history length is the only knob."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.struct(
            F.unix_timestamp("ts").alias("sec"),
            F.col("event_id").alias("event_id"),
            F.substring("event_type", 1, 1).alias("c"),
        ).alias("ev"),
    )
    s = (
        e.groupBy("user_id")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(ev)), x -> x.c)"), ""
            ).alias("seq")
        )
    )
    m = s.select(
        "user_id",
        "seq",
        F.expr(f"regexp_count(seq, '{SEQ_PATTERN}')").alias("n_matches"),
        F.regexp_extract("seq", SEQ_PATTERN, 0).alias("first_match"),
    )
    matched = (F.col("n_matches") > 0).cast("long")
    return m.select(
        "user_id",
        F.length("seq").cast("long").alias("seq_len"),
        F.col("n_matches").cast("long").alias("n_matches"),
        matched.alias("matched"),
        F.when(F.col("n_matches") > 0, F.length("first_match"))
        .otherwise(0)
        .cast("long")
        .alias("first_match_len"),
        F.when(F.col("n_matches") > 0, F.instr("seq", F.col("first_match")))
        .otherwise(0)
        .cast("long")
        .alias("first_match_pos"),
    ).orderBy("user_id")


@query(
    "survival_nelson_aalen",
    oracle=f"""
    WITH u AS (SELECT user_id,
                      MIN({EPOCH_TS}) AS first_s,
                      MAX({EPOCH_TS}) AS last_s
               FROM events GROUP BY user_id),
    m AS (SELECT MAX(last_s) AS max_s FROM u),
    d AS (SELECT CAST(FLOOR((last_s - first_s) / {KM_UNIT_S}) AS BIGINT) AS t_day,
                 (last_s >= m.max_s - {KM_CENSOR_WINDOW_S})::INT AS censored
          FROM u CROSS JOIN m),
    g AS (SELECT t_day,
                 CAST(SUM(1 - censored) AS BIGINT) AS d_events,
                 CAST(SUM(censored) AS BIGINT) AS c_censored
          FROM d GROUP BY t_day),
    c AS (SELECT t_day, d_events, c_censored,
                 (SELECT SUM(d_events + c_censored) FROM g)
                 - COALESCE(SUM(d_events + c_censored) OVER (ORDER BY t_day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS n_at_risk
          FROM g)
    SELECT t_day, CAST(n_at_risk AS BIGINT) AS n_at_risk, d_events,
           ROUND(SUM(CAST(d_events AS DOUBLE) / n_at_risk)
                 OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW), 6) AS cum_hazard,
           ROUND(EXP(-SUM(CAST(d_events AS DOUBLE) / n_at_risk)
                 OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW)), 6) AS breslow_survival
    FROM c WHERE d_events > 0
    """,
)
def survival_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X284: Nelson-Aalen cumulative hazard over the same user-lifetime
    risk table as kaplan_meier_retention — H(t) = Σ_{{s≤t}} d_s/n_s and
    the Breslow survival exp(−H): the hazard-side view KM's product
    form hides (hazard is what regression models — Cox — actually fit,
    and H is additive so the estimator composes over disjoint windows,
    which matters for incremental maintenance at scale). Cross-engine
    float parity is ORDER-deterministic: each d/n term is a ratio of
    exact integers (identical doubles) and the running sum is an
    ORDERED window over the bounded lifetime-day table — both engines
    add the same terms in the same order, so the prefix sums are
    bit-identical before the single ROUND. Same plan shape as KM: two
    keyed aggs, pmod windows over the bounded day table, one 1-row
    observation-end broadcast."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.unix_timestamp("ts")).alias("first_s"),
        F.max(F.unix_timestamp("ts")).alias("last_s"),
    )
    m = u.agg(F.max("last_s").alias("max_s"))
    d = u.crossJoin(F.broadcast(m)).select(
        F.floor((F.col("last_s") - F.col("first_s")) / KM_UNIT_S)
        .cast("long")
        .alias("t_day"),
        (F.col("last_s") >= F.col("max_s") - KM_CENSOR_WINDOW_S)
        .cast("int")
        .alias("censored"),
    )
    g = d.groupBy("t_day").agg(
        F.sum(1 - F.col("censored")).alias("d_events"),
        F.sum("censored").alias("c_censored"),
    )
    tot = g.agg(F.sum(F.col("d_events") + F.col("c_censored")).alias("n_tot"))
    w_prev = (
        W.partitionBy(F.pmod(F.col("t_day"), F.lit(1)))
        .orderBy("t_day")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_cum = (
        W.partitionBy(F.pmod(F.col("t_day"), F.lit(1)))
        .orderBy("t_day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = g.crossJoin(F.broadcast(tot)).withColumn(
        "n_at_risk",
        F.col("n_tot")
        - F.coalesce(
            F.sum(F.col("d_events") + F.col("c_censored")).over(w_prev),
            F.lit(0),
        ),
    )
    haz = F.sum(F.col("d_events").cast("double") / F.col("n_at_risk")).over(
        w_cum
    )
    return (
        c.withColumn("cum_hazard_raw", haz)
        .filter(F.col("d_events") > 0)
        .select(
            "t_day",
            F.col("n_at_risk").cast("long").alias("n_at_risk"),
            "d_events",
            F.round("cum_hazard_raw", 6).alias("cum_hazard"),
            F.round(F.exp(-F.col("cum_hazard_raw")), 6).alias(
                "breslow_survival"
            ),
        )
    )


MASE_H = 90  # rolling-origin test horizon: the last H observed days
MASE_SEASON = 7  # seasonal-naive lag


@query(
    "forecast_backtest_mase",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1),
    lagged AS (
        SELECT day, y,
               LAG(y, 1) OVER (ORDER BY day) AS lag1,
               LAG(y, {MASE_SEASON}) OVER (ORDER BY day) AS lag7,
               MAX(day) OVER () AS mx
        FROM daily),
    agg AS (
        SELECT
            CAST(SUM(CASE WHEN day <= mx - {MASE_H} AND lag1 IS NOT NULL
                          THEN ABS(y - lag1) ELSE 0 END) AS BIGINT)
                AS den_sum,
            CAST(SUM(CASE WHEN day <= mx - {MASE_H} AND lag1 IS NOT NULL
                          THEN 1 ELSE 0 END) AS BIGINT) AS den_n,
            CAST(SUM(CASE WHEN day > mx - {MASE_H} AND lag1 IS NOT NULL
                          THEN ABS(y - lag1) ELSE 0 END) AS BIGINT)
                AS naive_sum,
            CAST(SUM(CASE WHEN day > mx - {MASE_H} AND lag1 IS NOT NULL
                          THEN 1 ELSE 0 END) AS BIGINT) AS naive_n,
            CAST(SUM(CASE WHEN day > mx - {MASE_H} AND lag7 IS NOT NULL
                          THEN ABS(y - lag7) ELSE 0 END) AS BIGINT)
                AS snaive_sum,
            CAST(SUM(CASE WHEN day > mx - {MASE_H} AND lag7 IS NOT NULL
                          THEN 1 ELSE 0 END) AS BIGINT) AS snaive_n
        FROM lagged)
    SELECT 'naive' AS method, naive_n AS n_test,
           naive_sum AS sum_abs_err_cents,
           ROUND(CAST(naive_sum AS DOUBLE) * den_n / naive_n / den_sum, 6)
               AS mase
    FROM agg
    UNION ALL
    SELECT 'seasonal_naive', snaive_n, snaive_sum,
           ROUND(CAST(snaive_sum AS DOUBLE) * den_n / snaive_n / den_sum, 6)
    FROM agg
    ORDER BY method
    """,
)
def forecast_backtest_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X294: rolling-origin forecast backtest scored by MASE (Hyndman &
    Koehler 2006) — the scale-free forecast-accuracy report that
    completes the time-series family (holt_linear_forecast predicts,
    revenue_changepoint_fit segments, THIS one says whether any of it
    beats the naive baselines): one-step naive (y[t-1]) and
    seasonal-naive (y[t-7]) forecasts over the last {MASE_H} observed
    days, each error scaled by the TRAINING period's in-sample naive
    MAE — the denominator that makes accuracy comparable across series
    of different magnitudes. Everything before the final ratio is exact
    integer cents: daily revenue sums, absolute lag errors, and the
    four conditional sums collapse in ONE pass over the bounded day
    table (lags via the pmod window — never an unpartitioned
    data-sized sort; the day table is calendar-bounded). MASE =
    (err_sum·den_n)/(n·den_sum) — one double expression over four
    exact integers, bit-identical cross-engine. Pinned (tests): MASE
    > 0, the seasonal leg has fewer scored days than the naive leg
    only when the seasonal lag falls off the series edge, and the
    naive test MAE recomputes from the emitted sums. At 100 TB the
    fact scan dominates; the backtest itself is O(|days|)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr(
            "CAST(FLOOR(unix_timestamp(o_orderdate)) AS BIGINT) DIV 86400"
        ).alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y")
    )
    w_ord = W.partitionBy(F.pmod(F.col("day"), F.lit(1))).orderBy("day")
    w_all = w_ord.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    lagged = daily.select(
        "day",
        "y",
        F.lag("y", 1).over(w_ord).alias("lag1"),
        F.lag("y", MASE_SEASON).over(w_ord).alias("lag7"),
        F.max("day").over(w_all).alias("mx"),
    )
    is_train = F.col("day") <= F.col("mx") - MASE_H
    is_test = F.col("day") > F.col("mx") - MASE_H
    agg = lagged.agg(
        F.sum(
            F.when(
                is_train & F.col("lag1").isNotNull(),
                F.abs(F.col("y") - F.col("lag1")),
            ).otherwise(0)
        ).alias("den_sum"),
        F.sum(
            F.when(is_train & F.col("lag1").isNotNull(), 1).otherwise(0)
        ).alias("den_n"),
        F.sum(
            F.when(
                is_test & F.col("lag1").isNotNull(),
                F.abs(F.col("y") - F.col("lag1")),
            ).otherwise(0)
        ).alias("naive_sum"),
        F.sum(
            F.when(is_test & F.col("lag1").isNotNull(), 1).otherwise(0)
        ).alias("naive_n"),
        F.sum(
            F.when(
                is_test & F.col("lag7").isNotNull(),
                F.abs(F.col("y") - F.col("lag7")),
            ).otherwise(0)
        ).alias("snaive_sum"),
        F.sum(
            F.when(is_test & F.col("lag7").isNotNull(), 1).otherwise(0)
        ).alias("snaive_n"),
    )
    return agg.select(
        F.expr(
            "stack(2, "
            "'naive', naive_n, naive_sum, "
            "ROUND(CAST(naive_sum AS DOUBLE) * den_n / naive_n / den_sum, 6), "
            "'seasonal_naive', snaive_n, snaive_sum, "
            "ROUND(CAST(snaive_sum AS DOUBLE) * den_n / snaive_n / den_sum, 6)"
            ") AS (method, n_test, sum_abs_err_cents, mase)"
        )
    ).orderBy("method")


@query(
    "seasonal_decompose_additive",
    oracle="""
    WITH daily AS (
        SELECT CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1),
    win AS (
        SELECT day, y,
               CAST(SUM(y) OVER (ORDER BY day
                                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                    AS BIGINT) AS sum7,
               CAST(COUNT(*) OVER (ORDER BY day
                                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                    AS BIGINT) AS cnt7
        FROM daily),
    full7 AS (SELECT day, day % 7 AS dow, y, sum7
              FROM win WHERE cnt7 = 7),
    seas0 AS (
        SELECT dow,
               CAST(SUM(7 * y - sum7) AS BIGINT) AS num,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM full7 GROUP BY 1),
    seas1 AS (
        SELECT dow, (num * 10000) // (7 * cnt) AS s_micro FROM seas0),
    seas AS (
        SELECT dow,
               s_micro - (SELECT CAST(SUM(s_micro) AS BIGINT) FROM seas1) // 7
                   AS seas_micro
        FROM seas1)
    SELECT f.day, f.dow, f.y AS y_cents,
           (f.sum7 * 10000) // 7 AS trend_micro,
           s.seas_micro,
           f.y * 10000 - (f.sum7 * 10000) // 7 - s.seas_micro
               AS resid_micro
    FROM full7 f JOIN seas s ON f.dow = s.dow
    ORDER BY f.day
    """,
)
def seasonal_decompose_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X296: classical additive seasonal decomposition (the
    moving-average method behind statsmodels' ``seasonal_decompose``):
    daily revenue = trend + weekly seasonal + residual, with period 7.
    Trend is the centered 7-day moving average (defined only where the
    full window exists), the seasonal component is the per-day-of-week
    mean of the detrended series centered to (near) zero mean, and the
    residual closes the identity EXACTLY — because every component is
    an INTEGER in micro-dollars: trend = (sum7·10⁴) DIV 7, detrended
    stays 7y − sum7 (never a float mean), seasonal = integer-DIV means
    re-centered by an integer-DIV grand mean (Spark DIV and DuckDB //
    both truncate toward zero, verified incl. negatives), residual =
    y·10⁴ − trend − seasonal. Zero float columns ⇒ zero float-parity
    surface — the strongest determinism class in the repo. Plan: one
    fact scan → calendar-bounded day table; the 7-row windowed sum and
    the 7-row seasonal table are pmod windows / broadcast joins.
    Pinned (tests): the identity telescopes row-for-row, seasonal
    takes exactly 7 values keyed by dow, components' magnitudes are
    sane (|seasonal| << mean revenue on this non-seasonal fixture).
    At 100 TB the day table stays O(calendar) — decomposition is free
    after the daily rollup."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr(
            "CAST(FLOOR(unix_timestamp(o_orderdate)) AS BIGINT) DIV 86400"
        ).alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y")
    )
    w7 = (
        W.partitionBy(F.pmod(F.col("day"), F.lit(1)))
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    win = daily.select(
        "day",
        "y",
        F.sum("y").over(w7).alias("sum7"),
        F.count("*").over(w7).alias("cnt7"),
    )
    full7 = win.filter(F.col("cnt7") == 7).select(
        "day", F.pmod(F.col("day"), F.lit(7)).alias("dow"), "y", "sum7"
    )
    seas0 = full7.groupBy("dow").agg(
        F.sum(7 * F.col("y") - F.col("sum7")).alias("num"),
        F.count("*").alias("cnt"),
    )
    seas1 = seas0.select(
        "dow", F.expr("(num * 10000) DIV (7 * cnt)").alias("s_micro")
    )
    w_all = W.partitionBy(F.pmod(F.col("dow"), F.lit(1))).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    seas = seas1.select(
        "dow",
        "s_micro",
        F.sum("s_micro").over(w_all).alias("tot"),
    ).select(
        "dow",
        (F.col("s_micro") - F.expr("tot DIV 7")).alias("seas_micro"),
    )
    return (
        full7.join(F.broadcast(seas), "dow")
        .select(
            "day",
            "dow",
            F.col("y").alias("y_cents"),
            F.expr("(sum7 * 10000) DIV 7").alias("trend_micro"),
            "seas_micro",
            F.expr(
                "y * 10000 - (sum7 * 10000) DIV 7"
            ).cast("long").alias("_tmp_resid"),
        )
        .select(
            "day",
            "dow",
            "y_cents",
            "trend_micro",
            "seas_micro",
            (F.col("_tmp_resid") - F.col("seas_micro")).alias("resid_micro"),
        )
        .orderBy("day")
    )


SHAP_JOURNEY_LEN = 5  # journey prefix length defining the channel set
# channel bit indices (alphabetical, purchase excluded — it's the outcome)
SHAP_CHANNELS = ("click", "error", "signup", "view")
# Shapley weight numerators over 24 = 4! for |S| = 0..3 absent-set sizes:
# w(s) = s!(4-1-s)!/4! -> numerators {6, 2, 2, 6}
SHAP_W = (6, 2, 2, 6)


@query(
    "shapley_attribution",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_type, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
    users AS (
        SELECT user_id,
               CAST(BIT_OR(CASE WHEN rn <= {SHAP_JOURNEY_LEN}
                                 AND event_type <> 'purchase'
                           THEN CASE event_type
                                WHEN 'click' THEN 1 WHEN 'error' THEN 2
                                WHEN 'signup' THEN 4 WHEN 'view' THEN 8
                                ELSE 0 END
                           ELSE 0 END) AS BIGINT) AS mask,
               CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS conv
        FROM ev GROUP BY 1),
    v AS (
        SELECT mask, CAST(COUNT(*) AS BIGINT) AS n,
               (CAST(SUM(conv) AS BIGINT) * 1000000) // COUNT(*) AS v_micro
        FROM users GROUP BY 1),
    grid AS (SELECT CAST(UNNEST(range(16)) AS BIGINT) AS mask),
    chans AS (SELECT CAST(UNNEST(range(4)) AS BIGINT) AS c),
    terms AS (
        SELECT ch.c,
               (CASE bit_count(g.mask) WHEN 0 THEN 6 WHEN 1 THEN 2
                                       WHEN 2 THEN 2 ELSE 6 END)
               * (COALESCE(vi.v_micro, 0) - COALESCE(v0.v_micro, 0))
                   AS term
        FROM grid g
        JOIN chans ch ON (g.mask & (1 << ch.c)) = 0
        LEFT JOIN v v0 ON v0.mask = g.mask
        LEFT JOIN v vi ON vi.mask = (g.mask | (1 << ch.c)))
    SELECT CASE c WHEN 0 THEN 'click' WHEN 1 THEN 'error'
                  WHEN 2 THEN 'signup' ELSE 'view' END AS channel,
           CAST(SUM(term) AS BIGINT) AS shapley_micro24,
           ROUND(CAST(SUM(term) AS DOUBLE) / 24000000, 6) AS shapley
    FROM terms GROUP BY c
    ORDER BY channel
    """,
)
def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X297: exact Shapley-value channel attribution (Shapley 1953;
    the data-driven marketing formulation of Zhao et al. 2018) — the
    game-theoretic member completing the attribution family
    (last-touch: X95, position-based U-shape: X250s): each channel's
    credit is its average marginal contribution to conversion over all
    orderings of the channel coalition. With {len(SHAP_CHANNELS)}
    channels (the journey prefix's non-purchase event types) the
    coalition lattice is 16 rows, so the computation is EXACT — no
    sampling: v(S) = conversion rate of users whose first-
    {SHAP_JOURNEY_LEN}-event channel set is exactly S (unobserved
    coalitions impute v = 0, the branch sf0.001 fires), and
    φ_i = Σ_S w(|S|)(v(S∪i) − v(S)) with factorial weights over 24.
    Exactness discipline: v is an integer in conversion-MICRO-units
    ((conv·10⁶) DIV n), weights stay numerators over 24, so every term
    and every φ is an INTEGER (shapley_micro24) and Shapley's
    efficiency axiom Σφ = v(grand) − v(∅) holds as an integer identity
    (test-pinned against an independent pandas replica). The only
    float is the final display division. Plan: one user-keyed window
    (journey prefix) + one user rollup + one 16-row mask rollup; the
    lattice math is joins over 16-row broadcasts — at 100 TB cost is
    the two keyed passes, the game theory is free."""
    ev = load_table(spark, sf_dir, "events")
    w_u = W.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w_u))
    chan_bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "view", 8)
        .otherwise(0)
    )
    users = ranked.groupBy("user_id").agg(
        F.expr(
            f"CAST(bit_or(CASE WHEN rn <= {SHAP_JOURNEY_LEN} "
            "AND event_type <> 'purchase' THEN "
            "CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2 "
            "WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END "
            "ELSE 0 END) AS BIGINT)"
        ).alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("long").alias("conv"),
    )
    v = users.groupBy("mask").agg(
        F.count("*").alias("n"),
        F.expr("CAST(SUM(conv) AS BIGINT) * 1000000 DIV COUNT(*)").alias(
            "v_micro"
        ),
    )
    grid = spark.range(16).select(F.col("id").alias("gmask"))
    chans = spark.range(4).select(F.col("id").alias("c"))
    pairs = grid.join(
        F.broadcast(chans),
        F.expr("(gmask & CAST(shiftleft(1, CAST(c AS INT)) AS BIGINT)) = 0"),
    )
    v0 = v.select(F.col("mask").alias("m0"), F.col("v_micro").alias("v0"))
    vi = v.select(F.col("mask").alias("mi"), F.col("v_micro").alias("vi"))
    w_num = (
        F.when(F.expr("bit_count(gmask)") == 0, 6)
        .when(F.expr("bit_count(gmask)") == 1, 2)
        .when(F.expr("bit_count(gmask)") == 2, 2)
        .otherwise(6)
    )
    terms = (
        pairs.join(F.broadcast(v0), F.col("gmask") == F.col("m0"), "left")
        .join(
            F.broadcast(vi),
            F.expr("gmask | CAST(shiftleft(1, CAST(c AS INT)) AS BIGINT)")
            == F.col("mi"),
            "left",
        )
        .select(
            "c",
            (
                w_num
                * (F.coalesce(F.col("vi"), F.lit(0)) - F.coalesce(F.col("v0"), F.lit(0)))
            ).alias("term"),
        )
    )
    return (
        terms.groupBy("c")
        .agg(F.sum("term").cast("long").alias("shapley_micro24"))
        .select(
            F.when(F.col("c") == 0, "click")
            .when(F.col("c") == 1, "error")
            .when(F.col("c") == 2, "signup")
            .otherwise("view")
            .alias("channel"),
            "shapley_micro24",
            F.round(
                F.col("shapley_micro24").cast("double") / 24000000, 6
            ).alias("shapley"),
        )
        .orderBy("channel")
    )


BURST_MIN_GAPS = 20  # users with fewer interevent gaps are not reported


@query(
    "burstiness_interevent",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
               event_id
        FROM events),
    gaps AS (
        SELECT user_id,
               sec - LAG(sec) OVER (PARTITION BY user_id
                                    ORDER BY sec, event_id) AS g
        FROM ev
        QUALIFY g IS NOT NULL),
    s AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(g) AS BIGINT) AS sg,
               CAST(SUM(g * g) AS BIGINT) AS sgg
        FROM gaps GROUP BY 1
        HAVING COUNT(*) >= {BURST_MIN_GAPS})
    SELECT user_id, n, sg AS sum_gap_s, sgg AS sum_gap_sq,
           ROUND(SQRT(CAST(n AS DOUBLE) * sgg - CAST(sg AS DOUBLE) * sg)
                 / sg, 6) AS cv,
           ROUND((SQRT(CAST(n AS DOUBLE) * sgg - CAST(sg AS DOUBLE) * sg)
                  - CAST(sg AS DOUBLE))
                 / (SQRT(CAST(n AS DOUBLE) * sgg - CAST(sg AS DOUBLE) * sg)
                    + CAST(sg AS DOUBLE)), 6) AS burstiness
    FROM s ORDER BY user_id
    """,
)
def burstiness_interevent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X303: interevent-time burstiness per user (Goh & Barabási 2008):
    B = (σ − μ)/(σ + μ) over the gaps between a user's consecutive
    events — the one-number temporal fingerprint separating periodic
    (B → −1), Poisson (B ≈ 0) and bursty-human (B → 1) activity; the
    behavioral-timing member of the events family (session gaps: how
    long, CUSUM: when the rate shifts, THIS: the rhythm's character).
    Algebra: with integer-second gaps, σ/μ = sqrt(n·Σg² − (Σg)²)/Σg
    (population form scaled by n cancels), so both CV and B are fixed
    double expression trees over three EXACT BIGINTs — one IEEE sqrt,
    no float aggregation — emitted beside their raw integer inputs.
    Gaps come from ONE user-keyed ordered window (event-id tiebreak for
    same-second events). Pinned (tests): B ∈ (−1, 1), B ≈ 0 on this
    Poisson-like fixture (|median B| < 0.2), B recomputes from the
    emitted integers, and Σ gaps = last − first timestamp per user.
    At 100 TB: one keyed window + one keyed agg — shuffle ~ the
    events table on user_id, the partition key sessionization already
    uses."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(FLOOR(unix_timestamp(ts)) AS BIGINT)").alias("sec"),
        "event_id",
    )
    w_u = W.partitionBy("user_id").orderBy("sec", "event_id")
    gaps = ev.select(
        "user_id", (F.col("sec") - F.lag("sec").over(w_u)).alias("g")
    ).filter(F.col("g").isNotNull())
    s = (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("g").alias("sg"),
            F.sum(F.col("g") * F.col("g")).alias("sgg"),
        )
        .filter(F.col("n") >= BURST_MIN_GAPS)
    )
    sig = F.sqrt(
        F.col("n").cast("double") * F.col("sgg")
        - F.col("sg").cast("double") * F.col("sg")
    )
    return s.select(
        "user_id",
        "n",
        F.col("sg").alias("sum_gap_s"),
        F.col("sgg").alias("sum_gap_sq"),
        F.round(sig / F.col("sg"), 6).alias("cv"),
        F.round(
            (sig - F.col("sg").cast("double"))
            / (sig + F.col("sg").cast("double")),
            6,
        ).alias("burstiness"),
    ).orderBy("user_id")


EQD_B = 8  # equi-depth histogram buckets per group


@query(
    "histogram_equi_depth",
    oracle=f"""
    WITH src AS (
        SELECT o_orderpriority AS grp,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
    hist AS (
        SELECT grp, cents, CAST(COUNT(*) AS BIGINT) AS c
        FROM src GROUP BY 1, 2),
    cum AS (
        SELECT grp, cents, c,
               CAST(SUM(c) OVER (PARTITION BY grp ORDER BY cents)
                    AS BIGINT) AS cm,
               CAST(SUM(c) OVER (PARTITION BY grp) AS BIGINT) AS n
        FROM hist),
    ks AS (SELECT CAST(UNNEST(range(1, {EQD_B} + 1)) AS BIGINT) AS k),
    bounds AS (
        SELECT grp, k, MIN(cents) AS ub_cents
        FROM cum JOIN ks ON cm >= (k * n + {EQD_B} - 1) // {EQD_B}
        GROUP BY 1, 2),
    assigned AS (
        SELECT h.grp, h.cents, h.c,
               MIN(b.k) AS bucket
        FROM hist h JOIN bounds b
          ON h.grp = b.grp AND b.ub_cents >= h.cents
        GROUP BY 1, 2, 3)
    SELECT a.grp AS grp, a.bucket AS bucket, b.ub_cents,
           CAST(SUM(a.c) AS BIGINT) AS n_bucket,
           CAST(COUNT(*) AS BIGINT) AS ndv_bucket
    FROM assigned a
    JOIN bounds b ON a.grp = b.grp AND a.bucket = b.k
    GROUP BY 1, 2, 3
    ORDER BY 1, 2
    """,
)
def histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X308: equi-depth (equi-height) histogram per group — the
    statistic cost-based optimizers actually store (Spark's own ANALYZE
    ... FOR COLUMNS builds exactly this; selectivity estimation reads
    it), completing the stats family next to schema_profile (shape),
    key_skew_profile (hot keys) and percentile_disc_exact (point
    quantiles — whose value-histogram + integer-rank machinery this op
    generalizes from {{PDISC_PCTS}} points to a full {EQD_B}-bucket
    partition). Boundaries are EXACT discrete order statistics: bucket
    k's upper bound is the smallest real value whose cumulative count
    reaches ⌈k·n/{EQD_B}⌉ (integer ceiling arithmetic — never p·n
    through doubles); each distinct value then lands in the first
    bucket whose bound covers it via a bounded bounds-table join, and
    per-bucket row counts + NDVs are exact BIGINTs — the two numbers
    selectivity estimation divides. Pinned (tests): Σ n_bucket = n per
    group, bounds strictly nondecreasing with the last = group max,
    every bucket's cumulative reach ≥ its target rank, and NDVs sum to
    the group's distinct-value count. Plan: one combine-friendly
    value-histogram shuffle, group-keyed windows over
    compression-bounded histogram rows, a 40-row bounds broadcast. At
    100 TB this is exactly how ANALYZE scales — the histogram rows,
    not the raw rows, carry the window."""
    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    hist = src.groupBy("grp", "cents").agg(F.count("*").alias("c"))
    w_cum = W.partitionBy("grp").orderBy("cents")
    w_all = W.partitionBy("grp")
    cum = hist.select(
        "grp",
        "cents",
        "c",
        F.sum("c").over(w_cum).alias("cm"),
        F.sum("c").over(w_all).alias("n"),
    )
    ks = spark.range(1, EQD_B + 1).select(F.col("id").alias("k"))
    bounds = (
        cum.join(
            F.broadcast(ks),
            F.col("cm") >= F.expr(f"(k * n + {EQD_B} - 1) DIV {EQD_B}"),
        )
        .groupBy("grp", "k")
        .agg(F.min("cents").alias("ub_cents"))
    )
    b_for_assign = bounds.select(
        F.col("grp").alias("bg"), "k", F.col("ub_cents").alias("ub")
    )
    assigned = (
        hist.join(
            F.broadcast(b_for_assign),
            (F.col("grp") == F.col("bg")) & (F.col("ub") >= F.col("cents")),
        )
        .groupBy("grp", "cents", "c")
        .agg(F.min("k").alias("bucket"))
    )
    return (
        assigned.join(
            F.broadcast(bounds.withColumnRenamed("k", "bucket")),
            ["grp", "bucket"],
        )
        .groupBy("grp", "bucket", "ub_cents")
        .agg(
            F.sum("c").alias("n_bucket"),
            F.count("*").alias("ndv_bucket"),
        )
        .orderBy("grp", "bucket")
    )


@query(
    "bayes_beta_binomial",
    oracle="""
    WITH per_cust AS (
        SELECT c_custkey, c_nationkey,
               CAST(MAX(CASE WHEN o_orderpriority = '1-URGENT'
                        THEN 1 ELSE 0 END) AS BIGINT) AS conv
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY 1, 2),
    g AS (
        SELECT c_nationkey AS nation,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(conv) AS BIGINT) AS s
        FROM per_cust GROUP BY 1)
    SELECT nation, n, s,
           ROUND(CAST(s AS DOUBLE) / n, 6) AS raw_rate,
           ROUND(CAST(s + 1 AS DOUBLE) / (n + 2), 6) AS post_mean,
           ROUND(CAST(s + 1 AS DOUBLE) * (n - s + 1)
                 / ((CAST(n AS DOUBLE) + 2) * (n + 2) * (n + 3)), 6)
               AS post_var
    FROM g ORDER BY nation
    """,
)
def bayes_beta_binomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X313: Beta-Binomial posterior conversion rates per nation — the
    Bayesian member of the rate-reporting family (wilson_ci_ranking:
    frequentist lower bound; HERE: the conjugate posterior under a
    uniform Beta(1,1) prior, the Laplace rule of succession): posterior
    mean (s+1)/(n+2) and closed-form posterior variance
    αβ/((α+β)²(α+β+1)) per group. Conversion = customer ever placed an
    urgent order (the LEFT JOIN keeps zero-order customers as
    failures — Q13's preserved-row discipline). Everything is a ratio
    of EXACT integers: one customer rollup, one nation rollup, fixed
    double expressions, raw (n, s) emitted beside every rounded
    output. Pinned (tests): shrinkage toward the uniform prior's 1/2
    (|post − ½| ≤ |raw − ½| for every group, strict where raw ≠ ½),
    posterior variance positive and < 1/4·1/(n+3), and the recompute
    from (n, s). At 100 TB: two keyed aggs — nothing else."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.max(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("long")
            .alias("conv")
        )
    )
    g = per_cust.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.count("*").alias("n"), F.sum("conv").alias("s")
    )
    n, s = F.col("n"), F.col("s")
    return g.select(
        "nation",
        "n",
        "s",
        F.round(s.cast("double") / n, 6).alias("raw_rate"),
        F.round((s + 1).cast("double") / (n + 2), 6).alias("post_mean"),
        F.round(
            (s + 1).cast("double")
            * (n - s + 1)
            / ((n.cast("double") + 2) * (n + 2) * (n + 3)),
            6,
        ).alias("post_var"),
    ).orderBy("nation")


@query(
    "dau_mau_stickiness",
    oracle=f"""
    WITH p AS (
        SELECT DISTINCT user_id,
               CAST(FLOOR({EPOCH_TS} / 86400) AS BIGINT) AS day
        FROM events),
    grid AS (
        SELECT CAST(UNNEST(range((SELECT MIN(day) FROM p),
                                 (SELECT MAX(day) FROM p) + 1)) AS BIGINT)
               AS day),
    dau AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM p GROUP BY 1),
    wau AS (
        SELECT g.day, CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS wau
        FROM grid g JOIN p ON p.day BETWEEN g.day - 6 AND g.day
        GROUP BY 1),
    mau AS (
        SELECT g.day, CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS mau
        FROM grid g JOIN p ON p.day BETWEEN g.day - 27 AND g.day
        GROUP BY 1)
    SELECT g.day,
           CAST(COALESCE(d.dau, 0) AS BIGINT) AS dau,
           CAST(COALESCE(w.wau, 0) AS BIGINT) AS wau,
           CAST(COALESCE(m.mau, 0) AS BIGINT) AS mau,
           ROUND(CASE WHEN COALESCE(w.wau, 0) > 0
                      THEN CAST(COALESCE(d.dau, 0) AS DOUBLE) / w.wau
                      ELSE 0 END, 6) AS stickiness_7d,
           ROUND(CASE WHEN COALESCE(m.mau, 0) > 0
                      THEN CAST(COALESCE(d.dau, 0) AS DOUBLE) / m.mau
                      ELSE 0 END, 6) AS stickiness_28d
    FROM grid g
    LEFT JOIN dau d USING (day)
    LEFT JOIN wau w USING (day)
    LEFT JOIN mau m USING (day)
    ORDER BY g.day
    """,
)
def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X317: DAU / WAU / MAU and the stickiness ratios (DAU/WAU,
    DAU/MAU) per calendar day — THE engagement headline every product
    team computes over exactly this events table. The naive plan is a
    trailing COUNT(DISTINCT user) window per day (28 distinct scans, or
    a day×user range join that explodes at scale); the scale path here
    is interval stabbing: dedup to user-day presence (one keyed
    shuffle), merge each user's presence days into coverage islands
    (presence day p covers MAU days [p, p+27]; runs merge while the
    next presence is <= prev + 28) with a user-keyed lag window, then
    emit +1 at island start / -1 past island end and prefix-sum the
    deltas over the CALENDAR-BOUNDED day grid (the
    `cumulative_unique_users` pmod idiom — |days| rows at any data
    scale). MAU(d) falls out as a running sum, never a distinct-count:
    work is O(presence) + O(days), both shuffles keyed. Day numbers are
    tz-free integers; ratios are single divisions of exact BIGINTs,
    rounded 6. The DuckDB oracle computes the same quantities the naive
    way (day×presence band join + COUNT DISTINCT), so hash equality
    proves the island algebra, not just the plumbing."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    ).distinct()

    span = p.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )

    def coverage_counts(width: int, out: str) -> DataFrame:
        # presence day p covers days [p, p+width-1]; runs merge while
        # the next presence day starts before the previous coverage
        # ends (+1 for adjacency)
        wu = W.partitionBy("user_id").orderBy("day")
        isl = (
            p.withColumn("prev", F.lag("day").over(wu))
            .withColumn(
                "new_isl",
                (
                    F.col("prev").isNull()
                    | (F.col("day") > F.col("prev") + width)
                ).cast("long"),
            )
            .withColumn(
                "isl_id",
                F.sum("new_isl").over(
                    wu.rowsBetween(W.unboundedPreceding, 0)
                ),
            )
            .groupBy("user_id", "isl_id")
            .agg(
                F.min("day").alias("start"),
                (F.max("day") + width).alias("stop"),  # exclusive
            )
        )
        deltas = isl.select(
            F.col("start").alias("day"), F.lit(1).alias("delta")
        ).unionAll(
            isl.select(
                F.col("stop").alias("day"), F.lit(-1).alias("delta")
            )
        )
        dsum = deltas.groupBy("day").agg(F.sum("delta").alias("delta"))
        wg = (
            W.partitionBy(F.pmod(F.col("day"), F.lit(1)))
            .orderBy("day")
            .rowsBetween(W.unboundedPreceding, 0)
        )
        return (
            grid.join(dsum, "day", "left")
            .select("day", F.coalesce("delta", F.lit(0)).alias("delta"))
            .withColumn(out, F.sum("delta").over(wg).cast("long"))
            .select("day", out)
        )

    dau = p.groupBy("day").agg(F.count("*").cast("long").alias("dau"))
    wau = coverage_counts(7, "wau")
    mau = coverage_counts(28, "mau")
    out = (
        grid.join(dau, "day", "left")
        .join(wau, "day", "left")
        .join(mau, "day", "left")
        .select(
            "day",
            F.coalesce("dau", F.lit(0)).cast("long").alias("dau"),
            F.coalesce("wau", F.lit(0)).cast("long").alias("wau"),
            F.coalesce("mau", F.lit(0)).cast("long").alias("mau"),
        )
    )
    ratio = lambda num, den: F.round(  # noqa: E731
        F.when(
            F.col(den) > 0, F.col(num).cast("double") / F.col(den)
        ).otherwise(0.0),
        6,
    )
    return out.select(
        "day",
        "dau",
        "wau",
        "mau",
        ratio("dau", "wau").alias("stickiness_7d"),
        ratio("dau", "mau").alias("stickiness_28d"),
    ).orderBy("day")


@query(
    "acf_daily_revenue",
    oracle=f"""
    WITH cents AS (
        SELECT CAST(FLOOR({EPOCH_TS} / 86400) AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
    grid AS (
        SELECT CAST(UNNEST(range((SELECT MIN(day) FROM cents),
                                 (SELECT MAX(day) FROM cents) + 1))
                    AS BIGINT) AS day),
    x AS (
        SELECT g.day,
               (COALESCE(c.cents, 0) + 50) // 100 AS dollars
        FROM grid g LEFT JOIN cents c USING (day)),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               (SUM(dollars) + COUNT(*) // 2) // COUNT(*) AS mean_d
        FROM x),
    dev AS (
        SELECT day, dollars - (SELECT mean_d FROM m) AS d FROM x),
    den AS (
        SELECT CAST(SUM(d * d) AS BIGINT) AS den FROM dev),
    pairs AS (
        SELECT l.lag,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(a.d * b.d) AS BIGINT) AS num
        FROM (SELECT CAST(UNNEST(range(1, 8)) AS BIGINT) AS lag) l
        JOIN dev a ON TRUE
        JOIN dev b ON b.day = a.day + l.lag
        GROUP BY 1)
    SELECT p.lag, p.n_pairs, p.num,
           (SELECT den FROM den) AS den,
           ROUND(CASE WHEN (SELECT den FROM den) > 0
                      THEN CAST(p.num AS DOUBLE) / (SELECT den FROM den)
                      ELSE 0 END, 6) AS acf
    FROM pairs p
    ORDER BY p.lag
    """,
)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X318: autocorrelation function of daily purchase revenue at lags
    1..7 — the first diagnostic fitted before any forecast
    (seasonal_decompose/holt pick their periods off exactly this
    readout). Float ACF is a cross-engine trap twice over (mean is a
    division; numerator/denominator are big dot products whose add
    order differs), so the series is defined integer end-to-end: daily
    exact cents -> whole dollars by integer half-up division
    ((cents+50) DIV 100 — Spark DIV and DuckDB // both truncate toward
    zero, verified), mean rounded to the nearest dollar by the same
    integer division, deviations/products/sums all BIGINT (deviations
    are O(daily std), so n*Σd² stays far from the 2^63 line the n²-
    scaled textbook form would cross). The single float is the final
    num/den division, rounded 6. Plan: one day rollup, gap days zero-
    filled off the calendar grid, lags by a 7-way explode joined back
    KEYED on day+lag (no window per lag, no cartesian); mean/den are
    1-row scalar broadcasts. Scales as O(days) after the first rollup."""
    ev = load_table(spark, sf_dir, "events")
    cents = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    grid = cents.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).select(F.explode(F.sequence("d0", "d1")).alias("day"))
    x = grid.join(cents, "day", "left").select(
        "day",
        F.expr("(COALESCE(cents, 0) + 50) DIV 100").alias("dollars"),
    )
    m = x.agg(
        F.count("*").cast("long").alias("n"),
        F.expr("(SUM(dollars) + COUNT(*) DIV 2) DIV COUNT(*)").alias(
            "mean_d"
        ),
    )
    dev = x.crossJoin(F.broadcast(m)).select(
        "day", (F.col("dollars") - F.col("mean_d")).alias("d")
    )
    den = dev.agg(F.sum(F.col("d") * F.col("d")).cast("long").alias("den"))
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = dev.crossJoin(F.broadcast(lags)).select(
        "lag", (F.col("day") + F.col("lag")).alias("jday"), F.col("d").alias("da")
    )
    pairs = (
        a.join(dev.select(F.col("day").alias("jday"), F.col("d").alias("db")), "jday")
        .groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.col("da") * F.col("db")).cast("long").alias("num"),
        )
    )
    return (
        pairs.crossJoin(F.broadcast(den))
        .select(
            "lag",
            "n_pairs",
            "num",
            "den",
            F.round(
                F.when(
                    F.col("den") > 0,
                    F.col("num").cast("double") / F.col("den"),
                ).otherwise(0.0),
                6,
            ).alias("acf"),
        )
        .orderBy("lag")
    )


@query(
    "spearman_corr_grouped",
    oracle="""
    WITH per AS (
        SELECT c.c_nationkey AS nation, c.c_custkey,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS x,
               CAST(COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100)
                                      AS BIGINT)), 0) AS BIGINT) AS y
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
    r AS (
        SELECT nation,
               2 * RANK() OVER (PARTITION BY nation ORDER BY x)
                   + COUNT(*) OVER (PARTITION BY nation, x) - 1 AS a,
               2 * RANK() OVER (PARTITION BY nation ORDER BY y)
                   + COUNT(*) OVER (PARTITION BY nation, y) - 1 AS b
        FROM per),
    s AS (
        SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
               CAST(SUM(a * b) AS BIGINT) AS sab,
               CAST(SUM(a * a) AS BIGINT) AS saa,
               CAST(SUM(b * b) AS BIGINT) AS sbb
        FROM r GROUP BY 1)
    SELECT nation, n,
           CAST(n * sab - sa * sb AS BIGINT) AS num,
           CAST(n * saa - sa * sa AS BIGINT) AS da,
           CAST(n * sbb - sb * sb AS BIGINT) AS db,
           ROUND(CASE WHEN n * saa - sa * sa > 0
                       AND n * sbb - sb * sb > 0
                      THEN CAST(n * sab - sa * sb AS DOUBLE)
                           / (SQRT(CAST(n * saa - sa * sa AS DOUBLE))
                              * SQRT(CAST(n * sbb - sb * sb AS DOUBLE)))
                      ELSE 0 END, 6) AS spearman
    FROM s ORDER BY nation
    """,
)
def spearman_corr_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X319: Spearman rank correlation per nation between a customer's
    order count and their total spend — the monotone-association
    readout analysts reach for when Pearson (corr_matrix, X50) is
    distorted by heavy-tailed spend. Tie handling is the textbook
    average-rank, made integer-exact by DOUBLING: avg rank of a tie
    run = (rank_min + rank_max)/2, so 2*avg = 2*RANK() + tie_count - 1
    is a BIGINT in both engines (RANK + an unordered per-(nation,value)
    COUNT window, both nation-keyed). Spearman = Pearson on the doubled
    ranks (the factor 2 cancels): numerator n*Sab - Sa*Sb and the two
    variance terms are exact BIGINTs (ranks <= 2n keeps n*Sab ~ 4n^4
    far under 2^63 at any per-group cardinality a broadcastable dim
    implies); the only floats are two correctly-rounded SQRTs and one
    division, same IEEE expression tree both engines, rounded 6.
    Constant-variance groups emit 0 by the guard. Plan: one keyed
    rollup to |customers|, two nation-keyed windows, one keyed rollup
    to |nations| — no global sort, no unpartitioned window."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    per = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(F.col("c_nationkey").alias("nation"), "c_custkey")
        .agg(
            F.count("o_orderkey").cast("long").alias("x"),
            F.coalesce(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
                F.lit(0),
            )
            .cast("long")
            .alias("y"),
        )
    )

    def dbl_rank(col: str) -> F.Column:
        wr = W.partitionBy("nation").orderBy(col)
        wt = W.partitionBy("nation", col)
        return 2 * F.rank().over(wr) + F.count("*").over(wt) - 1

    r = per.select(
        "nation", dbl_rank("x").alias("a"), dbl_rank("y").alias("b")
    )
    s = r.groupBy("nation").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("b").cast("long").alias("sb"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("sab"),
        F.sum(F.col("a") * F.col("a")).cast("long").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("long").alias("sbb"),
    )
    n, sa, sb = F.col("n"), F.col("sa"), F.col("sb")
    num = (n * F.col("sab") - sa * sb).cast("long")
    da = (n * F.col("saa") - sa * sa).cast("long")
    db = (n * F.col("sbb") - sb * sb).cast("long")
    return s.select(
        "nation",
        "n",
        num.alias("num"),
        da.alias("da"),
        db.alias("db"),
        F.round(
            F.when(
                (da > 0) & (db > 0),
                num.cast("double")
                / (F.sqrt(da.cast("double")) * F.sqrt(db.cast("double"))),
            ).otherwise(0.0),
            6,
        ).alias("spearman"),
    ).orderBy("nation")


@query(
    "herfindahl_concentration",
    oracle="""
    WITH per AS (
        SELECT c.c_nationkey AS nation, c.c_custkey,
               (COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)),
                         0) + 50) // 100 AS dollars
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
    s AS (
        SELECT nation,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(dollars) AS BIGINT) AS total_dollars,
               CAST(SUM(dollars * dollars) AS BIGINT) AS sum_sq,
               CAST(MAX(dollars) AS BIGINT) AS max_dollars
        FROM per GROUP BY 1)
    SELECT nation, n_customers, total_dollars, sum_sq,
           ROUND(CASE WHEN total_dollars > 0
                      THEN CAST(sum_sq AS DOUBLE)
                           / (CAST(total_dollars AS DOUBLE)
                              * CAST(total_dollars AS DOUBLE))
                      ELSE 0 END, 6) AS hhi,
           ROUND(CASE WHEN total_dollars > 0 AND n_customers > 1
                      THEN (CAST(sum_sq AS DOUBLE)
                            / (CAST(total_dollars AS DOUBLE)
                               * CAST(total_dollars AS DOUBLE))
                            - 1.0 / n_customers)
                           / (1.0 - 1.0 / n_customers)
                      ELSE 0 END, 6) AS hhi_norm,
           ROUND(CASE WHEN total_dollars > 0
                      THEN CAST(max_dollars AS DOUBLE) / total_dollars
                      ELSE 0 END, 6) AS top_share
    FROM s ORDER BY nation
    """,
)
def herfindahl_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X320: Herfindahl-Hirschman revenue concentration per nation —
    the antitrust/portfolio readout: HHI = sum of squared customer
    revenue shares, plus the size-corrected normalized HHI and the
    top-1 share. Shares are divisions, so the float is confined to the
    LAST step: per-customer revenue collapses to exact integer DOLLARS
    ((cents+50) DIV 100 — identical truncating division both engines;
    dollars keep sum_sq = Sigma c_i^2 far under 2^63 where cents^2
    would not), and HHI = sum_sq / (T*T) is evaluated as one double
    expression over two exact BIGINTs (T*T as a DOUBLE product, never
    an integer square that could overflow), same IEEE tree in DuckDB,
    rounded 6. Emitting (n, total, sum_sq) beside the ratios makes the
    row self-verifying. Plan: two keyed rollups (|customers| then
    |nations|), zero windows, zero broadcasts — scan-bound at any
    scale."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    per = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(F.col("c_nationkey").alias("nation"), "c_custkey")
        .agg(
            F.expr(
                "(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)),"
                " 0) + 50) DIV 100"
            ).alias("dollars")
        )
    )
    s = per.groupBy("nation").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("dollars").cast("long").alias("total_dollars"),
        F.sum(F.col("dollars") * F.col("dollars"))
        .cast("long")
        .alias("sum_sq"),
        F.max("dollars").cast("long").alias("max_dollars"),
    )
    t = F.col("total_dollars")
    hhi = F.col("sum_sq").cast("double") / (
        t.cast("double") * t.cast("double")
    )
    nc = F.col("n_customers")
    return s.select(
        "nation",
        "n_customers",
        "total_dollars",
        "sum_sq",
        F.round(F.when(t > 0, hhi).otherwise(0.0), 6).alias("hhi"),
        F.round(
            F.when(
                (t > 0) & (nc > 1),
                (hhi - F.lit(1.0) / nc) / (F.lit(1.0) - F.lit(1.0) / nc),
            ).otherwise(0.0),
            6,
        ).alias("hhi_norm"),
        F.round(
            F.when(
                t > 0, F.col("max_dollars").cast("double") / t
            ).otherwise(0.0),
            6,
        ).alias("top_share"),
    ).orderBy("nation")


HAMPEL_HALF_W = 3  # +-3 days around the center


@query(
    "hampel_outlier_filter",
    oracle=f"""
    WITH daily AS (
        SELECT c.c_nationkey AS nation,
               CAST(epoch(o.o_orderdate) AS BIGINT) // 86400 AS day,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2),
    span AS (
        SELECT nation, MIN(day) AS d0, MAX(day) AS d1
        FROM daily GROUP BY 1),
    grid AS (
        SELECT nation, CAST(UNNEST(range(d0, d1 + 1)) AS BIGINT) AS day
        FROM span),
    x AS (
        SELECT g.nation, g.day, COALESCE(d.cents, 0) AS cents
        FROM grid g LEFT JOIN daily d USING (nation, day)),
    nb AS (
        SELECT g.nation, g.day,
               list_sort(list(n.cents)) AS win
        FROM x g
        JOIN x n ON n.nation = g.nation
                AND n.day BETWEEN g.day - {HAMPEL_HALF_W}
                              AND g.day + {HAMPEL_HALF_W}
        GROUP BY 1, 2),
    med AS (
        SELECT nation, day,
               CAST(CASE WHEN len(win) % 2 = 1
                         THEN 2 * win[(len(win) + 1) // 2]
                         ELSE win[len(win) // 2] + win[len(win) // 2 + 1]
                    END AS BIGINT) AS c2
        FROM nb),
    devw AS (
        SELECT m.nation, m.day, m.c2,
               list_sort(list(ABS(2 * n.cents - m.c2))) AS dwin
        FROM med m
        JOIN x n ON n.nation = m.nation
                AND n.day BETWEEN m.day - {HAMPEL_HALF_W}
                              AND m.day + {HAMPEL_HALF_W}
        GROUP BY 1, 2, 3),
    mad AS (
        SELECT nation, day, c2,
               CAST(CASE WHEN len(dwin) % 2 = 1
                         THEN 2 * dwin[(len(dwin) + 1) // 2]
                         ELSE dwin[len(dwin) // 2]
                              + dwin[len(dwin) // 2 + 1]
                    END AS BIGINT) AS m2d
        FROM devw)
    SELECT v.nation, v.day, v.cents, a.c2, a.m2d,
           CAST(CASE WHEN 2 * ABS(2 * v.cents - a.c2) > 3 * a.m2d
                     THEN 1 ELSE 0 END AS INT) AS is_outlier,
           CAST(CASE WHEN 2 * ABS(2 * v.cents - a.c2) > 3 * a.m2d
                     THEN a.c2 ELSE 2 * v.cents END AS BIGINT)
               AS replaced2
    FROM x v JOIN mad a USING (nation, day)
    ORDER BY v.nation, v.day
    """,
)
def hampel_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X324: Hampel filter over each nation's daily revenue — the
    robust time-series cleaner (rolling median +- 3*MAD replaces
    spikes the mean-based anomaly_zscore, X41, gets dragged toward).
    Everything is integer-exact via DOUBLING (the spearman move, twice):
    c2 = 2*rolling-median of exact cents (odd window: 2*mid; even:
    sum of the two mids), per-neighbor deviations d = |2x - c2| are
    2*|x - median|, m2d = 2*median(d) = 4*MAD, and the Hampel rule
    |x - med| > 3*MAD becomes the INTEGER compare 2*d_center > 3*m2d —
    no float exists anywhere in the query. Rolling windows come from a
    +-{HAMPEL_HALF_W}-day banded self-join realized as a 7-offset
    explode joined KEYED on (nation, day) — never a non-equi range
    join — and medians are element extractions from sort_array'd
    collected windows (window size <= 7 rows, bounded by construction).
    Replaced series ships in DOUBLED cents (replaced2) to stay
    integer. At 100 TB the plan is two keyed rollups + two keyed
    7-fanout joins over the |nations|x|days| grid — calendar-bounded."""
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
    daily = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nation"), "day")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    grid = (
        daily.groupBy("nation")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("nation", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    x = grid.join(daily, ["nation", "day"], "left").select(
        "nation", "day", F.coalesce("cents", F.lit(0)).alias("cents")
    )
    offs = F.explode(
        F.sequence(F.lit(-HAMPEL_HALF_W), F.lit(HAMPEL_HALF_W))
    ).alias("off")
    # neighbor fanout: each value row feeds the 7 centers it belongs to
    fan = x.select("nation", "day", "cents", offs).withColumn(
        "cday", F.col("day") + F.col("off")
    )
    half = lambda c: ((c) / 2).cast("int")  # noqa: E731
    m2 = lambda arr: F.when(  # noqa: E731
        F.size(arr) % 2 == 1,
        2 * F.element_at(arr, half(F.size(arr) + 1)),
    ).otherwise(
        F.element_at(arr, half(F.size(arr)))
        + F.element_at(arr, half(F.size(arr)) + 1)
    )
    med = (
        fan.join(
            grid.select("nation", F.col("day").alias("cday")),
            ["nation", "cday"],
        )
        .groupBy("nation", F.col("cday").alias("day"))
        .agg(F.sort_array(F.collect_list("cents")).alias("win"))
        .select(
            "nation", "day", m2(F.col("win")).cast("long").alias("c2")
        )
    )
    devw = (
        fan.join(
            med.select("nation", F.col("day").alias("cday"), "c2"),
            ["nation", "cday"],
        )
        .groupBy("nation", F.col("cday").alias("day"), "c2")
        .agg(
            F.sort_array(
                F.collect_list(F.abs(2 * F.col("cents") - F.col("c2")))
            ).alias("dwin")
        )
        .select(
            "nation",
            "day",
            "c2",
            m2(F.col("dwin")).cast("long").alias("m2d"),
        )
    )
    flag = 2 * F.abs(2 * F.col("cents") - F.col("c2")) > 3 * F.col("m2d")
    return (
        x.join(devw, ["nation", "day"])
        .select(
            "nation",
            "day",
            "cents",
            "c2",
            "m2d",
            flag.cast("int").alias("is_outlier"),
            F.when(flag, F.col("c2"))
            .otherwise(2 * F.col("cents"))
            .cast("long")
            .alias("replaced2"),
        )
        .orderBy("nation", "day")
    )


@query(
    "mann_kendall_trend",
    oracle="""
    WITH cents AS (
        SELECT CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1),
    grid AS (
        SELECT CAST(UNNEST(range((SELECT MIN(day) FROM cents),
                                 (SELECT MAX(day) FROM cents) + 1))
                    AS BIGINT) AS day),
    x AS (
        SELECT g.day, (COALESCE(c.cents, 0) + 50) // 100 AS v
        FROM grid g LEFT JOIN cents c USING (day)),
    pairs AS (
        SELECT CAST(SUM(CASE WHEN b.v > a.v THEN 1
                             WHEN b.v < a.v THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(ROUND(2 * quantile_cont(
                   CAST(ROUND(CAST(b.v - a.v AS DOUBLE) * 1000000
                              / (b.day - a.day)) AS BIGINT), 0.5))
                    AS BIGINT) AS sen2_micro
        FROM x a JOIN x b ON b.day > a.day),
    ties AS (
        SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM x GROUP BY v)),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM x)
    SELECT nn.n AS n_days, p.s_stat, p.n_pairs,
           CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - t.tie18 AS BIGINT)
               AS var18,
           p.sen2_micro,
           ROUND(CASE
               WHEN nn.n * (nn.n - 1) * (2 * nn.n + 5) - t.tie18 <= 0
                   THEN 0
               WHEN p.s_stat > 0 THEN (p.s_stat - 1)
                   / SQRT((nn.n * (nn.n - 1) * (2 * nn.n + 5) - t.tie18)
                          / 18.0)
               WHEN p.s_stat < 0 THEN (p.s_stat + 1)
                   / SQRT((nn.n * (nn.n - 1) * (2 * nn.n + 5) - t.tie18)
                          / 18.0)
               ELSE 0 END, 6) AS z_stat
    FROM pairs p, ties t, nn
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X325: Mann-Kendall trend test + Sen's slope over the daily
    revenue series — the distribution-free is-it-trending gate run
    before holt/seasonal forecasts (S = sum of pairwise sign
    differences; tie-corrected variance; Sen = median pairwise slope,
    the robust trend magnitude). The day table is CALENDAR-BOUNDED, so
    the O(days^2) pair self-join is bounded by declaration at any data
    scale (the isotonic_calibration argument — years of days is
    thousands of rows, pairs are millions, constant in the DATA size);
    everything upstream is one keyed day rollup. Determinism: the
    series is integer dollars ((cents+50) DIV 100), S and the tie term
    are BIGINTs; each pairwise slope is rounded to integer MICRO-
    dollars/day ((xb-xa)*1e6 exact in double, one correctly-rounded
    division), and the median ships DOUBLED (2*median of integers =
    mid-sum, exact) — the hampel/spearman discipline; z is one shared
    IEEE expression over exact integers (emitted beside it), rounded 6.
    The variance ships as var18 = 18*Var(S) to stay integer."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.groupBy(
        F.expr(
            "CAST(FLOOR(unix_timestamp(o_orderdate)) AS BIGINT) DIV 86400"
        ).alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    grid = cents.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).select(F.explode(F.sequence("d0", "d1")).alias("day"))
    x = grid.join(cents, "day", "left").select(
        "day", F.expr("(COALESCE(cents, 0) + 50) DIV 100").alias("v")
    )
    a = x.select(F.col("day").alias("da"), F.col("v").alias("va"))
    b = x.select(F.col("day").alias("db"), F.col("v").alias("vb"))
    slope_micro = F.round(
        (F.col("vb") - F.col("va")).cast("double")
        * 1000000
        / (F.col("db") - F.col("da"))
    ).cast("long")
    pairs = (
        a.join(F.broadcast(b), F.col("db") > F.col("da"))
        .withColumn("sm", slope_micro)
        .agg(
            F.sum(
                F.when(F.col("vb") > F.col("va"), 1)
                .when(F.col("vb") < F.col("va"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat"),
            F.count("*").cast("long").alias("n_pairs"),
            F.round(2 * F.expr("percentile(sm, 0.5)"))
            .cast("long")
            .alias("sen2_micro"),
        )
    )
    ties = (
        x.groupBy("v")
        .agg(F.count("*").cast("long").alias("t"))
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie18")
        )
    )
    nn = x.agg(F.count("*").cast("long").alias("n"))
    n, s = F.col("n"), F.col("s_stat")
    var18 = (n * (n - 1) * (2 * n + 5) - F.col("tie18")).cast("long")
    zden = F.sqrt(var18.cast("double") / 18.0)
    return (
        pairs.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(nn))
        .select(
            n.alias("n_days"),
            "s_stat",
            "n_pairs",
            var18.alias("var18"),
            "sen2_micro",
            F.round(
                F.when(var18 <= 0, 0.0)
                .when(s > 0, (s - 1).cast("double") / zden)
                .when(s < 0, (s + 1).cast("double") / zden)
                .otherwise(0.0),
                6,
            ).alias("z_stat"),
        )
    )


@query(
    "xyz_variability_classes",
    oracle="""
    WITH wk AS (
        SELECT l_partkey AS partkey,
               CAST(epoch(l_shipdate) AS BIGINT) // 604800 AS week,
               CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY 1, 2),
    w AS (
        SELECT CAST(COUNT(DISTINCT week) AS BIGINT) AS n_weeks FROM wk),
    per AS (
        SELECT partkey,
               CAST(SUM(q) AS BIGINT) AS s_qty,
               CAST(SUM(q * q) AS BIGINT) AS s_qty2
        FROM wk GROUP BY 1),
    c AS (
        SELECT p.partkey, w.n_weeks, p.s_qty, p.s_qty2,
               CAST(w.n_weeks * p.s_qty2 - p.s_qty * p.s_qty AS BIGINT)
                   AS cv2_num
        FROM per p, w)
    SELECT partkey, n_weeks, s_qty, s_qty2, cv2_num,
           CASE WHEN s_qty <= 0 THEN 'Z'
                WHEN 4 * cv2_num <= 49 * s_qty * s_qty THEN 'X'
                WHEN 4 * cv2_num <= 81 * s_qty * s_qty THEN 'Y'
                ELSE 'Z' END AS xyz_class,
           ROUND(CASE WHEN s_qty > 0
                      THEN SQRT(CAST(cv2_num AS DOUBLE)) / s_qty
                      ELSE 0 END, 6) AS cv
    FROM c ORDER BY partkey
    """,
)
def xyz_variability_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X327: XYZ demand-variability classification per part — the
    planning companion to abc_classification (X170): X = steady demand
    (CV <= 0.5, forecastable), Y = variable (CV <= 1.0), Z = erratic;
    together they form the ABC-XYZ inventory matrix. CV is computed
    over the part's WEEKLY demand with zero weeks included — and the
    key algebraic move is that zero weeks contribute nothing to S or
    Sum(q^2), so the dense part-x-week scaffold is never materialized:
    n is the single GLOBAL distinct-week count (1-row broadcast) and
    CV^2 = (n*Sq2 - S^2)/S^2 comes from the observed rows alone. The
    class boundaries are INTEGER cross-multiplications (X iff
    4*(n*Sq2 - S^2) <= cut_x^2 * S^2, Y iff <= cut_y^2 * S^2) — no
    float threshold can straddle an engine ULP. The cuts are 3.5/4.5
    — the same rule as the industry 0.5/1.0, recalibrated to this
    fixture's CV range (sparse weekly demand puts every part's CV in
    ~2.9-7.1 at every SF; the test pins that all three classes fire);
    a deployment sets its own cuts. The reported cv is one correctly-rounded
    SQRT + division over the emitted exact integers, rounded 6. Plan:
    two keyed rollups + a 1-row broadcast — scan-bound at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    wk = li.groupBy(
        F.col("l_partkey").alias("partkey"),
        F.expr(
            "CAST(FLOOR(unix_timestamp(l_shipdate)) AS BIGINT) DIV 604800"
        ).alias("week"),
    ).agg(
        F.sum(F.floor(F.col("l_quantity")).cast("long"))
        .cast("long")
        .alias("q")
    )
    w = wk.agg(
        F.countDistinct("week").cast("long").alias("n_weeks")
    )
    per = wk.groupBy("partkey").agg(
        F.sum("q").cast("long").alias("s_qty"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("s_qty2"),
    )
    c = per.crossJoin(F.broadcast(w)).withColumn(
        "cv2_num",
        (
            F.col("n_weeks") * F.col("s_qty2")
            - F.col("s_qty") * F.col("s_qty")
        ).cast("long"),
    )
    s2 = F.col("s_qty") * F.col("s_qty")
    return c.select(
        "partkey",
        "n_weeks",
        "s_qty",
        "s_qty2",
        "cv2_num",
        F.when(F.col("s_qty") <= 0, "Z")
        .when(4 * F.col("cv2_num") <= 49 * s2, "X")
        .when(4 * F.col("cv2_num") <= 81 * s2, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
        F.round(
            F.when(
                F.col("s_qty") > 0,
                F.sqrt(F.col("cv2_num").cast("double")) / F.col("s_qty"),
            ).otherwise(0.0),
            6,
        ).alias("cv"),
    ).orderBy("partkey")


@query(
    "slo_burn_alerts",
    oracle=f"""
    WITH h AS (
        SELECT CAST(FLOOR({EPOCH_TS} / 3600) AS BIGINT) AS hour,
               CAST(COUNT(*) AS BIGINT) AS t,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS e
        FROM events GROUP BY 1),
    grid AS (
        SELECT CAST(UNNEST(range((SELECT MIN(hour) FROM h),
                                 (SELECT MAX(hour) FROM h) + 1))
                    AS BIGINT) AS hour),
    x AS (
        SELECT g.hour, COALESCE(h.t, 0) AS t, COALESCE(h.e, 0) AS e
        FROM grid g LEFT JOIN h USING (hour)),
    w6 AS (
        SELECT c.hour,
               CAST(SUM(n.t) AS BIGINT) AS t6,
               CAST(SUM(n.e) AS BIGINT) AS e6
        FROM x c JOIN x n ON n.hour BETWEEN c.hour - 5 AND c.hour
        GROUP BY 1)
    SELECT x.hour, x.e AS e_1h, x.t AS t_1h, w.e6 AS e_6h, w.t6 AS t_6h,
           ROUND(CASE WHEN x.t > 0
                      THEN 100.0 * x.e / x.t ELSE 0 END, 6) AS burn_1h,
           ROUND(CASE WHEN w.t6 > 0
                      THEN 100.0 * w.e6 / w.t6 ELSE 0 END, 6) AS burn_6h,
           CAST(CASE WHEN 1000 * x.e > 144 * x.t AND x.t > 0
                      AND 100 * w.e6 > 6 * w.t6
                     THEN 1 ELSE 0 END AS INT) AS page_alert,
           CAST(CASE WHEN 100 * w.e6 > 3 * w.t6 AND w.t6 > 0
                     THEN 1 ELSE 0 END AS INT) AS ticket_alert
    FROM x JOIN w6 w USING (hour)
    ORDER BY x.hour
    """,
)
def slo_burn_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X329: multi-window multi-burn-rate SLO alerting (the Google SRE
    workbook rule) over the event error stream — per hour, the error
    budget burn rate against a 99%-availability SLO on the trailing 1h
    and 6h windows; PAGE when the fast window burns > 14.4x budget AND
    the slow window confirms (> 6x, filters blips); TICKET on a
    sustained slow burn (> 3x). Every threshold is an INTEGER
    cross-multiplication over exact counts (burn_1h > 14.4 with budget
    1/100 <=> 1000*e > 144*t; the 6x and 3x rules likewise), so no
    float ratio decides an alert; the reported burn rates are single
    divisions of the emitted integers, rounded 6. Trailing 6h windows
    come from a 6-offset explode joined KEYED on hour (the hampel
    move), gap hours zero-filled off the calendar grid. Plan: one hour
    rollup + one keyed 6-fanout join over the HOUR-BOUNDED grid —
    calendar-bounded at any data scale."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hour")
    ).agg(
        F.count("*").cast("long").alias("t"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("e"),
    )
    grid = h.agg(F.min("hour").alias("h0"), F.max("hour").alias("h1")).select(
        F.explode(F.sequence("h0", "h1")).alias("hour")
    )
    x = grid.join(h, "hour", "left").select(
        "hour",
        F.coalesce("t", F.lit(0)).alias("t"),
        F.coalesce("e", F.lit(0)).alias("e"),
    )
    fan = x.select(
        "t",
        "e",
        F.explode(F.sequence(F.lit(0), F.lit(5))).alias("off"),
        (F.col("hour") + F.col("off")).alias("chour"),
    )
    w6 = (
        fan.join(grid.select(F.col("hour").alias("chour")), "chour")
        .groupBy(F.col("chour").alias("hour"))
        .agg(
            F.sum("t").cast("long").alias("t6"),
            F.sum("e").cast("long").alias("e6"),
        )
    )
    j = x.join(w6, "hour")
    e, t, e6, t6 = F.col("e"), F.col("t"), F.col("e6"), F.col("t6")
    burn = lambda ec, tc: F.round(  # noqa: E731
        F.when(tc > 0, 100.0 * ec.cast("double") / tc).otherwise(0.0), 6
    )
    return j.select(
        "hour",
        e.alias("e_1h"),
        t.alias("t_1h"),
        e6.alias("e_6h"),
        t6.alias("t_6h"),
        burn(e, t).alias("burn_1h"),
        burn(e6, t6).alias("burn_6h"),
        (
            (1000 * e > 144 * t) & (t > 0) & (100 * e6 > 6 * t6)
        )
        .cast("int")
        .alias("page_alert"),
        ((100 * e6 > 3 * t6) & (t6 > 0)).cast("int").alias("ticket_alert"),
    ).orderBy("hour")


def _cramers_sql(src: str, a: str, b: str, label: str) -> str:
    """One pair's Cramér's V CTE chain (DuckDB side). Per-cell chi2
    terms obs^2*n/(r*c) are evaluated on ONE fixed double expression
    tree and rounded to integer MICRO-units BEFORE the sum (order-free
    integer cumulation — the causal_impact discipline), so the pair's
    chi2 is engine-exact by construction."""
    return f"""
        SELECT '{label}' AS pair,
               n_tot AS n,
               r_cnt, c_cnt,
               CAST(LEAST(r_cnt - 1, c_cnt - 1) AS BIGINT) AS df,
               CAST(SUM(term_micro) - 1000000 * n_tot AS BIGINT)
                   AS chi2_micro,
               ROUND(SQRT(GREATEST(
                   CAST(SUM(term_micro) - 1000000 * n_tot AS DOUBLE)
                   / 1000000 / (n_tot * LEAST(r_cnt - 1, c_cnt - 1)),
                   0)), 6) AS cramers_v
        FROM (
            SELECT o.obs, rm.r_n, cm.c_n,
                   CAST(ROUND(CAST(t.n_tot AS DOUBLE) * o.obs * o.obs
                              * 1000000 / (rm.r_n * cm.c_n))
                        AS BIGINT) AS term_micro,
                   t.n_tot, t.r_cnt, t.c_cnt
            FROM (SELECT {a} AS a, {b} AS b,
                         CAST(COUNT(*) AS BIGINT) AS obs
                  FROM {src} GROUP BY 1, 2) o
            JOIN (SELECT {a} AS a, CAST(SUM(cnt) AS BIGINT) AS r_n
                  FROM (SELECT {a}, COUNT(*) AS cnt FROM {src}
                        GROUP BY {a}, {b})
                  GROUP BY 1) rm ON o.a = rm.a
            JOIN (SELECT {b} AS b, CAST(SUM(cnt) AS BIGINT) AS c_n
                  FROM (SELECT {a}, {b}, COUNT(*) AS cnt FROM {src}
                        GROUP BY {a}, {b})
                  GROUP BY 1) cm ON o.b = cm.b
            CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
                               CAST(COUNT(DISTINCT {a}) AS BIGINT) AS r_cnt,
                               CAST(COUNT(DISTINCT {b}) AS BIGINT) AS c_cnt
                        FROM {src}) t)
        GROUP BY n_tot, r_cnt, c_cnt
    """


@query(
    "cramers_v_matrix",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(CAST(FLOOR({EPOCH_TS} / 86400) AS BIGINT) % 7
                    AS VARCHAR) AS dow
        FROM events),
    cust AS (
        SELECT c_mktsegment, CAST(c_nationkey AS VARCHAR) AS nk
        FROM customer)
    SELECT * FROM (
        {{p1}}
        UNION ALL
        {{p2}}
        UNION ALL
        {{p3}}
    ) ORDER BY pair
    """.format(
        p1=_cramers_sql("ev", "event_type", "dow", "event_type_x_dow"),
        p2=_cramers_sql(
            "orders", "o_orderpriority", "o_orderstatus",
            "priority_x_status",
        ),
        p3=_cramers_sql("cust", "c_mktsegment", "nk", "segment_x_nation"),
    ),
)
def cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X330: Cramér's V association matrix over three categorical pairs
    from three tables (event type x day-of-week, order priority x
    status, market segment x nation) — the EFFECT-SIZE companion to
    chi2_independence (X73 reports per-cell terms; V normalizes the
    statistic to [0,1] so pairs of different dimensions compare). The
    float trap is the chi2 SUM over cells (add-order differs across
    engines): each cell's term obs^2*n/(r*c) is evaluated on one fixed
    double expression tree (every input an exact BIGINT) and rounded to
    integer MICRO-units BEFORE the sum, so the accumulation is
    order-free integer addition; V is one shared
    SQRT(chi2/(n*min(r-1,c-1))) tree over the emitted integers. Null-
    true pairs (independent columns) read V ~ 0; the segment x nation
    pair too (uniform synth) — the test pins V in [0,1] and chi2 >= 0
    up to micro-rounding. Plan per pair: one contingency rollup
    (localCheckpoint'ed, the X73 move), marginals broadcast back, one
    1-row reduce; three pairs union to a 3-row table."""

    def one_pair(df: DataFrame, a: str, b: str, label: str) -> DataFrame:
        o = tracked_checkpoint(
            df.groupBy(F.col(a).alias("a"), F.col(b).alias("b"))
            .agg(F.count("*").cast("long").alias("obs"))
        )
        rm = o.groupBy("a").agg(F.sum("obs").cast("long").alias("r_n"))
        cm = o.groupBy("b").agg(F.sum("obs").cast("long").alias("c_n"))
        t = o.agg(
            F.sum("obs").cast("long").alias("n_tot"),
            F.count_distinct(F.col("a")).cast("long").alias("r_cnt"),
            F.count_distinct(F.col("b")).cast("long").alias("c_cnt"),
        )
        cells = (
            o.join(F.broadcast(rm), "a")
            .join(F.broadcast(cm), "b")
            .crossJoin(F.broadcast(t))
            .withColumn(
                "term_micro",
                F.round(
                    F.col("n_tot").cast("double")
                    * F.col("obs")
                    * F.col("obs")
                    * 1000000
                    / (F.col("r_n") * F.col("c_n"))
                ).cast("long"),
            )
        )
        df_c = F.least(F.col("r_cnt") - 1, F.col("c_cnt") - 1)
        return (
            cells.groupBy("n_tot", "r_cnt", "c_cnt")
            .agg(
                (F.sum("term_micro") - 1000000 * F.col("n_tot"))
                .cast("long")
                .alias("chi2_micro")
            )
            .select(
                F.lit(label).alias("pair"),
                F.col("n_tot").alias("n"),
                "r_cnt",
                "c_cnt",
                df_c.cast("long").alias("df"),
                "chi2_micro",
                F.round(
                    F.sqrt(
                        F.greatest(
                            F.col("chi2_micro").cast("double")
                            / 1000000
                            / (F.col("n_tot") * df_c),
                            F.lit(0.0),
                        )
                    ),
                    6,
                ).alias("cramers_v"),
            )
        )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 7)
        .cast("string")
        .alias("dow"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", F.col("c_nationkey").cast("string").alias("nk")
    )
    return (
        one_pair(ev, "event_type", "dow", "event_type_x_dow")
        .unionAll(
            one_pair(
                orders, "o_orderpriority", "o_orderstatus",
                "priority_x_status",
            )
        )
        .unionAll(one_pair(cust, "c_mktsegment", "nk", "segment_x_nation"))
        .orderBy("pair")
    )


@query(
    "growth_accounting_weekly",
    oracle=f"""
    WITH p AS (
        SELECT DISTINCT user_id,
               CAST(FLOOR({EPOCH_TS} / 604800) AS BIGINT) AS week
        FROM events),
    fw AS (
        SELECT user_id, MIN(week) AS first_week FROM p GROUP BY 1),
    grid AS (
        SELECT CAST(UNNEST(range((SELECT MIN(week) FROM p),
                                 (SELECT MAX(week) FROM p) + 1))
                    AS BIGINT) AS week),
    cur AS (
        SELECT p.week, p.user_id, f.first_week,
               CASE WHEN prev.user_id IS NOT NULL THEN 1 ELSE 0 END
                   AS was_active
        FROM p
        JOIN fw f USING (user_id)
        LEFT JOIN p prev ON prev.user_id = p.user_id
                        AND prev.week = p.week - 1),
    per AS (
        SELECT week,
               CAST(SUM(CASE WHEN first_week = week THEN 1 ELSE 0 END)
                    AS BIGINT) AS new_users,
               CAST(SUM(CASE WHEN first_week < week AND was_active = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS retained,
               CAST(SUM(CASE WHEN first_week < week AND was_active = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
        FROM cur GROUP BY 1),
    churn AS (
        SELECT a.week + 1 AS week, CAST(COUNT(*) AS BIGINT) AS churned
        FROM p a LEFT JOIN p b ON b.user_id = a.user_id
                              AND b.week = a.week + 1
        WHERE b.user_id IS NULL
        GROUP BY 1)
    SELECT g.week,
           COALESCE(pr.new_users, 0) AS new_users,
           COALESCE(pr.retained, 0) AS retained,
           COALESCE(pr.resurrected, 0) AS resurrected,
           CASE WHEN g.week <= (SELECT MAX(week) FROM p)
                THEN COALESCE(ch.churned, 0) ELSE 0 END AS churned,
           COALESCE(pr.new_users, 0) + COALESCE(pr.retained, 0)
               + COALESCE(pr.resurrected, 0) AS active,
           ROUND(CASE WHEN COALESCE(ch.churned, 0) > 0
                      THEN CAST(COALESCE(pr.new_users, 0)
                                + COALESCE(pr.resurrected, 0) AS DOUBLE)
                           / ch.churned
                      ELSE 0 END, 6) AS quick_ratio
    FROM grid g
    LEFT JOIN per pr ON pr.week = g.week
    LEFT JOIN churn ch ON ch.week = g.week
    ORDER BY g.week
    """,
)
def growth_accounting_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X331: weekly growth accounting — the NEW / RETAINED /
    RESURRECTED / CHURNED user decomposition (the Social-Capital MAU
    framework) every growth team reports, plus the quick ratio
    (new+resurrected)/churned. The decomposition is pure set algebra
    on user-week presence: new = first week, retained = active this
    week AND last, resurrected = active this week, inactive last,
    seen before; churned(w) = active w-1, inactive w. All four are
    keyed equi-joins of the deduped presence table with itself at
    lag 1 plus a first-week rollup — no window over users, no
    distinct-count windows; every count is an exact BIGINT and the
    identity active = new + retained + resurrected is structural
    (test-pinned, with conservation: active(w) = active(w-1) + new +
    resurrected - churned). The only float is the quick ratio, one
    division of emitted integers. Calendar-bounded week grid zero-
    fills silent weeks. At 100 TB: presence dedup is the one
    data-sized shuffle; everything after is |users x weeks| keyed."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week"),
    ).distinct()
    fw = p.groupBy("user_id").agg(F.min("week").alias("first_week"))
    grid = p.agg(
        F.min("week").alias("w0"), F.max("week").alias("w1")
    ).select(F.explode(F.sequence("w0", "w1")).alias("week"))
    prev = p.select(
        "user_id", (F.col("week") + 1).alias("week"), F.lit(1).alias("was")
    )
    cur = (
        p.join(fw, "user_id")
        .join(prev, ["user_id", "week"], "left")
        .select(
            "week",
            "first_week",
            F.coalesce("was", F.lit(0)).alias("was_active"),
        )
    )
    per = cur.groupBy("week").agg(
        F.sum(
            F.when(F.col("first_week") == F.col("week"), 1).otherwise(0)
        )
        .cast("long")
        .alias("new_users"),
        F.sum(
            F.when(
                (F.col("first_week") < F.col("week"))
                & (F.col("was_active") == 1),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("retained"),
        F.sum(
            F.when(
                (F.col("first_week") < F.col("week"))
                & (F.col("was_active") == 0),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("resurrected"),
    )
    churn = (
        p.select("user_id", (F.col("week") + 1).alias("week"))
        .join(
            p.select("user_id", "week", F.lit(1).alias("still")),
            ["user_id", "week"],
            "left",
        )
        .filter(F.col("still").isNull())
        .groupBy("week")
        .agg(F.count("*").cast("long").alias("churned"))
    )
    wmax = p.agg(F.max("week").alias("wmax"))
    out = (
        grid.join(per, "week", "left")
        .join(churn, "week", "left")
        .crossJoin(F.broadcast(wmax))
        .select(
            "week",
            F.coalesce("new_users", F.lit(0)).cast("long").alias("new_users"),
            F.coalesce("retained", F.lit(0)).cast("long").alias("retained"),
            F.coalesce("resurrected", F.lit(0))
            .cast("long")
            .alias("resurrected"),
            F.when(
                F.col("week") <= F.col("wmax"),
                F.coalesce("churned", F.lit(0)),
            )
            .otherwise(0)
            .cast("long")
            .alias("churned"),
        )
        .withColumn(
            "active",
            (
                F.col("new_users") + F.col("retained") + F.col("resurrected")
            ).cast("long"),
        )
        .withColumn(
            "quick_ratio",
            F.round(
                F.when(
                    F.col("churned") > 0,
                    (F.col("new_users") + F.col("resurrected")).cast(
                        "double"
                    )
                    / F.col("churned"),
                ).otherwise(0.0),
                6,
            ),
        )
    )
    return out.orderBy("week")


@query(
    "metric_change_contribution",
    oracle="""
    WITH o AS (
        SELECT c.c_nationkey AS nation,
               CAST(epoch(o.o_orderdate) AS BIGINT) // 86400 AS day,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    span AS (
        SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM o),
    per AS (
        SELECT nation,
               CAST(SUM(CASE WHEN day < (SELECT mid FROM span)
                             THEN cents ELSE 0 END) AS BIGINT) AS rev_a,
               CAST(SUM(CASE WHEN day >= (SELECT mid FROM span)
                             THEN cents ELSE 0 END) AS BIGINT) AS rev_b
        FROM o GROUP BY 1),
    tot AS (
        SELECT CAST(SUM(rev_a) AS BIGINT) AS tot_a,
               CAST(SUM(rev_b) AS BIGINT) AS tot_b
        FROM per)
    SELECT p.nation, p.rev_a, p.rev_b,
           CAST(p.rev_b - p.rev_a AS BIGINT) AS delta_cents,
           ROUND(CASE WHEN t.tot_b - t.tot_a <> 0
                      THEN CAST(p.rev_b - p.rev_a AS DOUBLE)
                           / (t.tot_b - t.tot_a)
                      ELSE 0 END, 6) AS contribution,
           ROUND(CAST(p.rev_b AS DOUBLE) / t.tot_b
                 - CAST(p.rev_a AS DOUBLE) / t.tot_a, 6) AS share_shift,
           CAST(RANK() OVER (ORDER BY ABS(p.rev_b - p.rev_a) DESC,
                                      p.nation) AS BIGINT) AS impact_rank
    FROM per p, tot t
    ORDER BY p.nation
    """,
)
def metric_change_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X341: root-cause contribution analysis (the Adtributor shape) —
    when the headline metric moves period-over-period, decompose the
    delta by dimension segment: each nation's contribution to the total
    revenue change, its mix-shift (share_b - share_a), and an impact
    rank by |delta|. Periods split at the integer midpoint day; revenue
    is exact integer cents per (nation, period), so delta and the rank
    key |delta| are BIGINTs (rank ties break on nation — both engines
    sort identically); contribution and share_shift are single
    divisions of emitted integers, rounded 6. Contributions sum to 1
    across segments by construction (test-pinned). Plan: one keyed
    rollup to |nations| x 2, a 1-row totals broadcast, and a rank
    window over the 25-row segment table (pmod-bounded). The dimension
    generalizes: any categorical column slots into the same plan."""
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
    j = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_nationkey").alias("nation"), "day", "cents"
    )
    span = j.agg(
        F.expr("(MIN(day) + MAX(day) + 1) DIV 2").alias("mid")
    )
    per = (
        j.crossJoin(F.broadcast(span))
        .groupBy("nation")
        .agg(
            F.sum(
                F.when(F.col("day") < F.col("mid"), F.col("cents")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("rev_a"),
            F.sum(
                F.when(
                    F.col("day") >= F.col("mid"), F.col("cents")
                ).otherwise(0)
            )
            .cast("long")
            .alias("rev_b"),
        )
    )
    tot = per.agg(
        F.sum("rev_a").cast("long").alias("tot_a"),
        F.sum("rev_b").cast("long").alias("tot_b"),
    )
    delta = (F.col("rev_b") - F.col("rev_a")).cast("long")
    wr = W.partitionBy(F.pmod(F.col("nation"), F.lit(1))).orderBy(
        F.abs(F.col("rev_b") - F.col("rev_a")).desc(), "nation"
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "nation",
            "rev_a",
            "rev_b",
            delta.alias("delta_cents"),
            F.round(
                F.when(
                    F.col("tot_b") - F.col("tot_a") != 0,
                    delta.cast("double")
                    / (F.col("tot_b") - F.col("tot_a")),
                ).otherwise(0.0),
                6,
            ).alias("contribution"),
            F.round(
                F.col("rev_b").cast("double") / F.col("tot_b")
                - F.col("rev_a").cast("double") / F.col("tot_a"),
                6,
            ).alias("share_shift"),
            F.rank().over(wr).cast("long").alias("impact_rank"),
        )
        .orderBy("nation")
    )


LATE_BLOCK = 10000  # dense event_id block width for the prefix-max scan


@query(
    "event_lateness_profile",
    oracle=f"""
    WITH e AS (
        SELECT event_id, {EPOCH_TS} AS s,
               event_id + CAST(list_sum(list_transform(range(15), i -> (strpos('0123456789abcdef', substr(md5('j:' || event_id), CAST(i + 1 AS INT), 1)) - 1) * [72057594037927936, 4503599627370496, 281474976710656, 17592186044416, 1099511627776, 68719476736, 4294967296, 268435456, 16777216, 1048576, 65536, 4096, 256, 16, 1][i + 1])) AS BIGINT) % 101 - 50 AS aseq
        FROM events),
    rm AS (
        SELECT event_id, s,
               MAX(s) OVER (ORDER BY aseq, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS run_max
        FROM e),
    lat AS (
        SELECT run_max - s AS late FROM rm)
    SELECT CAST(LENGTH(bin(late + 1)) - 1 AS BIGINT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(late) AS BIGINT) AS max_late_s
    FROM lat
    GROUP BY 1
    ORDER BY 1
    """,
)
def event_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X344: event-lateness profile — the distribution of how far
    behind the running max-event-time each event arrives (arrival
    order = event_id), bucketed into an HDR-style log2 histogram. This
    is THE measurement that sizes a streaming watermark: the bucket
    where the tail mass ends is the delay bound below which
    withWatermark would drop data. The interesting part is the
    RUNNING MAX over arrival order — a global prefix scan Spark must
    never do with one unpartitioned window. Because arrival sequence
    numbers are near-dense, the scan decomposes into contiguous VALUE
    blocks (block = aseq DIV {LATE_BLOCK}): a block-keyed running max + an
    EXCLUSIVE prefix max over the bounded block table, combined with
    GREATEST — block_offsets' prefix max, keyed on value buckets over a
    bounded bucket table instead of collected range blocks. All
    quantities are integer epoch seconds; the log2 bucket is the
    binary-string length (no libm). The DuckDB oracle runs the naive
    global window — hash equality proves the block decomposition."""
    from .dedup import h60_spark

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr("CAST(FLOOR(unix_timestamp(ts)) AS BIGINT)").alias("s"),
    ).withColumn(
        "aseq",
        F.col("event_id")
        + F.pmod(
            h60_spark(
                F.concat(F.lit("j:"), F.col("event_id").cast("string"))
            ),
            F.lit(101),
        )
        - 50,
    )
    blocked = ev.withColumn(
        "blk", F.expr(f"aseq DIV {LATE_BLOCK}")
    )
    w_in = (
        W.partitionBy("blk")
        .orderBy("aseq", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    within = blocked.withColumn("in_max", F.max("s").over(w_in))
    blk_max = blocked.groupBy("blk").agg(F.max("s").alias("bmax"))
    w_blk = (
        W.partitionBy(F.pmod(F.col("blk"), F.lit(1)))
        .orderBy("blk")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev = blk_max.withColumn("prev_max", F.max("bmax").over(w_blk)).select(
        "blk", "prev_max"
    )
    lat = (
        within.join(F.broadcast(prev), "blk")
        .withColumn(
            "run_max",
            F.greatest(
                F.col("in_max"),
                F.coalesce(F.col("prev_max"), F.lit(0)),
            ),
        )
        .select((F.col("run_max") - F.col("s")).alias("late"))
    )
    bucket = (
        F.length(F.conv((F.col("late") + 1).cast("string"), 10, 2)) - 1
    ).cast("long")
    return (
        lat.select(bucket.alias("log2_bucket"), "late")
        .groupBy("log2_bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.max("late").cast("long").alias("max_late_s"),
        )
        .orderBy("log2_bucket")
    )


K_ANON = 5


@query(
    "k_anonymity_audit",
    oracle=f"""
    WITH cls AS (
        SELECT c_nationkey // 5 AS nation_grp, c_mktsegment AS segment,
               CAST(CASE WHEN c_acctbal < 0 THEN 0 ELSE 1 END AS BIGINT)
                   AS bal_band,
               CAST(COUNT(*) AS BIGINT) AS class_size
        FROM customer GROUP BY 1, 2, 3),
    tot AS (
        SELECT CAST(SUM(class_size) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN class_size < {K_ANON}
                             THEN class_size ELSE 0 END) AS BIGINT)
                   AS at_risk
        FROM cls)
    SELECT c.nation_grp, c.segment, c.bal_band, c.class_size,
           CAST(CASE WHEN c.class_size >= {K_ANON} THEN 1 ELSE 0 END
                AS INT) AS meets_k,
           CAST(CASE WHEN c.class_size < {K_ANON} THEN c.class_size
                     ELSE 0 END AS BIGINT) AS suppress_rows,
           t.n AS total_rows,
           ROUND(CAST(t.at_risk AS DOUBLE) / t.n, 6) AS at_risk_share
    FROM cls c, tot t
    ORDER BY c.nation_grp, c.segment, c.bal_band
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X346: k-anonymity audit — the privacy gate run before releasing
    a quasi-identifier projection (here nation-group x market segment
    x balance sign — coarse enough that the smallest fixture has BOTH
    safe and at-risk classes, the property the test pins): every
    equivalence class smaller than
    k={K_ANON} re-identifies its members, so the audit reports each
    class's size, whether it meets k, the suppression cost (rows to
    drop under the suppression remedy), and the dataset-level at-risk
    share — the operational companion to dp_noisy_counts (X278) and
    pii_pseudonymize (X175) in the privacy family. Bands are integer
    arithmetic (no percentile cut to drift cross-engine); every column
    except the final share is an
    exact BIGINT. Plan: one keyed rollup to the class table + a 1-row
    totals broadcast — scan-bound; the generalization lattice search
    (coarsen bands until every class meets k) is a driver-side loop
    over re-parameterized runs of this same query."""
    c = load_table(spark, sf_dir, "customer")
    cls = c.groupBy(
        F.expr("c_nationkey DIV 5").alias("nation_grp"),
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("c_acctbal") < 0, 0)
        .otherwise(1)
        .cast("long")
        .alias("bal_band"),
    ).agg(F.count("*").cast("long").alias("class_size"))
    tot = cls.agg(
        F.sum("class_size").cast("long").alias("total_rows"),
        F.sum(
            F.when(F.col("class_size") < K_ANON, F.col("class_size")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("at_risk"),
    )
    return (
        cls.crossJoin(F.broadcast(tot))
        .select(
            "nation_grp",
            "segment",
            "bal_band",
            "class_size",
            (F.col("class_size") >= K_ANON).cast("int").alias("meets_k"),
            F.when(F.col("class_size") < K_ANON, F.col("class_size"))
            .otherwise(0)
            .cast("long")
            .alias("suppress_rows"),
            "total_rows",
            F.round(
                F.col("at_risk").cast("double") / F.col("total_rows"), 6
            ).alias("at_risk_share"),
        )
        .orderBy("nation_grp", "segment", "bal_band")
    )


@query(
    "price_volume_mix_bridge",
    oracle="""
    WITH li AS (
        SELECT l_partkey * 1000 + l_suppkey AS sku,
               CAST(epoch(l_shipdate) AS BIGINT) // 86400 AS day,
               CAST(FLOOR(l_quantity) AS BIGINT) AS qty,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem),
    span AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM li),
    per AS (
        SELECT sku,
               CAST(SUM(CASE WHEN day < (SELECT mid FROM span)
                             THEN qty ELSE 0 END) AS BIGINT) AS q0,
               CAST(SUM(CASE WHEN day < (SELECT mid FROM span)
                             THEN cents ELSE 0 END) AS BIGINT) AS r0,
               CAST(SUM(CASE WHEN day >= (SELECT mid FROM span)
                             THEN qty ELSE 0 END) AS BIGINT) AS q1,
               CAST(SUM(CASE WHEN day >= (SELECT mid FROM span)
                             THEN cents ELSE 0 END) AS BIGINT) AS r1
        FROM li GROUP BY 1)
    SELECT sku, q0, r0, q1, r1,
           CASE WHEN q0 = 0 AND q1 > 0 THEN 'new'
                WHEN q1 = 0 AND q0 > 0 THEN 'discontinued'
                WHEN q0 > 0 AND q1 > 0 THEN 'continuing'
                ELSE 'inactive' END AS part_class,
           CAST(CASE WHEN q0 > 0 AND q1 > 0
                     THEN CAST(ROUND((CAST(r1 AS DOUBLE) / q1
                                      - CAST(r0 AS DOUBLE) / q0) * q1)
                          AS BIGINT)
                     ELSE 0 END AS BIGINT) AS price_effect_cents,
           CAST(CASE WHEN q0 > 0 AND q1 > 0
                     THEN CAST(ROUND((q1 - q0)
                                     * (CAST(r0 AS DOUBLE) / q0))
                          AS BIGINT)
                     ELSE 0 END AS BIGINT) AS volume_effect_cents,
           CAST(CASE WHEN q0 = 0 THEN r1
                     WHEN q1 = 0 THEN -r0
                     ELSE 0 END AS BIGINT) AS mix_effect_cents
    FROM per
    ORDER BY sku
    """,
)
def price_volume_mix_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X347: price-volume-mix revenue bridge — the FP&A decomposition
    of a period-over-period revenue change into what CFOs actually ask:
    did we sell at different PRICES (price effect, valued at current
    volume), different VOLUMES (volume effect, valued at old price), or
    a different MIX (new / discontinued parts carry their full delta)?
    For continuing parts the two-factor identity (p1-p0)q1 + (q1-q0)p0
    = r1 - r0 holds ALGEBRAICALLY, so the per-part effects reconcile to
    the exact revenue delta (test-pinned within the one-rounding slack).
    Determinism: realized unit prices are rationals r/q, so each effect
    is ONE shared double expression over four exact BIGINTs rounded to
    integer CENTS at the part level (the causal_impact discipline);
    totals are order-free integer sums of those. Periods split at the
    integer midpoint ship-day. Plan: one keyed SKU rollup + a 1-row
    midpoint broadcast — scan-bound at 100 TB. The bridge grain is the
    (part, supplier) SKU — sparse enough that every fixture SF has
    new, discontinued AND continuing SKUs (test-pinned); coarser
    dimensions (part, brand, nation) swap in by changing the rollup
    key."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") * 1000 + F.col("l_suppkey")).alias("sku"),
        F.expr(
            "CAST(FLOOR(unix_timestamp(l_shipdate)) AS BIGINT) DIV 86400"
        ).alias("day"),
        F.floor(F.col("l_quantity")).cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    span = li.agg(F.expr("(MIN(day) + MAX(day) + 1) DIV 2").alias("mid"))
    per = (
        li.crossJoin(F.broadcast(span))
        .groupBy("sku")
        .agg(
            F.sum(
                F.when(F.col("day") < F.col("mid"), F.col("qty")).otherwise(0)
            )
            .cast("long")
            .alias("q0"),
            F.sum(
                F.when(F.col("day") < F.col("mid"), F.col("cents")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("r0"),
            F.sum(
                F.when(F.col("day") >= F.col("mid"), F.col("qty")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("q1"),
            F.sum(
                F.when(
                    F.col("day") >= F.col("mid"), F.col("cents")
                ).otherwise(0)
            )
            .cast("long")
            .alias("r1"),
        )
    )
    q0, r0, q1, r1 = (F.col(c) for c in ("q0", "r0", "q1", "r1"))
    cont = (q0 > 0) & (q1 > 0)
    p1 = r1.cast("double") / q1
    p0 = r0.cast("double") / q0
    return per.select(
        "sku",
        "q0",
        "r0",
        "q1",
        "r1",
        F.when((q0 == 0) & (q1 > 0), "new")
        .when((q1 == 0) & (q0 > 0), "discontinued")
        .when(cont, "continuing")
        .otherwise("inactive")
        .alias("part_class"),
        F.when(cont, F.round((p1 - p0) * q1).cast("long"))
        .otherwise(0)
        .cast("long")
        .alias("price_effect_cents"),
        F.when(cont, F.round((q1 - q0) * p0).cast("long"))
        .otherwise(0)
        .cast("long")
        .alias("volume_effect_cents"),
        F.when(q0 == 0, r1)
        .when(q1 == 0, -r0)
        .otherwise(0)
        .cast("long")
        .alias("mix_effect_cents"),
    ).orderBy("sku")


ROP_LEAD_WEEKS = 2
ROP_Z_MILLI = 1645  # z(95%) in milli-units — a literal, same both engines


@query(
    "reorder_point_policy",
    oracle=f"""
    WITH wk AS (
        SELECT l_partkey AS partkey,
               CAST(epoch(l_shipdate) AS BIGINT) // 604800 AS week,
               CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY 1, 2),
    w AS (SELECT CAST(COUNT(DISTINCT week) AS BIGINT) AS n_weeks FROM wk),
    per AS (
        SELECT partkey,
               CAST(SUM(q) AS BIGINT) AS s_qty,
               CAST(SUM(q * q) AS BIGINT) AS s_qty2
        FROM wk GROUP BY 1)
    SELECT p.partkey, w.n_weeks, p.s_qty, p.s_qty2,
           ROUND(CAST(p.s_qty AS DOUBLE) / w.n_weeks
                 * {ROP_LEAD_WEEKS}, 6) AS lead_demand,
           ROUND({ROP_Z_MILLI} * SQRT({ROP_LEAD_WEEKS}
                     * GREATEST(CAST(w.n_weeks * p.s_qty2
                                     - p.s_qty * p.s_qty AS DOUBLE)
                       / w.n_weeks / w.n_weeks, 0)) / 1000, 6)
               AS safety_stock,
           ROUND(CAST(p.s_qty AS DOUBLE) / w.n_weeks * {ROP_LEAD_WEEKS}
                 + {ROP_Z_MILLI} * SQRT({ROP_LEAD_WEEKS}
                       * GREATEST(CAST(w.n_weeks * p.s_qty2
                                       - p.s_qty * p.s_qty AS DOUBLE)
                         / w.n_weeks / w.n_weeks, 0)) / 1000, 6)
               AS reorder_point
    FROM per p, w
    ORDER BY p.partkey
    """,
)
def reorder_point_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X351: reorder-point policy per part — the inventory-control
    output the ABC/XYZ/FIFO family feeds: with lead time L =
    {ROP_LEAD_WEEKS} weeks and a 95% service level, ROP = L*mean
    weekly demand + z*sqrt(L*var) (safety stock against demand
    variability during replenishment). Demand statistics reuse the XYZ
    sufficient-statistics discipline (exact BIGINT S, S2 over weekly
    buckets with zero weeks contributing nothing; population variance
    = (n*S2 - S^2)/n^2); z ships as the integer literal
    {ROP_Z_MILLI} milli-units so the only floats are one shared IEEE
    tree per row (divisions + one correctly-rounded SQRT) over the
    emitted exact integers, rounded 6. Plan: two keyed rollups + a
    1-row week-count broadcast — scan-bound at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    wk = li.groupBy(
        F.col("l_partkey").alias("partkey"),
        F.expr(
            "CAST(FLOOR(unix_timestamp(l_shipdate)) AS BIGINT) DIV 604800"
        ).alias("week"),
    ).agg(
        F.sum(F.floor(F.col("l_quantity")).cast("long"))
        .cast("long")
        .alias("q")
    )
    w = wk.agg(F.countDistinct("week").cast("long").alias("n_weeks"))
    per = wk.groupBy("partkey").agg(
        F.sum("q").cast("long").alias("s_qty"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("s_qty2"),
    )
    j = per.crossJoin(F.broadcast(w))
    nw = F.col("n_weeks")
    mean_lead = F.col("s_qty").cast("double") / nw * ROP_LEAD_WEEKS
    var_pop = F.greatest(
        (nw * F.col("s_qty2") - F.col("s_qty") * F.col("s_qty")).cast(
            "double"
        )
        / nw
        / nw,
        F.lit(0.0),
    )
    safety = (
        ROP_Z_MILLI * F.sqrt(F.lit(float(ROP_LEAD_WEEKS)) * var_pop) / 1000
    )
    return j.select(
        "partkey",
        "n_weeks",
        "s_qty",
        "s_qty2",
        F.round(mean_lead, 6).alias("lead_demand"),
        F.round(safety, 6).alias("safety_stock"),
        F.round(mean_lead + safety, 6).alias("reorder_point"),
    ).orderBy("partkey")


@query(
    "net_revenue_retention",
    oracle=f"""
    WITH m AS (
        SELECT user_id,
               CAST(FLOOR({EPOCH_TS} / (86400 * 7)) AS BIGINT) AS period,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2),
    pair AS (
        SELECT a.period + 1 AS period,
               CAST(SUM(a.cents) AS BIGINT) AS base_cents,
               CAST(SUM(COALESCE(b.cents, 0)) AS BIGINT) AS nrr_cents,
               CAST(SUM(LEAST(a.cents, COALESCE(b.cents, 0))) AS BIGINT)
                   AS grr_cents,
               CAST(SUM(CASE WHEN COALESCE(b.cents, 0) > a.cents
                             THEN COALESCE(b.cents, 0) - a.cents
                             ELSE 0 END) AS BIGINT) AS expansion_cents,
               CAST(SUM(CASE WHEN COALESCE(b.cents, 0) < a.cents
                             THEN a.cents - COALESCE(b.cents, 0)
                             ELSE 0 END) AS BIGINT) AS contraction_cents
        FROM m a
        LEFT JOIN m b ON b.user_id = a.user_id
                     AND b.period = a.period + 1
        GROUP BY 1)
    SELECT period, base_cents, grr_cents, nrr_cents,
           expansion_cents, contraction_cents,
           ROUND(CAST(grr_cents AS DOUBLE) / base_cents, 6) AS grr,
           ROUND(CAST(nrr_cents AS DOUBLE) / base_cents, 6) AS nrr
    FROM pair
    WHERE base_cents > 0
    ORDER BY period
    """,
)
def net_revenue_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X352: gross / net revenue retention per weekly period — the SaaS
    board metric: of last period's revenue base, how much survived
    (GRR caps each user at their PRIOR spend — churn and contraction
    only) and how much the same users generate now including expansion
    (NRR). The per-user cap is the part a naive period-total ratio
    gets wrong: GRR = Sigma_u min(prev_u, cur_u) / Sigma_u prev_u
    needs the USER-level join, one keyed lag-join of the user-period
    revenue table with itself (the growth_accounting shape carrying
    cents instead of presence). Expansion/contraction decompose the
    NRR-GRR gap and reconcile exactly: nrr = grr + expansion, base =
    grr + contraction (both identities test-pinned — all five sums
    are exact BIGINT cents; the two ratios are single divisions,
    rounded 6). At 100 TB: one user-period rollup + one user-keyed
    lag join + one period rollup."""
    ev = load_table(spark, sf_dir, "events")
    m = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id",
            F.floor(F.unix_timestamp("ts") / (86400 * 7))
            .cast("long")
            .alias("period"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    nxt = m.select(
        "user_id",
        (F.col("period") - 1).alias("period"),
        F.col("cents").alias("next_cents"),
    )
    pair = (
        m.join(nxt, ["user_id", "period"], "left")
        .select(
            (F.col("period") + 1).alias("period"),
            F.col("cents").alias("prev"),
            F.coalesce("next_cents", F.lit(0)).alias("cur"),
        )
        .groupBy("period")
        .agg(
            F.sum("prev").cast("long").alias("base_cents"),
            F.sum("cur").cast("long").alias("nrr_cents"),
            F.sum(F.least(F.col("prev"), F.col("cur")))
            .cast("long")
            .alias("grr_cents"),
            F.sum(
                F.when(
                    F.col("cur") > F.col("prev"),
                    F.col("cur") - F.col("prev"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("expansion_cents"),
            F.sum(
                F.when(
                    F.col("cur") < F.col("prev"),
                    F.col("prev") - F.col("cur"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("contraction_cents"),
        )
    )
    return (
        pair.filter(F.col("base_cents") > 0)
        .select(
            "period",
            "base_cents",
            "grr_cents",
            "nrr_cents",
            "expansion_cents",
            "contraction_cents",
            F.round(
                F.col("grr_cents").cast("double") / F.col("base_cents"), 6
            ).alias("grr"),
            F.round(
                F.col("nrr_cents").cast("double") / F.col("base_cents"), 6
            ).alias("nrr"),
        )
        .orderBy("period")
    )
