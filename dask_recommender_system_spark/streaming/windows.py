"""Structured Streaming twins of the batch window operators (SURVEY.md
§2.8: the reference has no streaming; the engine declares event-time
windows as streaming-ready, and this module proves it by running the same
aggregation through ``readStream`` → watermark → windowed agg → sink).

Local smoke: the file source replays `events.parquet` as a bounded
stream; ``processAllAvailable`` drains it synchronously into a memory
sink, so the streaming result is comparable against the *batch* oracle —
`stream_window_tumbling` therefore gets the SAME DuckDB oracle as
`window_events_tumbling`: one definition of correctness for both
execution modes.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import query
from ..operators.windows import window_events_tumbling  # reuse the oracle
from ..operators import grouped as _grouped  # noqa: F401  (register the
# batch hysteresis twin before this module reuses its oracle below)
from ..registry import REGISTRY

# src path -> sniffed parquet schema (see read_events_stream)
_SNIFFED_SCHEMA: dict[str, T.StructType] = {}



def _stream_stage_root() -> str:
    """Staging root for stream-source adapters — under the PROCESS-scoped
    cache root (data._cache_root: fresh mkdtemp per process, removed at
    exit). VERDICT r08 item 6: the old stable /tmp/drs_stream_src was the
    tree's last cross-run /tmp artifact; symlinks and sorted copies are
    cheap to recreate per process and must not outlive one."""
    from ..data import _cache_root

    root = f"{_cache_root()}/stream_src"
    os.makedirs(root, exist_ok=True)
    return root


def _stream_src_path(src: str, leaf: str) -> str:
    """Directory-or-file stream source resolution (the read_events_stream
    rule, shared by every file-source stream): a multi-file table (the
    realistic at-scale layout, e.g. the sf1 probe's synthesized copy) is
    streamed as-is — symlink-staging a DIRECTORY would hide the part
    files one level below the non-recursive file listing and the stream
    would silently drain 0 rows (caught by the sf1 oracle sweep on
    stream_bin_pack / stream_queue_lindley); a single parquet FILE is
    staged under a symlink directory because the file source requires a
    directory."""
    import hashlib

    if os.path.isdir(src):
        return src
    stage = f"{_stream_stage_root()}/{hashlib.md5(src.encode()).hexdigest()[:12]}"
    os.makedirs(stage, exist_ok=True)
    link = f"{stage}/{leaf}"
    if not os.path.exists(link):
        os.symlink(src, link)
    return stage


def _staged_sorted_copy(spark: SparkSession, src: str, sort_cols: list[str]) -> str:
    """Stage a directory-shaped parquet source as RANGE-SHARDED
    sort_cols-sorted files the file source consumes in global order —
    the arrival-order adapter for order-sensitive streams.

    VERDICT r08 item 6 replaced two scale problems here: (a) the stage
    lived under a stable /tmp path that survived the process (the last
    cross-run artifact in the tree) — it now lives under the
    process-scoped cache root; (b) the copy was coalesce(1) — a single
    write task and a single unsplittable file, impossible past toy SFs.
    Now the copy is repartitionByRange(sort_cols) + sortWithinPartitions:
    shard k holds a contiguous sort-key range and shards are mtime-dated
    in range order, so Spark's FileStreamSource (which orders files by
    modification time) delivers every micro-batch prefix in global sort
    order — any batch boundary then respects the arrival-order contract,
    because the stateful kernels re-sort WITHIN a batch themselves
    (stateful._gather) and the state recurrence carries across batches.
    Shard count is derived from input bytes (~64 MB targets), not from
    the local core count.

    Written to a unique temp dir then atomically os.rename'd into place,
    so two concurrent sweep workers cannot race a mode('overwrite') into
    the same directory: rename onto an existing stage fails (ENOTEMPTY),
    the loser discards its temp copy and reads the winner's — which is
    complete by construction (ADVICE r06)."""
    import shutil
    import uuid as _uuid

    from ..data import content_fingerprint

    stage = f"{_stream_stage_root()}/{content_fingerprint(src)}_sorted"
    if not os.path.exists(f"{stage}/_SUCCESS"):
        src_bytes = 0
        for root, _dirs, files in os.walk(src):
            for fn in files:
                src_bytes += os.stat(os.path.join(root, fn)).st_size
        n_shards = max(1, min(256, src_bytes // (64 * 1024 * 1024) + 1))
        tmp = f"{stage}.tmp_{_uuid.uuid4().hex[:8]}"
        (
            spark.read.parquet(src)
            .repartitionByRange(int(n_shards), *sort_cols)
            .sortWithinPartitions(*sort_cols)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        # mtime-date the shards in range order: range partition i lands in
        # part-{i:05d}-*, so lexicographic part order IS sort-key order
        parts = sorted(
            fn for fn in os.listdir(tmp)
            if fn.startswith("part-") and fn.endswith(".parquet")
        )
        base = int(os.stat(tmp).st_mtime)
        for k, fn in enumerate(parts):
            os.utime(os.path.join(tmp, fn), (base + k, base + k))
        try:
            os.rename(tmp, stage)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return stage


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (schema-explicit — file
    streams cannot infer). The file source requires a *directory*, so the
    single parquet file is staged via symlink. In production this is the
    same code with ``format("kafka")``; everything downstream is
    source-agnostic.

    The stream schema comes from a batch footer read rather than a
    hard-coded struct: generators have written ``ts`` as both
    TIMESTAMP(NANOS) (readable only as int64 via the legacy conf) and
    TIMESTAMP(MICROS), and batch (`data.load_table`) and stream must agree
    on the same microsecond TimestampType either way."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = f"{sf_dir}/events.parquet"
    # footer-sniff once per src path: the eager batch read exists only to
    # learn the ts encoding, which is fixed within a run — caching it keeps
    # a blocking metadata job out of every streaming query's setup
    # (ADVICE r02)
    schema = _SNIFFED_SCHEMA.get(src)
    if schema is None:
        schema = spark.read.parquet(src).schema
        _SNIFFED_SCHEMA[src] = schema
    raw = spark.readStream.schema(schema).parquet(
        _stream_src_path(src, "events.parquet")
    )
    # same normalization as the batch loader — one function, so batch and
    # stream cannot desynchronize on the next encoding change
    from ..data import normalize_event_ts

    return normalize_event_ts(raw)


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """1-hour tumbling windowed aggregation with a watermark bounding
    state: late rows beyond the watermark are dropped and their windows
    finalized — the state-retention contract that makes this run forever
    at 100 TB/day."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def drain_stream(df: DataFrame, mode: str) -> DataFrame:
    """Run ``df`` into a uniquely named memory sink in output ``mode``,
    drain everything available, stop the stream (on failure too) and
    return the sink as a batch table."""
    name = f"strm_{uuid.uuid4().hex[:8]}"
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.table(name)


@query(
    "stream_window_tumbling",
    oracle=REGISTRY["window_events_tumbling"].oracle,
)
def stream_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 streaming form: readStream(events) → watermark → tumbling agg →
    memory sink, drained synchronously; checked against the *batch* oracle
    so streaming and batch share one correctness definition."""
    agg = tumbling_counts(read_events_stream(spark, sf_dir))
    return drain_stream(agg, "complete")


def sliding_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """1-hour windows sliding every 30 min (each event in exactly 2
    windows — Spark Expands the row before the watermarked agg)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.unix_timestamp("w.start").alias("window_start"), "n", "sum_value")
    )


@query(
    "stream_window_sliding",
    oracle=REGISTRY["window_events_sliding"].oracle,
)
def stream_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6b streaming form: the sliding-window agg through readStream +
    watermark, drained to a memory sink; same DuckDB oracle as the batch
    `window_events_sliding` — one correctness definition across modes."""
    agg = sliding_counts(read_events_stream(spark, sf_dir))
    return drain_stream(agg, "complete")


@query(
    "stream_dedup",
    oracle="""
    SELECT DISTINCT user_id,
           event_type,
           CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 3600) * 3600 AS BIGINT)
               AS hour_start
    FROM events
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup — the streaming twin of D1/dedup_exact:
    ``dropDuplicatesWithinWatermark`` keyed on (user_id, event_type,
    hour_start). The watermark EVICTS a key's dedup state once the key is
    older than the late-data bound, which is what makes exactly-once-per-key
    hold on an unbounded stream without unbounded state (the batch
    ``dropDuplicates`` twin keeps all keys forever). Output is projected to
    the key columns only, so which physical row survived is irrelevant and
    the result equals the batch DISTINCT — checked against a DuckDB oracle
    like every other dedup operator. Duplicates separated by more than the
    watermark re-emit; at 100 TB/day the watermark is the state-size knob."""
    stream = read_events_stream(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_start"),
        "ts",
    )
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "hour_start"])
        .select("user_id", "event_type", "hour_start")
    )
    return drain_stream(deduped, "append")


@query(
    "stream_session_window",
    oracle=REGISTRY["session_window_native"].oracle,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows through Structured Streaming: readStream →
    watermark → ``session_window`` agg → memory sink. Same DuckDB oracle
    as the batch `session_window_native` — one gap semantics across three
    implementations (batch lag-form, batch native, streaming native; plus
    the custom applyInPandasWithState form). In streaming, the watermark
    is what lets Spark FINALIZE a session: a session closes when the
    watermark passes its end, bounding per-user state on an unbounded
    stream. Complete output mode here so the bounded replay emits every
    session including the open tail, making the result oracle-comparable."""
    ev = read_events_stream(spark, sf_dir).select(
        "user_id", F.timestamp_seconds(F.unix_timestamp("ts")).alias("tss")
    )
    agg = (
        ev.withWatermark("tss", "1 hour")
        .groupBy(F.session_window("tss", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start"),
            F.unix_timestamp("w.end").alias("session_end"),
            "n",
        )
    )
    return drain_stream(agg, "complete")


@query(
    "stream_stream_join",
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type, value,
                      CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s
               FROM events)
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.ts_s AS click_ts,
           p.ts_s AS purchase_ts,
           ROUND(p.value, 6) AS purchase_value
    FROM e c JOIN e p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts_s >= c.ts_s AND p.ts_s <= c.ts_s + 7200
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join — click→purchase attribution
    within a 2-hour window, the canonical funnel query. Both sides are
    independent readStreams with event-time watermarks; the join carries
    an explicit time-range condition (`purchase.ts ∈ [click.ts, click.ts
    + 2 h]`), which is what lets Spark EVICT buffered click state once
    the purchase-side watermark passes click.ts + 2 h — without it the
    join would buffer every click forever. Timestamps are floored to
    whole seconds BEFORE the join on both engines so the match set is
    bit-identical to the batch self-join oracle (one correctness
    definition across modes, like every stream twin here). At 100 TB/day
    the watermark delay is the state-size knob and the user_id equi-key
    is what partitions the join state."""

    def side(event_type: str, alias: str) -> DataFrame:
        ev = read_events_stream(spark, sf_dir)
        return (
            ev.filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{alias}_id"),
                F.col("user_id").alias(f"{alias}_user"),
                F.timestamp_seconds(F.unix_timestamp("ts")).alias(f"{alias}_tss"),
                F.col("value").alias(f"{alias}_value"),
            )
            .withWatermark(f"{alias}_tss", "2 hours")
        )

    clicks = side("click", "click")
    purchases = side("purchase", "purchase")
    joined = clicks.join(
        purchases,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_tss") >= F.col("click_tss"))
        & (F.col("purchase_tss") <= F.col("click_tss") + F.expr("INTERVAL 2 HOURS")),
    ).select(
        F.col("click_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.unix_timestamp("click_tss").alias("click_ts"),
        F.unix_timestamp("purchase_tss").alias("purchase_ts"),
        F.round("purchase_value", 6).alias("purchase_value"),
    )
    return drain_stream(joined, "append")


@query(
    "stream_parse_logs",
    oracle=REGISTRY["parse_logs_regex"].oracle,
)
def stream_parse_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming raw-log ingestion — the tail -f shape of
    `parse_logs_regex`: the staged log-line directory replays through
    ``readStream.text`` into the SAME regexp_extract parse/cast chain
    (`operators.relational.parse_log_lines`, shared verbatim), so batch
    and stream share one oracle. Stateless narrow pipeline → append mode
    with no watermark needed; in production the source is the log
    shipper's bucket and this exact query runs forever."""
    from ..operators.relational import parse_log_lines, write_log_lines

    path = write_log_lines(spark, sf_dir)
    parsed = parse_log_lines(spark.readStream.text(path))
    return drain_stream(parsed, "append")


@query(
    "stream_foreachbatch_sink",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
           ROUND(value, 6) AS value
    FROM events
    """,
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ETL sink via ``foreachBatch`` — the production shape for
    writing a stream to batch storage with replay-safe (idempotent)
    semantics: each micro-batch lands in its OWN ``batch_id=`` partition
    with dynamic partition overwrite, so a batch replayed after a failure
    overwrites exactly its previous output instead of duplicating it
    (exactly-once at the sink without a transactional table format).
    foreachBatch is also where per-batch batch-only operations (MERGE,
    JDBC upserts, multi-sink fan-out) attach to a stream. Declared
    result: the sink read back — oracle-checked against the source
    table, pinning that stream → foreachBatch → parquet loses and
    duplicates nothing."""
    import shutil

    from ..operators.relational import IO_DIR

    out_dir = f"{IO_DIR}/stream_fb_sink"
    shutil.rmtree(out_dir, ignore_errors=True)
    stream = read_events_stream(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("ts_s"),
        F.round("value", 6).alias("value"),
    )

    def write_batch(df: DataFrame, batch_id: int) -> None:
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    q = stream.writeStream.foreachBatch(write_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(out_dir).select(
        "event_id", "user_id", "event_type", "ts_s", "value"
    )


@query(
    "stream_sessionize",
    # The drained stream emits exactly the batch session set MINUS each
    # user's final session when the event-time timer never fires: the final
    # watermark is max_t - 1800 (30-min delay) and the timer target is
    # end_s + 1800, and Spark fires a timer only when the watermark moves
    # STRICTLY past it, so the last session survives in state iff
    # end_s >= max_t - 3600. That closed-form rule makes the append-mode
    # output fully oracle-checkable (verified empirically: 945/946 batch
    # sessions at sf0.001, the one retained session sits exactly at
    # end_s = max_t).
    oracle="""
    WITH e AS (SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t
               FROM events),
    g AS (
        SELECT user_id, t,
               CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                        > 1800 THEN 1 ELSE 0 END AS new_sess
        FROM e),
    s AS (
        SELECT user_id, t,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM g),
    sess AS (
        SELECT user_id, CAST(sid AS BIGINT) AS session_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MIN(t) AS start_s, MAX(t) AS end_s
        FROM s GROUP BY user_id, sid),
    m AS (SELECT MAX(t) AS max_t FROM e),
    last AS (SELECT user_id, MAX(session_id) AS last_sid
             FROM sess GROUP BY user_id)
    SELECT sess.user_id, sess.session_id, sess.n_events,
           sess.start_s, sess.end_s
    FROM sess JOIN last ON sess.user_id = last.user_id CROSS JOIN m
    WHERE sess.session_id < last.last_sid OR sess.end_s < m.max_t - 3600
    """,
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator as a declared query:
    applyInPandasWithState sessionization (30-min gap) over the replayed
    events stream — one row per CLOSED session. State per user is
    (last_ts, session_id, n_events, start); the EventTimeTimeout timer
    flushes a session once the watermark passes its end + gap and removes
    the idle user's state slot (streaming/stateful.py), bounding state on
    an unbounded stream. Value-checked against the batch sessionization
    + watermark-flush rule (see oracle comment above) — the same
    promotion from rows-only that `hll_sketch_rollup` got."""
    from .stateful import apply_sessionization

    stream = read_events_stream(spark, sf_dir).select(
        "user_id", F.unix_timestamp("ts").alias("ts_s")
    )
    out = apply_sessionization(stream)
    return drain_stream(out, "append")


STREAM_HLL_BOUND = 0.05  # HLL++ default lgK rel-err ~1.6%; headroom for tiny windows


@query(
    "stream_hll_rollup",
    oracle="""
    SELECT CAST(FLOOR(epoch(date_trunc('hour', ts))) AS BIGINT)
             AS window_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(1 AS BIGINT) AS within_bound
    FROM events GROUP BY 1
    """,
)
def stream_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of hll_sketch_rollup (X44): per-hour HLL sketches of
    distinct users built INSIDE the watermarked streaming aggregate
    (``hll_sketch_agg`` is a mergeable typed aggregate, so it runs in
    streaming state like any sum), drained to the memory sink as binary
    sketch columns. A batch post-pass estimates each window and checks it
    against the exact per-window distinct count — the same
    bounded-error-flag promotion that made the batch sketch op
    value-checkable. At 100 TB this is the live-dashboard pattern: the
    streaming job maintains KB-sized sketch state per window instead of
    the distinct user SET, late data merges into the same sketch, and
    any coarser rollup (day, week) is a sketch union downstream — never
    a replay of the stream."""
    from ..data import load_table

    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .select(F.unix_timestamp("w.start").alias("window_start"), "sk")
    )
    sketches = drain_stream(agg, "complete")
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("window_start")
        )
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return (
        sketches.select(
            "window_start", F.hll_sketch_estimate("sk").alias("approx_users")
        )
        .join(exact, "window_start")
        .select(
            "window_start",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.greatest(
                    F.lit(STREAM_HLL_BOUND) * F.col("exact_users"), F.lit(3.0)
                )
            )
            .cast("long")
            .alias("within_bound"),
        )
    )


@query(
    "stream_drift_psi",
    oracle="""
    WITH d AS (
      SELECT LEAST(CAST(FLOOR(value / 25) AS BIGINT), 15) AS bin,
             CAST(FLOOR(epoch(date_trunc('hour', ts))) AS BIGINT) AS h
      FROM events
    ),
    mid AS (SELECT (MIN(h) + MAX(h)) / 2 AS m FROM d),
    c AS (
      SELECT d.bin,
             CAST(SUM(CASE WHEN d.h < mid.m THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ref,
             CAST(SUM(CASE WHEN d.h >= mid.m THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cur
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
def stream_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of data_drift_psi (X72): the live drift monitor. The
    STREAMING job maintains only per-(hour-window, bin) counts — bounded
    state: |windows in watermark| × |bins| rows, regardless of event
    volume — drained to the memory sink; the batch post-pass derives the
    reference/current split and the Laplace-smoothed PSI terms from
    those cells exactly as the batch operator does from its checkpointed
    cells. At 100 TB the cells table IS what you persist from the
    stream (a few KB/hour); re-anchoring the reference window or
    recomputing PSI is then cell arithmetic, never an event replay. Same
    bins, same smoothing, same output schema as the batch twin — one
    drift definition across modes."""
    from ..operators.analytics import PSI_BIN_MAX, PSI_BIN_W

    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.least(
                F.floor(F.col("value") / PSI_BIN_W).cast("long"),
                F.lit(PSI_BIN_MAX),
            ).alias("bin"),
        )
        .agg(F.count("*").alias("n"))
        .select(F.unix_timestamp("w.start").alias("h"), "bin", "n")
    )
    cells = drain_stream(agg, "complete")
    mid = cells.agg(((F.min("h") + F.max("h")) / 2).alias("m"))
    c = (
        cells.crossJoin(F.broadcast(mid))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("h") < F.col("m"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_ref"),
            F.sum(F.when(F.col("h") >= F.col("m"), F.col("n")).otherwise(0))
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


# --- streaming top-k items (X114) -----------------------------------------

STREAM_TOPK = 5  # leaderboard size per window


@query(
    "stream_topk_items",
    oracle=f"""
    WITH d AS (
      SELECT CAST(FLOOR(epoch(date_trunc('day', ts))) AS BIGINT) AS window_start,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS item_k
      FROM events
    ),
    c AS (SELECT window_start, item_k, CAST(COUNT(*) AS BIGINT) AS n
          FROM d GROUP BY 1, 2),
    r AS (SELECT window_start, item_k, n,
                 ROW_NUMBER() OVER (PARTITION BY window_start
                                    ORDER BY n DESC, item_k) AS rnk
          FROM c)
    SELECT window_start, item_k, n, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= {STREAM_TOPK}
    """,
)
def stream_topk_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X114: streaming per-window item leaderboard — daily tumbling
    windows over the event stream, counts per JSON-extracted item key
    kept in STREAMING state, top-STREAM_TOPK ranked in a batch
    post-pass over the drained cells (ranking inside the stream would
    force complete-mode output; counts-then-rank keeps the stream in
    append-friendly bounded state: |windows in watermark| x |item keys|
    rows regardless of event volume — the same split as
    stream_drift_psi). Checked against a full batch DuckDB oracle, so
    the leaderboard has one correctness definition across modes. At
    100 TB the cells table is what you persist; re-ranking with a
    different k is cell arithmetic, never an event replay."""
    ev = read_events_stream(spark, sf_dir)
    cells = (
        ev.withColumn("p", F.from_json("props", "k BIGINT"))
        .withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            F.col("p.k").alias("item_k"),
        )
        .agg(F.count("*").alias("n"))
        .select(F.unix_timestamp("w.start").alias("window_start"), "item_k", "n")
    )
    drained = drain_stream(cells, "complete")
    rk = W.partitionBy("window_start").orderBy(F.col("n").desc(), "item_k")
    return (
        drained.withColumn("rnk", F.row_number().over(rk).cast("long"))
        .filter(F.col("rnk") <= STREAM_TOPK)
        .select("window_start", "item_k", "n", "rnk")
    )


@query(
    "stream_cdc_upsert",
    oracle="""
    SELECT o_orderkey,
           CAST(CASE WHEN o_orderkey % 7 = 0
                THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) + 100000
                ELSE CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
           END AS BIGINT) AS totalprice_cents
    FROM orders WHERE o_orderkey % 13 <> 0
    """,
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — `merge_upsert_cdc`'s semantics arriving as a
    STREAM: a snapshot file plus update and delete delta files replay
    through `maxFilesPerTrigger=1` so the merge genuinely runs across
    multiple micro-batches, and each `foreachBatch` MERGEs its batch into
    the parquet state by the same union + seq-ranked-window
    last-writer-wins plan as the batch operator (ONE merge-key shuffle
    per batch, no full-outer join). Delete tombstones are KEPT in state —
    a replayed or late lower-seq row can never resurrect a deleted key —
    and filtered only at read time. State swaps via write-new-then-rename
    (a lazy reader can't overwrite its own input path); in production the
    state table is Delta/Iceberg MERGE, same plan shape, transactional
    swap. Money is integer cents end-to-end."""
    import shutil

    from pyspark.sql import Window as W

    from ..data import load_table
    from ..operators.relational import IO_DIR

    cdc_dir = f"{IO_DIR}/cdc_src"
    state_dir = f"{IO_DIR}/cdc_state"
    shutil.rmtree(cdc_dir, ignore_errors=True)
    shutil.rmtree(state_dir, ignore_errors=True)

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
            "totalprice_cents"
        ),
    )
    snap = o.select(
        "o_orderkey", "totalprice_cents", F.lit("I").alias("op"), F.lit(0).alias("seq")
    )
    upd = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        (F.col("totalprice_cents") + 100000).alias("totalprice_cents"),
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    dele = o.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        F.lit(0).cast("long").alias("totalprice_cents"),
        F.lit("D").alias("op"),
        F.lit(2).alias("seq"),
    )
    # one file per delta so maxFilesPerTrigger=1 yields >= 3 micro-batches
    for i, df in enumerate((snap, upd, dele)):
        df.coalesce(1).write.mode("overwrite").parquet(f"{cdc_dir}/d{i}")
        for f in __import__("glob").glob(f"{cdc_dir}/d{i}/part-*.parquet"):
            shutil.move(f, f"{cdc_dir}/{i:03d}.parquet")
        shutil.rmtree(f"{cdc_dir}/d{i}")

    schema = "o_orderkey BIGINT, totalprice_cents BIGINT, op STRING, seq INT"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(cdc_dir)
    )

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        import os

        s = batch.sparkSession
        frames = [batch]
        if os.path.exists(state_dir):
            frames.append(s.read.parquet(state_dir))
        merged = frames[0] if len(frames) == 1 else frames[0].unionByName(frames[1])
        w = W.partitionBy("o_orderkey").orderBy(F.col("seq").desc())
        latest = (
            merged.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        tmp = f"{state_dir}_next"
        latest.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(state_dir, ignore_errors=True)
        shutil.move(tmp, state_dir)

    q = stream.writeStream.foreachBatch(merge_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.read.parquet(state_dir)
        .filter(F.col("op") != "D")
        .select("o_orderkey", "totalprice_cents")
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
           c.c_nationkey AS nation, ROUND(e.value, 6) AS value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment — the most common production
    streaming join: an unbounded event stream equi-joined to a BATCH
    dimension table. Unlike stream-stream joins this needs NO watermark
    and NO join state: the static side broadcasts (or re-reads per
    micro-batch, picking up dimension updates), each batch joins
    stateless, and the output stays append-mode. At 100 TB/day the
    dimension broadcast is the whole cost model — keep dims compact or
    pre-bucket both sides. Oracle = the identical batch join."""
    from ..data import load_table

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nation"),
    )
    stream = read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", F.round("value", 6).alias("value")
    )
    enriched = stream.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "segment", "nation", "value"
    )
    return drain_stream(enriched, "append")


@query(
    "stream_kll_quantile_monitor",
    oracle="""
    WITH w AS (
        SELECT date_trunc('hour', ts) AS h, value FROM events)
    SELECT CAST(FLOOR(epoch(h)) AS BIGINT) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(value, 0.5), 6) AS exact_p50,
           CAST(1 AS BIGINT) AS p50_within_bound
    FROM w GROUP BY h
    """,
)
def stream_kll_quantile_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `kll_quantile_rollup` — live latency/size
    percentile dashboards: per-hour KLL sketches of `value` built INSIDE
    the watermarked streaming aggregate (`kll_sketch_agg_double` is a
    mergeable typed aggregate, so it runs in streaming state like any
    sum), drained as binary sketch columns, probed for p50 in a batch
    post-pass and value-checked against the exact per-window DISCRETE
    quantile envelope [disc-p25, disc-p75] — the same promotion as
    `stream_hll_rollup`. (Discrete, not interpolated: hourly windows
    hold a handful of rows, the sketch is in exact mode and returns an
    ACTUAL data value, and an interpolated [p45, p55] band can fall
    strictly between two adjacent data values — 88/720 windows failed
    that way at sf0.01 before this envelope.) The
    streaming job holds KB of sketch state per window instead of every
    value; day/week percentile rollups are sketch merges downstream,
    never a stream replay (the capability ordinary streaming percentiles
    simply don't have)."""
    from ..data import load_table

    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.kll_sketch_agg_double("value").alias("sk"))
        .select(F.unix_timestamp("w.start").alias("window_start"), "sk")
    )
    sketches = drain_stream(agg, "complete").select(
        "window_start",
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("est_p50"),
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("window_start")
        )
        .agg(
            F.count("*").alias("n"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)").alias(
                "lo"
            ),
            F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)").alias(
                "hi"
            ),
        )
    )
    return (
        sketches.join(exact, "window_start")
        .select(
            "window_start",
            "n",
            F.round(F.col("p50"), 6).alias("exact_p50"),
            F.col("est_p50")
            .between(F.col("lo"), F.col("hi"))
            .cast("long")
            .alias("p50_within_bound"),
        )
    )


@query(
    "stream_checkpoint_resume",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
           ROUND(value, 6) AS value
    FROM events
    """,
)
def stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint RECOVERY, exercised for real: the stream is started
    with a durable checkpointLocation, dies partway through its input
    backlog, and is RESTARTED from the same checkpoint — the read-back
    must equal the source exactly (no loss from under-replay, no
    duplicates from over-replay). This is the operational half of
    exactly-once that `stream_foreachbatch_sink` (idempotent writes)
    assumes: the file source's offsets live in the checkpoint, the
    restarted query resumes from the last committed batch, and the
    per-batch-partition dynamic overwrite makes the replayed batch
    idempotent. The events table is staged as MANY small files
    (maxFilesPerTrigger=1) so the death genuinely lands mid-backlog.

    The failure is INJECTED in foreachBatch after batch 2's sink write
    but before its offset commit — the worst-case crash window (output
    durable, progress not), so the restart MUST replay batch 2 and the
    dynamic overwrite must absorb the duplicate. Deterministic by
    construction (no timing poll), and killing at a batch boundary in
    our own code avoids Spark's mid-task job-cancellation path, whose
    giant py4j error string overflows the stream thread's error-classify
    regex (observed java.util.regex StackOverflowError noise under the
    driver-style plain session)."""
    import shutil

    from ..data import load_table
    from ..operators.relational import IO_DIR

    src_dir = f"{IO_DIR}/ckpt_src"
    out_dir = f"{IO_DIR}/ckpt_sink"
    ckpt_dir = f"{IO_DIR}/ckpt_state"
    kill_marker = f"{IO_DIR}/ckpt_killed"
    for d in (src_dir, out_dir, ckpt_dir):
        shutil.rmtree(d, ignore_errors=True)
    if os.path.exists(kill_marker):
        os.remove(kill_marker)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("ts_s"),
        F.round("value", 6).alias("value"),
    )
    # 8 input files -> 8 micro-batches
    ev.repartition(8).write.mode("overwrite").parquet(src_dir)
    schema = ev.schema

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )

        def write_batch(df: DataFrame, batch_id: int) -> None:
            (
                df.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(out_dir)
            )
            # first run only: die AFTER batch 2's output is durable but
            # BEFORE its offset commits — the restart must replay it
            if batch_id >= 2 and not os.path.exists(kill_marker):
                with open(kill_marker, "w") as f:
                    f.write("injected\n")
                raise RuntimeError(
                    "injected mid-backlog crash (checkpoint-resume test)"
                )

        return (
            stream.writeStream.option("checkpointLocation", ckpt_dir)
            .foreachBatch(write_batch)
            .start()
        )

    q = start()
    try:
        q.awaitTermination()  # terminates WITH the injected failure
    except Exception:
        pass  # StreamingQueryException: the injected crash, by design
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    return spark.read.parquet(out_dir).select(
        "event_id", "user_id", "event_type", "ts_s", "value"
    )


@query(
    "stream_update_mode",
    oracle=REGISTRY["window_events_tumbling"].oracle,
)
def stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode pinned: the streaming agg emits only rows that
    CHANGED each micro-batch (vs `stream_window_tumbling`'s complete
    mode re-emitting the whole table) — the mode that scales when the
    result table is large but churn per batch is small. The memory sink
    therefore accumulates a history of intermediate versions; the FINAL
    value per window key is the last emission, recovered with one keyed
    max_by over the sink (batch post-pass) — and must equal the batch
    oracle exactly, which is the semantic: update mode changes WHAT
    ships per batch, never what the result converges to. The events
    stage replays as multiple event-time-SCRAMBLED files so
    intermediate emissions genuinely occur — which is also why this
    query runs unwatermarked (a watermark would drop the scrambled
    chunks as late; `stream_window_tumbling` owns the watermarked
    form)."""
    import shutil

    from ..data import load_table, normalize_event_ts
    from ..operators.relational import IO_DIR

    src_dir = f"{IO_DIR}/upd_src"
    shutil.rmtree(src_dir, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(4).write.mode("overwrite").parquet(src_dir)
    stream = normalize_event_ts(
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    # NO watermark: the staged files are event-time-scrambled
    # (repartition), so a watermark would drop whole chunks as late —
    # update mode without a watermark keeps all state and drops nothing,
    # which is the configuration whose final table provably equals batch
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    sink = drain_stream(agg, "update")
    # last emission per key wins; n is monotonically nondecreasing per
    # key across emissions, so max_by on n with sum_value tiebreak IS the
    # final state
    return sink.groupBy("window_start", "event_type").agg(
        F.max("n").alias("n"),
        F.max_by("sum_value", F.struct("n", "sum_value")).alias("sum_value"),
    )


@query(
    "stream_available_now",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 6) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigger.AvailableNow pinned: process EXACTLY the data available
    at start across multiple rate-limited batches, then STOP — the
    batch-over-streaming-source pattern (nightly catch-up jobs over a
    Kafka/file backlog with streaming's checkpointing but a bounded
    runtime), replacing both always-on triggers and the deprecated
    Trigger.Once that ignored rate limits. The query terminates ITSELF
    (awaitTermination, no manual stop); the per-type aggregate of
    everything it consumed must equal the batch oracle — nothing
    skipped, nothing duplicated, nothing waited for."""
    stream = read_events_stream(spark, sf_dir)
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )
    name = f"strm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        # awaitTermination returns False on timeout — in that case the
        # memory table is incomplete, so fail loudly instead of returning
        # a silently-wrong aggregate
        if not q.awaitTermination(timeout=300):
            raise TimeoutError(
                "stream_available_now did not terminate within 300 s"
            )
    finally:
        q.stop()
    return spark.table(name)


@query(
    "stream_daily_unique_users",
    oracle="""
    SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
    FROM events GROUP BY 1
    """,
)
def stream_daily_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X240: EXACT daily distinct users through the stream — streaming
    aggregations cannot express COUNT(DISTINCT), so the standard
    composition is two chained stateful operators:
    ``dropDuplicatesWithinWatermark`` on (user_id, day) first (one
    surviving row per user-day, state evicted a day past the watermark),
    then an ordinary per-day COUNT of the survivors. Exactness comes
    from the dedup stage; bounded state comes from its watermark — the
    approximate alternative (`stream_hll_rollup`) trades this pipeline's
    second stateful stage for mergeable sketches. Matches the batch
    COUNT(DISTINCT) oracle exactly — the same one-correctness-definition
    rule every streaming twin follows."""
    stream = read_events_stream(spark, sf_dir).select(
        "user_id",
        "ts",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    )
    dd = stream.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(
        ["user_id", "day"]
    )
    agg = dd.groupBy("day").agg(F.count("*").alias("dau"))
    return drain_stream(agg, "complete")


@query(
    "stream_join_left_outer",
    oracle="""
    WITH c AS (
        SELECT event_id AS click_id, user_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS click_ts
        FROM events WHERE event_type = 'click'),
    p AS (
        SELECT event_id AS purchase_id, user_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS purchase_ts
        FROM events WHERE event_type = 'purchase'),
    wm AS (
        SELECT LEAST((SELECT MAX(click_ts) FROM c),
                     (SELECT MAX(purchase_ts) FROM p)) - 7200 AS wm),
    matched AS (
        SELECT c.user_id, c.click_id, p.purchase_id, c.click_ts, p.purchase_ts
        FROM c JOIN p ON c.user_id = p.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts <= c.click_ts + 7200),
    expired_unmatched AS (
        SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS purchase_id,
               c.click_ts, CAST(NULL AS BIGINT) AS purchase_ts
        FROM c CROSS JOIN wm
        WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
                  AND p.purchase_ts >= c.click_ts
                  AND p.purchase_ts <= c.click_ts + 7200)
          AND c.click_ts + 7200 < wm.wm)
    SELECT * FROM matched UNION ALL SELECT * FROM expired_unmatched
    ORDER BY click_id
    """,
)
def stream_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X275: watermarked LEFT OUTER stream-stream join — the semantics
    corner the inner twin (stream_stream_join) dodges: an unmatched
    click may only emit its NULL-padded row once the watermark proves
    no matching purchase can still arrive (window end strictly below
    the final watermark), and clicks whose window is still open when
    the stream drains are withheld entirely — so the drained result is
    NOT the batch left join. The oracle encodes that closed form:
    batch-matched pairs UNION unmatched clicks with click_ts + 7200 <
    WM, where WM = min(max click ts, max purchase ts) − delay (Spark's
    min-across-inputs multipleWatermarkPolicy); the 8 trailing
    unmatched clicks the stream withholds at sf0.01 are exactly the
    rows the WM cut removes. Spark's no-data final batch is what
    flushes the expired state — the semantics this query pins against
    regressions. State scales like the inner join: user-keyed, evicted
    at WM past window end."""

    def side(event_type: str, alias: str) -> DataFrame:
        ev = read_events_stream(spark, sf_dir)
        return (
            ev.filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{alias}_id"),
                F.col("user_id").alias(f"{alias}_user"),
                F.timestamp_seconds(F.unix_timestamp("ts")).alias(f"{alias}_tss"),
            )
            .withWatermark(f"{alias}_tss", "2 hours")
        )

    clicks = side("click", "click")
    purchases = side("purchase", "purchase")
    joined = clicks.join(
        purchases,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_tss") >= F.col("click_tss"))
        & (
            F.col("purchase_tss")
            <= F.col("click_tss") + F.expr("INTERVAL 2 HOURS")
        ),
        "left_outer",
    ).select(
        F.col("click_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.unix_timestamp("click_tss").alias("click_ts"),
        F.unix_timestamp("purchase_tss").alias("purchase_ts"),
    )
    return drain_stream(joined, "append").orderBy("click_id")


@query(
    "stream_hysteresis_alerts",
    oracle=REGISTRY["hysteresis_alert_flags"].oracle,
)
def stream_hysteresis_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X287: the STREAMING twin of hysteresis_alert_flags — the same
    Schmitt-trigger recurrence (raise > HI, clear < LO, hold between)
    run as a custom stateful operator via applyInPandasWithState, with
    the alert BIT as the entire per-user state
    (streaming/stateful.py:apply_hysteresis). This is the alerting
    shape production monitors actually deploy (state survives across
    micro-batches so a hold after a restart keeps the pinned level),
    and the simplest possible stateful kernel: one int per user, no
    timers — eviction would CHANGE semantics (an alert holds
    indefinitely), not save meaningful memory. Because every event
    emits exactly one row regardless of watermarks, the drained
    append-mode output equals the batch recurrence EXACTLY — it shares
    the batch twin's oracle verbatim, no closed-form adjustment (the
    strongest stream/batch parity in the streaming family)."""
    from .stateful import apply_hysteresis

    ev = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("user_id") % 10 == 0)
        .select(
            "user_id",
            "event_id",
            F.unix_timestamp("ts").alias("sec"),
            "value",
        )
    )
    out = apply_hysteresis(ev)
    return drain_stream(out, "append").orderBy("user_id", "sec", "event_id")


@query(
    "stream_countmin_rollup",
    oracle=f"""
    WITH ev AS (
        SELECT CAST(user_id AS BIGINT) AS uid, event_type AS etype
        FROM events),
    e4 AS (
        SELECT CAST(gj AS BIGINT) AS j,
               CAST(list_sum(list_transform(range(15), i -> (strpos('0123456789abcdef', substr(md5('cm' || gj || '|' || uid || ':' || etype), CAST(i + 1 AS INT), 1)) - 1) * [72057594037927936, 4503599627370496, 281474976710656, 17592186044416, 1099511627776, 68719476736, 4294967296, 268435456, 16777216, 1048576, 65536, 4096, 256, 16, 1][i + 1])) AS BIGINT) % 32 AS bucket
        FROM ev CROSS JOIN (SELECT UNNEST(range(4)) AS gj) g)
    SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS c
    FROM e4 GROUP BY 1, 2
    ORDER BY j, bucket
    """,
)
def stream_countmin_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X300: streaming twin of countmin_sketch_rollup (X290) — count-min
    counters maintained INSIDE a watermarked per-hour streaming
    aggregate (each hour's partial sketch is streaming state; counter
    increments are mergeable sums, the property that makes CM a
    streaming-native structure), drained and MERGED to the global
    sketch in a batch post-pass — the live-dashboard rollup shape
    stream_hll_rollup pins for distinct counts, here for frequencies.
    The drained counter table equals the batch build EXACTLY (counter
    sums are associative over any partition of the stream into
    micro-batches and hours), so the op shares the batch oracle's
    counter CTE verbatim — the strongest stream/batch parity available.
    Output is the full 4×32 counter table, every cell
    value-checked. At 100 TB: streaming state is ≤ d·w longs per open
    hour window — constant memory however hot the stream runs."""
    from ..operators.dedup import h60_spark
    from ..operators.windows import CM_D, CM_W

    ev = read_events_stream(spark, sf_dir)
    e4 = ev.withColumn(
        "j", F.explode(F.sequence(F.lit(0), F.lit(CM_D - 1)))
    ).select(
        "ts",
        F.col("j").cast("long").alias("j"),
        F.pmod(
            h60_spark(
                F.concat(
                    F.lit("cm"),
                    F.col("j").cast("string"),
                    F.lit("|"),
                    F.col("user_id").cast("string"),
                    F.lit(":"),
                    F.col("event_type"),
                )
            ),
            F.lit(CM_W),
        ).alias("bucket"),
    )
    hourly = (
        e4.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "j", "bucket")
        .agg(F.count("*").alias("c"))
    )
    return (
        drain_stream(hourly, "complete")
        .groupBy("j", "bucket")
        .agg(F.sum("c").alias("c"))
        .orderBy("j", "bucket")
    )


def _tb_oracle() -> str:
    return REGISTRY["rate_limit_token_bucket"].oracle


@query("stream_rate_limit", oracle=_tb_oracle())
def stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X315: the STREAMING twin of rate_limit_token_bucket — the same
    integer token-bucket recurrence run as a custom stateful operator
    via applyInPandasWithState, with (tokens, last tick) as the state
    struct (streaming/stateful.py:apply_token_bucket). This is the
    admission-control deployment shape: the bucket survives
    micro-batch boundaries and restarts, so a client's quota cannot
    reset by reconnecting. Every event emits exactly one row
    regardless of watermarks, so the drained append-mode output equals
    the batch recurrence EXACTLY and shares its recursive-CTE oracle
    VERBATIM — the hysteresis-grade stream/batch parity, now for a
    TWO-field state struct (the next rung up from the alert bit). No
    timers: unlike a session window the bucket state is meaningful
    forever; at 100 TB state is two longs per active user."""
    from .stateful import apply_token_bucket

    ev = read_events_stream(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_timestamp("ts").alias("sec"),
    )
    out = apply_token_bucket(ev)
    return drain_stream(out, "append").orderBy("user_id", "sec", "event_id")


def _bp_oracle() -> str:
    return REGISTRY["bin_pack_next_fit"].oracle


@query("stream_bin_pack", oracle=_bp_oracle())
def stream_bin_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X326: the STREAMING twin of bin_pack_next_fit — the same integer
    next-fit recurrence as a custom stateful operator via
    applyInPandasWithState with (open bin, remaining space) as the
    state struct (streaming/stateful.py:apply_bin_pack). This is the
    consolidation-service deployment shape: a customer's open container
    persists across micro-batches and restarts. The ORDER stream is a
    file-source parquet stream; item sizes come from a STREAM-STATIC
    join against the batch lineitem rollup (the stream_static_enrich
    pattern — the dimension side is loaded per micro-batch, the stream
    stays append-only). Every order emits exactly one row regardless
    of watermarks, so the drained output equals the batch recurrence
    and shares its recursive-CTE oracle VERBATIM — token-bucket-grade
    parity for a 2-field packing state. At 100 TB: state is two longs
    per active customer."""
    from .stateful import apply_bin_pack

    src = f"{sf_dir}/orders.parquet"
    schema = _SNIFFED_SCHEMA.get(src)
    if schema is None:
        schema = spark.read.parquet(src).schema
        _SNIFFED_SCHEMA[src] = schema
    # Arrival order IS the packing order (next-fit packs in service
    # order; the state recurrence has no sort). A single-file source
    # already arrives time-ordered, but a multi-file directory streams
    # file-by-file, and part files of a union carry interleaved date
    # ranges — the sf1 sweep caught 41 divergent bins from that. So a
    # directory source is staged ONCE as a (o_orderdate, o_orderkey)-
    # sorted single-file copy: the simulated source then honors the
    # production contract that orders arrive chronologically.
    if os.path.isdir(src):
        stream_path = _staged_sorted_copy(spark, src, ["o_orderdate", "o_orderkey"])
    else:
        stream_path = _stream_src_path(src, "orders.parquet")
    o = spark.readStream.schema(schema).parquet(stream_path).select(
        F.col("o_custkey").cast("long").alias("custkey"),
        F.col("o_orderkey").cast("long").alias("orderkey"),
        F.expr(
            "CAST(FLOOR(unix_timestamp(o_orderdate)) AS BIGINT) DIV 86400"
        ).alias("day"),
    )
    from ..data import load_table
    from ..operators.grouped import BP_CAP

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
    items = o.join(li, "orderkey")
    out = apply_bin_pack(items)
    return drain_stream(out, "append").orderBy("custkey", "day", "orderkey")


@query(
    "stream_dau_daily",
    oracle=f"""
    WITH mx AS (
        SELECT MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS max_s FROM events)
    SELECT CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 86400) AS BIGINT)
               AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
    FROM events
    GROUP BY 1
    HAVING (day + 1) * 86400 <= (SELECT max_s - 3600 FROM mx)
    ORDER BY 1
    """,
)
def stream_dau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X328: streaming DAU — the live engagement counter behind
    dau_mau_stickiness (X317), built from TWO CHAINED STATEFUL
    OPERATORS (supported since Spark 3.4): dropDuplicatesWithinWatermark
    on (user_id, day) evicts each day's seen-set once the watermark
    passes, then a watermarked 1-day tumbling aggregate counts the
    survivors — COUNT(DISTINCT) is not a streaming aggregate, but
    dedup-then-COUNT(*) is its incremental decomposition, and because
    the dedup key CONTAINS the window key the composition equals the
    batch distinct count exactly on the drained stream. State: one key
    per (user, day) inside the watermark horizon + one counter per open
    day — both bounded, the property that lets this run forever at
    100 TB/day. Append mode emits a day only once the watermark seals
    it, and the final no-data batch advances the watermark to
    max(ts) - 1h — so the drained output has the CLOSED FORM "batch
    DAU for every day whose end <= max(ts) - 3600" (the
    stream_sessionize promotion move), which is exactly the DuckDB
    oracle: a full value verdict, not rows-only."""
    stream = read_events_stream(spark, sf_dir).select(
        "user_id",
        "ts",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "day"]
    )
    agg = (
        deduped.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").cast("long").alias("dau"))
        .select(
            F.floor(F.unix_timestamp("w.start") / 86400)
            .cast("long")
            .alias("day"),
            "dau",
        )
    )
    return drain_stream(agg, "append").orderBy("day")


@query(
    "stream_slo_burn",
    oracle=f"""
    WITH mx AS (
        SELECT MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS max_s FROM events),
    h AS (
        SELECT CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 3600)
                    AS BIGINT) AS hour,
               CAST(COUNT(*) AS BIGINT) AS t,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS e
        FROM events GROUP BY 1
        HAVING (hour + 1) * 3600 <= (SELECT max_s - 3600 FROM mx)),
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
           CAST(CASE WHEN 1000 * x.e > 144 * x.t AND x.t > 0
                      AND 100 * w.e6 > 6 * w.t6
                     THEN 1 ELSE 0 END AS INT) AS page_alert,
           CAST(CASE WHEN 100 * w.e6 > 3 * w.t6 AND w.t6 > 0
                     THEN 1 ELSE 0 END AS INT) AS ticket_alert
    FROM x JOIN w6 w USING (hour)
    ORDER BY x.hour
    """,
)
def stream_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X333: the STREAMING deployment of slo_burn_alerts (X329) — the
    alert rule a live SRE dashboard actually runs: per-hour (errors,
    total) counters are MERGEABLE SUMS maintained by a watermarked
    1-hour tumbling aggregate (the stream_hll_rollup shape), drained in
    append mode, then the trailing-6h windows and the integer
    cross-multiplied page/ticket rules run as a batch post-pass over
    the sealed hours. Append emits an hour only once the watermark
    seals it, so the drained set has the closed form "hours with end <=
    max(ts) - 1h" — the oracle is the batch rule restricted to exactly
    those hours: a full value verdict. Burn-rate floats are omitted
    here (the batch twin reports them); alerts are pure integers.
    At 100 TB: streaming state is two longs per open hour."""
    ev = read_events_stream(spark, sf_dir)
    hourly = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").cast("long").alias("t"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            )
            .cast("long")
            .alias("e"),
        )
        .select(
            F.floor(F.unix_timestamp("w.start") / 3600)
            .cast("long")
            .alias("hour"),
            "t",
            "e",
        )
    )
    h = drain_stream(hourly, "append")
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
    e, t = F.col("e"), F.col("t")
    e6, t6 = F.col("e6"), F.col("t6")
    return (
        x.join(w6, "hour")
        .select(
            "hour",
            e.alias("e_1h"),
            t.alias("t_1h"),
            e6.alias("e_6h"),
            t6.alias("t_6h"),
            ((1000 * e > 144 * t) & (t > 0) & (100 * e6 > 6 * t6))
            .cast("int")
            .alias("page_alert"),
            ((100 * e6 > 3 * t6) & (t6 > 0)).cast("int").alias(
                "ticket_alert"
            ),
        )
        .orderBy("hour")
    )


def _ql_oracle() -> str:
    return REGISTRY["queue_lindley_wait"].oracle


@query("stream_queue_lindley", oracle=_ql_oracle())
def stream_queue_lindley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X349: the STREAMING twin of queue_lindley_wait — the live
    backlog monitor: each nation's order stream replayed through the
    Lindley recursion as a custom stateful operator
    (streaming/stateful.py:apply_lindley) with (last wait, last
    arrival, last service) as the state struct. The order stream is
    the file-source parquet stream; service times come from the
    STREAM-STATIC join against the batch lineitem quantity rollup (the
    stream_bin_pack shape). Every arrival emits exactly one row, so
    the drained output equals the batch recurrence and shares its
    recursive-CTE oracle VERBATIM. At 100 TB: three longs of state per
    active server."""
    from .stateful import apply_lindley
    from ..data import load_table
    from ..operators.grouped import QL_REPLAY, QL_SVC_S

    src = f"{sf_dir}/orders.parquet"
    schema = _SNIFFED_SCHEMA.get(src)
    if schema is None:
        schema = spark.read.parquet(src).schema
        _SNIFFED_SCHEMA[src] = schema
    o = spark.readStream.schema(schema).parquet(
        _stream_src_path(src, "orders.parquet")
    ).select(
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
            (F.sum(F.floor(F.col("l_quantity")).cast("long")) * QL_SVC_S)
            .cast("long")
            .alias("svc_s")
        )
    )
    # static eligibility dim: the replay window (first QL_REPLAY
    # arrivals per server) is computed batch-side and joined into the
    # stream — the stream_bin_pack stream-static shape
    ob = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderkey").cast("long").alias("orderkey"),
        F.expr("CAST(FLOOR(unix_timestamp(o_orderdate)) AS BIGINT)").alias(
            "arr_s"
        ),
    )
    from pyspark.sql import Window as _W

    wq = _W.partitionBy("nation").orderBy("arr_s", "orderkey")
    elig = (
        ob.join(c, ob["o_custkey"] == c["c_custkey"])
        .join(qty, "orderkey")  # same inner join as the batch ranking —
        # orders without lineitems must not consume replay-window slots
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= QL_REPLAY)
        .select("orderkey")
    )
    items = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(qty, "orderkey")
        .join(elig, "orderkey")
        .select("nation", "orderkey", "arr_s", "svc_s")
    )
    out = apply_lindley(items)
    return drain_stream(out, "append").orderBy("nation", "arr_s", "orderkey")


@query(
    "stream_cart_abandonment",
    # Sealed-session closed form: identical to stream_sessionize's (a
    # user's final session stays in state iff end_s >= max_t - 3600),
    # then the batch abandonment rollup runs over exactly the sealed
    # set — full value verdict for a flagged-session stateful operator.
    oracle="""
    WITH e AS (SELECT user_id, event_type,
                      CAST(FLOOR(epoch(ts)) AS BIGINT) AS t
               FROM events),
    g AS (
        SELECT user_id, event_type, t,
               CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                        > 1800 THEN 1 ELSE 0 END AS new_sess
        FROM e),
    s AS (
        SELECT user_id, event_type, t,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
        FROM g),
    sess AS (
        SELECT user_id, CAST(sid AS BIGINT) AS session_id,
               MIN(t) AS start_s, MAX(t) AS end_s,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS has_click,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS has_purchase
        FROM s GROUP BY user_id, sid),
    m AS (SELECT MAX(t) AS max_t FROM e),
    last AS (SELECT user_id, MAX(session_id) AS last_sid
             FROM sess GROUP BY user_id),
    sealed AS (
        SELECT sess.* FROM sess
        JOIN last ON sess.user_id = last.user_id CROSS JOIN m
        WHERE sess.session_id < last.last_sid
           OR sess.end_s < m.max_t - 3600)
    SELECT CAST(start_s // 86400 AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS sessions,
           CAST(SUM(has_click) AS BIGINT) AS click_sessions,
           CAST(SUM(CASE WHEN has_click = 1 AND has_purchase = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS abandoned,
           ROUND(CASE WHEN SUM(has_click) > 0
                      THEN CAST(SUM(CASE WHEN has_click = 1
                                          AND has_purchase = 0
                                         THEN 1 ELSE 0 END) AS DOUBLE)
                           / SUM(has_click)
                      ELSE 0 END, 6) AS abandonment_rate
    FROM sealed
    GROUP BY 1
    ORDER BY 1
    """,
)
def stream_cart_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X358: the STREAMING twin of cart_abandonment_daily — live
    conversion health from CLOSED sessions: the sessionize stateful
    kernel extended with two outcome bits of state (click intent,
    purchase) emits one flagged row per sealed session
    (streaming/stateful.py:apply_sessionization_outcomes), and the
    daily abandonment rollup runs as a batch post-pass over the
    drained output. The sealed-session set has stream_sessionize's
    closed form (a user's final session survives in state iff its end
    is within 3600s of the final watermark anchor), so the whole
    pipeline — custom stateful operator INCLUDING its flag logic plus
    the rollup — gets a full value verdict against the batch oracle.
    State per user: six longs/ints. At 100 TB the event-time timer
    bounds state to watermark-active users."""
    from .stateful import apply_sessionization_outcomes

    ev = read_events_stream(spark, sf_dir).select(
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
        "event_type",
    )
    out = apply_sessionization_outcomes(ev)
    sess = drain_stream(out, "append")
    ab = F.when(
        (F.col("has_click") == 1) & (F.col("has_purchase") == 0), 1
    ).otherwise(0)
    return (
        sess.groupBy(
            F.expr("start_s DIV 86400").cast("long").alias("day")
        )
        .agg(
            F.count("*").cast("long").alias("sessions"),
            F.sum("has_click").cast("long").alias("click_sessions"),
            F.sum(ab).cast("long").alias("abandoned"),
            F.round(
                F.when(
                    F.sum("has_click") > 0,
                    F.sum(ab).cast("double") / F.sum("has_click"),
                ).otherwise(0.0),
                6,
            ).alias("abandonment_rate"),
        )
        .orderBy("day")
    )
