"""Structured Streaming registry entries.

``stream_tumbling_counts`` shares its oracle with the batch tumbling query:
running the stream to completion with availableNow + complete output is
semantically the batch aggregation, which makes the streaming pipeline
itself oracle-checkable. ``stream_session_window`` uses Spark's native
session_window operator (rows-only; equivalence with the batch lag+cumsum
sessionization is asserted in tests). Watermark/late-data behavior is
exercised in tests/test_streaming.py with a two-batch file replay.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sqload_spark.functions.rounding import round_half_up, sql_round_half_up
from sqload_spark.operators.timeseries import FIVE_MIN_US, SESSION_GAP_US, TEN_MIN_US
from sqload_spark.registry import query
from sqload_spark.streaming.windows import (
    events_source_bytes,
    run_available_now,
    run_to_memory,
    source_bytes,
    stream_events,
)
from sqload_spark.session import scratch_dir


def _md5_bucket(salt: str, n: int) -> Column:
    """``event_id``'s deterministic hash bucket in [0, n): the first 32
    bits of md5('{salt}|' || event_id), mod n — the Spark side of
    ``_md5_bucket_sql``."""
    salted = F.concat(F.lit(f"{salt}|"), F.col("event_id").cast("string"))
    return F.pmod(F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("bigint"), F.lit(n))


def _md5_bucket_sql(salt: str, n: int) -> str:
    """DuckDB text of ``_md5_bucket`` (for the oracles)."""
    return f"(('0x' || substr(md5('{salt}|' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % {n})"


def _replay_buckets(ev: DataFrame, prefix: str, fn) -> None:
    """Replay ``ev`` as one micro-batch per ``bucket`` value: ONE
    partitionBy(bucket) write gives one file per bucket, streamed back with
    maxFilesPerTrigger=1 into ``foreachBatch(fn)`` and run to completion.

    NOT stream_state_scope'd (r11 A/B): these streams are STATELESS — no
    state stores — and their cost is the inner foreachBatch batch jobs,
    which want the session's full parallelism, not the state-sized value
    (scoping the upsert stream measured 6.3 s → 14.1 s WORSE)."""
    in_dir = scratch_dir(prefix=prefix)
    ev.coalesce(1).write.partitionBy("bucket").mode("append").parquet(in_dir)
    stream = ev.sparkSession.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
    run_available_now(ev.sparkSession, stream.parquet(in_dir).writeStream.foreachBatch(fn))


@query(
    "stream_tumbling_counts",
    oracle=f"""
    SELECT (epoch_us(ts) // {TEN_MIN_US}) * 600 AS ws_sec,
           event_type,
           count(*) AS n_events,
           {sql_round_half_up("sum(value)", 2)} AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY ws_sec, event_type
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream → watermark → 10-min tumbling window per event type →
    memory sink, run to completion. Identical result contract to the batch
    ts_tumbling_window (same oracle)."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value_raw"))
    )
    out = run_to_memory(agg, output_mode="complete", src_bytes=events_source_bytes(sf_dir))
    return out.select(
        F.unix_timestamp(F.col("w.start")).alias("ws_sec"),
        "event_type",
        "n_events",
        round_half_up(F.col("sum_value_raw"), 2).alias("sum_value"),
    ).orderBy("ws_sec", "event_type")


@query(
    "stream_session_window",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, epoch_us(ts) AS t,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_t
      FROM events
    ), flagged AS (
      SELECT user_id, t,
             CASE WHEN prev_t IS NULL OR t - prev_t > {SESSION_GAP_US} THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), numbered AS (
      SELECT user_id, t,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY t
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(t) AS session_start_us,
           max(t) AS session_end_us,
           count(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start_us
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming sessionization: session_window(ts, 12h) per user.
    Oracle = the batch lag+cumsum sessionization (ts_sessionize's CTE chain
    projected to this query's columns): Spark's session_window merges events
    whose gap is strictly under 12 h, the cumsum formulation splits on
    strictly-over — they can only disagree on a gap of exactly 12 h to the
    microsecond, and the events tables contain none (checked at all SFs).
    So the native stateful operator itself is hash-checked, not rows-only."""
    ev = stream_events(spark, sf_dir)
    agg = ev.groupBy(
        F.session_window("ts", f"{SESSION_GAP_US // 1_000_000} seconds").alias("w"), "user_id"
    ).agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
    )
    out = run_to_memory(agg, output_mode="complete", src_bytes=events_source_bytes(sf_dir))
    return out.select(
        "user_id", "session_start_us", "session_end_us", "n_events"
    ).orderBy("user_id", "session_start_us")


@query(
    "stream_dedup_events",
    oracle=f"""
    SELECT DISTINCT user_id,
           (epoch_us(ts) // {TEN_MIN_US}) * 600 AS bucket_sec,
           event_type
    FROM events
    ORDER BY user_id, bucket_sec, event_type
    """,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: dropDuplicatesWithinWatermark keeps the
    first event per (user, 10-min bucket, type) and expires its key state
    once the watermark passes — the bounded-state streaming-ingest dedup a
    training pipeline runs in front of a feed. Projected to the key set,
    the output is exactly batch DISTINCT, which makes the stateful operator
    itself oracle-checkable."""
    ev = stream_events(spark, sf_dir)
    keyed = ev.select(
        "user_id",
        (F.expr(f"ts_us div {TEN_MIN_US}") * 600).alias("bucket_sec"),
        "event_type",
        "ts",
    )
    dd = keyed.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "bucket_sec", "event_type"]
    )
    out = run_to_memory(dd, output_mode="append", src_bytes=events_source_bytes(sf_dir))
    return out.select("user_id", "bucket_sec", "event_type").orderBy(
        "user_id", "bucket_sec", "event_type"
    )


# --- micro-batch evidence ----------------------------------------------------
# The events table is split into MB_N_BUCKETS deterministic hash-bucket
# files, streamed back with maxFilesPerTrigger=1, and each micro-batch
# writes its per-type counts (with its batch_id) to its own batch directory
# via foreachBatch — all distributed writes, nothing collected. Because one
# batch == one file == one md5 bucket, `n_batches` per event type equals
# count(DISTINCT bucket) — a pure batch-SQL expression — so the incremental
# execution itself is hash-checked: n_batches > 1 in the output PROVES the
# result was assembled across multiple micro-batches. (The periodic-trigger
# path is exercised by gen_stream_table and
# tests/test_streaming.py::test_processing_time_trigger_incremental.)
MB_N_BUCKETS = 4

_MB_BUCKET_SQL = _md5_bucket_sql("mb", MB_N_BUCKETS)


def microbatch_counts(batch_df: DataFrame, batch_id: int, acc_dir: str) -> None:
    """One micro-batch's per-type counts, tagged with its batch id and
    written to ``{acc_dir}/b{batch_id}``. A replayed batch id overwrites
    its first write instead of adding a second copy (see upsert_delta)."""
    (
        batch_df.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .parquet(f"{acc_dir}/b{batch_id}")
    )


@query(
    "stream_microbatch_progress",
    oracle=f"""
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT {_MB_BUCKET_SQL}) AS n_batches
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stream_microbatch_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sqload_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", _md5_bucket("mb", MB_N_BUCKETS).alias("bucket")
    )
    acc_dir = scratch_dir(prefix="sqload_mb_") + "/acc"
    _replay_buckets(ev, "sqload_mb_in_", partial(microbatch_counts, acc_dir=acc_dir))
    return (
        spark.read.parquet(f"{acc_dir}/*")
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.countDistinct("batch_id").cast("bigint").alias("n_batches"),
        )
        .orderBy("event_type")
    )


@query(
    "stream_sliding_counts",
    oracle=f"""
    WITH assigned AS (
      SELECT (epoch_us(ts) // {FIVE_MIN_US}) * 300 AS ws_sec, value FROM events
      UNION ALL
      SELECT (epoch_us(ts) // {FIVE_MIN_US}) * 300 - 300 AS ws_sec, value FROM events
    )
    SELECT ws_sec, count(*) AS n_events,
           {sql_round_half_up("sum(value)", 2)} AS sum_value
    FROM assigned
    GROUP BY ws_sec
    ORDER BY ws_sec
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream → 10-minute windows sliding every 5 — each event lands in
    two overlapping windows, the streaming state Spark sizes as
    (windows × keys). Shares the batch ts_sliding_window oracle (window
    start = epoch seconds), so the overlap assignment is hash-checked,
    not just row-counted."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value_raw"))
    )
    out = run_to_memory(agg, output_mode="complete", src_bytes=events_source_bytes(sf_dir))
    return out.select(
        F.unix_timestamp(F.col("w.start")).alias("ws_sec"),
        "n_events",
        round_half_up(F.col("sum_value_raw"), 2).alias("sum_value"),
    ).orderBy("ws_sec")


def upsert_delta(batch_df: DataFrame, batch_id: int, delta_dir: str) -> None:
    """One micro-batch's per-key partial (version count, latest row by
    (event time, event id)), written to ``{delta_dir}/b{batch_id}``.

    foreachBatch is at-least-once: after a failure the same batch id can
    run again. Overwriting the batch's own directory makes that replay
    replace its first delta instead of adding a second copy, which would
    count its versions twice in the fold."""
    (
        batch_df.groupBy("user_id")
        .agg(
            F.count("*").alias("n_versions"),
            F.max(F.struct("ts_us", "event_id", "event_type")).alias("latest"),
        )
        .write.mode("overwrite")
        .parquet(f"{delta_dir}/b{batch_id}")
    )


def fold_upsert_deltas(spark: SparkSession, delta_dir: str) -> DataFrame:
    """Merge every batch delta under ``delta_dir`` into one row per key."""
    return (
        spark.read.parquet(f"{delta_dir}/*")
        .groupBy("user_id")
        .agg(
            F.sum("n_versions").alias("n_versions"),
            F.max("latest").alias("latest"),
        )
    )


@query(
    "stream_upsert_compaction",
    oracle="""
    SELECT user_id, event_type AS last_type, last_us, n_versions FROM (
      SELECT user_id, event_type, epoch_us(ts) AS last_us,
             count(*) OVER (PARTITION BY user_id) AS n_versions,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    ORDER BY user_id
    """,
)
def stream_upsert_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert: the change log arrives in micro-batches
    (maxFilesPerTrigger=1 over md5-bucket files) and foreachBatch reduces
    each batch to its per-key partial — latest row wins by (event time,
    event id), plus a running version count — written as a key-bounded
    DELTA per batch id (:func:`upsert_delta`; a replayed batch overwrites
    its own delta); one fold at stream end compacts the deltas into the
    snapshot.
    The merge is a commutative monoid (max-struct ⊕ sum), so the result is
    batch-split-invariant and must equal the batch compaction
    (etl_upsert_latest's oracle) — which makes the incremental merge
    itself hash-checked, not just row-counted. All merge work is
    distributed aggregations, nothing driver-side.

    I/O shape (r12, guide §6 — VERDICT r11 #2): the first version
    full-outer-joined every micro-batch against the previous snapshot and
    REWROTE the whole snapshot per batch — at N batches that is N reads +
    N writes of the entire key space. Writing per-batch partials and
    folding once writes each batch's keys exactly once and reads them
    exactly once; the same monoid guarantees the identical final snapshot
    (verified row-identical, both orders, at sf0.1). Batch prep is ONE
    partitionBy(bucket) write instead of four filtered scans of events
    (bucket order is irrelevant to a commutative merge, so no mtime
    stamping is needed). Measured (alternating 3-pass A/B at sf0.1, both
    orders): 3.54 → 3.06 s (delta fold), then 2.86 → 2.00 s min adding
    the one-pass prep."""

    from sqload_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("ts_ns div 1000").alias("ts_us"),
        _md5_bucket("up", 4).alias("bucket"),
    )
    delta_dir = scratch_dir(prefix="sqload_up_delta_")
    _replay_buckets(ev, "sqload_up_in_", partial(upsert_delta, delta_dir=delta_dir))
    return fold_upsert_deltas(spark, delta_dir).select(
        "user_id",
        F.col("latest.event_type").alias("last_type"),
        F.col("latest.ts_us").alias("last_us"),
        "n_versions",
    ).orderBy("user_id")


# --- watermark late-data policy, driver-visible ----------------------------
LATE_MOD = 10  # bucket 0 = the late re-delivery, bucket 1 = the on-time filler
LATE_WM_US = 3600 * 1_000_000  # 1 h watermark delay

_LATE_BUCKET_SQL = _md5_bucket_sql("late", LATE_MOD)


@query(
    "stream_late_data_policy",
    oracle=f"""
    WITH e AS (
      SELECT event_id, epoch_us(ts) AS t, {_LATE_BUCKET_SQL} AS bk FROM events
    ), wm_b AS (
      SELECT max(t) - {LATE_WM_US} AS wm FROM e WHERE bk >= 1
    ), kept AS (
      SELECT t FROM e WHERE bk >= 1
      UNION ALL
      SELECT e.t FROM e, wm_b
      WHERE e.bk = 0 AND ((e.t // {TEN_MIN_US}) + 1) * {TEN_MIN_US} > wm_b.wm
    ), fwm AS (
      SELECT max(t) - {LATE_WM_US} AS wm FROM e
    )
    SELECT (t // {TEN_MIN_US}) * 600 AS ws_sec, count(*) AS n_events
    FROM kept, fwm
    WHERE ((t // {TEN_MIN_US}) + 1) * {TEN_MIN_US} <= fwm.wm
    GROUP BY 1
    ORDER BY ws_sec
    """,
)
def stream_late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics, hash-checked end to end: 10% of the
    events (md5 bucket 0) are withheld and re-delivered as the THIRD
    micro-batch, after the watermark advanced past most of their windows.
    Append output must contain no contribution from a withheld event whose
    window was already finalized, and no window newer than the final
    watermark — the oracle states that policy in closed form.

    The model is the MEASURED semantics of the micro-batch engine, pinned
    empirically with numRowsDroppedByWatermark (864 dropped at sf0.01):
    the watermark computed from batch N's data is applied starting in
    batch N+2 (one-batch update lag), the late filter drops rows whose
    WINDOW END ≤ applied watermark, and Spark's trailing no-data batch
    flushes the final closed windows. Three files + maxFilesPerTrigger=1
    force the batch sequence (availableNow honors the read limit: one file
    per batch, then the trailing no-data batch); file order is fixed by
    modification time."""
    import os as _os
    import time as _time

    from sqload_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.timestamp_micros(F.expr("ts_ns div 1000")).alias("ts"),
        _md5_bucket("late", LATE_MOD).alias("bk"),
    )

    in_dir = scratch_dir(prefix="sqload_late_in_")
    # Deterministic file-source order WITHOUT wall-clock sleeps (r11: the
    # former sleep(1.1) per batch was 3.3 s of pure bench wall): the source
    # orders files by modification time, so write all three batches back to
    # back, then stamp each write's files with explicit mtimes 10 s apart
    # via os.utime — same ordering guarantee, zero waiting.
    groups: list[list[str]] = []
    seen_files: set[str] = set()
    for cond in (F.col("bk") >= 2, F.col("bk") == 1, F.col("bk") == 0):
        ev.filter(cond).coalesce(1).write.mode("append").parquet(in_dir)
        files = {f for f in _os.listdir(in_dir) if not f.startswith(("_", "."))}
        groups.append(sorted(files - seen_files))
        seen_files = files
    now = _time.time()
    for k, group in enumerate(groups):
        t = now - (len(groups) - 1 - k) * 10
        for f in group:
            _os.utime(_os.path.join(in_dir, f), (t, t))

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, bk long")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    agg = (
        stream.withWatermark("ts", f"{LATE_WM_US // 1_000_000} seconds")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
    )
    out = run_to_memory(agg, output_mode="append", src_bytes=source_bytes(in_dir))
    return (
        out.select(F.unix_timestamp(F.col("w.start")).alias("ws_sec"), "n_events")
        .orderBy("ws_sec")
    )


# --- streaming distribution-drift detection ---------------------------------
# Data-quality monitoring for a live feed: per 1-hour window, compare the
# event-type distribution against the whole-corpus baseline with TOTAL
# VARIATION DISTANCE (TVD = ½ Σ|p_w − p_base|). The streaming piece is
# the windowed count aggregation (the thing that must run incrementally);
# the drift score is a per-window post-aggregation over ≤|types| rows.
# Absent types still contribute |0 − q|, so windows join against the full
# baseline type table. Per-type terms round to 1e-9 fixed-point int64
# before the per-window sum — aggregation order can't move the score.

HOUR_US = 3_600_000_000
_DRIFT_FP = 1_000_000_000


@query(
    "stream_drift_scores",
    oracle=f"""
    WITH base AS (
      SELECT event_type, count(*) AS c FROM events GROUP BY event_type
    ), tot AS (
      SELECT CAST(sum(c) AS DOUBLE) AS t FROM base
    ), win AS (
      SELECT (epoch_us(ts) // {HOUR_US}) * 3600 AS ws_sec, event_type,
             count(*) AS c
      FROM events GROUP BY 1, 2
    ), wtot AS (
      SELECT ws_sec, CAST(sum(c) AS DOUBLE) AS wt FROM win GROUP BY ws_sec
    ), terms AS (
      SELECT wtot.ws_sec,
             CAST(floor(abs(COALESCE(win.c, 0) / wtot.wt
                            - base.c / tot.t) * {_DRIFT_FP} + 0.5) AS BIGINT) AS term_fx,
             COALESCE(win.c, 0) AS c
      FROM wtot
      CROSS JOIN base
      CROSS JOIN tot
      LEFT JOIN win ON win.ws_sec = wtot.ws_sec AND win.event_type = base.event_type
    )
    SELECT ws_sec,
           CAST(sum(c) AS BIGINT) AS n_events,
           {sql_round_half_up(f"0.5 * CAST(sum(term_fx) AS DOUBLE) / {_DRIFT_FP}", 6)} AS tvd
    FROM terms
    GROUP BY ws_sec
    ORDER BY ws_sec
    """,
)
def stream_drift_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour event-type drift (TVD vs the corpus baseline) — the
    windowed counts run as a real stream; see block comment."""
    from sqload_spark.sources.tables import load_table

    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("c"))
    )
    win = run_to_memory(
        agg, output_mode="complete", src_bytes=events_source_bytes(sf_dir)
    ).select(
        F.unix_micros(F.col("w.start")).alias("ws_us"), "event_type", "c"
    )
    batch = load_table(spark, sf_dir, "events")
    base = batch.groupBy("event_type").agg(F.count("*").alias("bc"))
    tot = base.agg(F.sum("bc").cast("double").alias("t"))
    wtot = win.groupBy("ws_us").agg(F.sum("c").cast("double").alias("wt"))
    full = (
        wtot.crossJoin(F.broadcast(base.select(F.col("event_type").alias("b_type"), "bc")))
        .crossJoin(F.broadcast(tot))
        .join(
            win,
            (win.ws_us == wtot.ws_us) & (win.event_type == F.col("b_type")),
            "left_outer",
        )
        .select(
            wtot.ws_us.alias("ws"),
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            F.floor(
                F.abs(
                    F.coalesce(F.col("c"), F.lit(0)) / F.col("wt")
                    - F.col("bc") / F.col("t")
                )
                * _DRIFT_FP
                + 0.5
            ).cast("bigint").alias("term_fx"),
        )
    )
    return (
        full.groupBy(F.expr("ws div 1000000").alias("ws_sec"))
        .agg(
            F.sum("c").cast("bigint").alias("n_events"),
            round_half_up(
                0.5 * F.sum("term_fx").cast("double") / F.lit(float(_DRIFT_FP)), 6
            ).alias("tvd"),
        )
        .orderBy("ws_sec")
    )
