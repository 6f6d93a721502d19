"""Streaming semantics: batch equivalence of the streaming pipelines and a
real watermark late-data-drop replay."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from sqload_spark import registry
from tests.conftest import SF_DIR

registry.load_all()


def test_stream_session_equals_batch(spark):
    """Native session_window (streaming) ≡ lag+cumsum sessionization (batch):
    same (user, start, end, n_events) sets."""
    stream = registry.QUERIES["stream_session_window"](spark, SF_DIR).toPandas()
    batch = registry.QUERIES["ts_sessionize"](spark, SF_DIR).toPandas()
    key = lambda df, s, e: set(zip(df.user_id, df[s], df[e], df.n_events))
    assert key(stream, "session_start_us", "session_end_us") == key(
        batch, "session_start_us", "session_end_us"
    )


def test_watermark_drops_late_data(spark, tmp_path):
    """Two-batch file replay: batch 1 advances the watermark past a late
    event delivered in batch 2; append-mode window agg must drop it."""
    src = tmp_path / "stream_src"
    src.mkdir()
    base = 1_700_000_000  # epoch seconds

    def write_batch(name, rows):
        df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
        df.coalesce(1).write.mode("append").parquet(str(src / name))

    # batch 1: events at t0 .. t0+30min — watermark after this batch is
    # max_ts - 10min = t0+20min
    b1 = [(i, __import__("datetime").datetime.utcfromtimestamp(base + i * 600), 1.0) for i in range(4)]
    # batch 2: one on-time event and one LATE event at t0-60min (window long
    # closed once watermark passed)
    b2 = [
        (100, __import__("datetime").datetime.utcfromtimestamp(base + 2400), 1.0),
        (101, __import__("datetime").datetime.utcfromtimestamp(base - 3600), 1.0),
    ]

    write_batch("b1", b1)
    sdf = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    agg = (
        sdf.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    import tempfile
    import uuid

    name = f"wmsink_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp())
        .start()
    )
    try:
        # let batch 1 commit, then deliver batch 2. Wait on recentProgress,
        # not lastProgress: the watermark advance triggers a no-data batch
        # at once, and its progress (0 input rows) can replace batch 1's
        # between two polls.
        deadline = time.time() + 60
        while not any(p["numInputRows"] > 0 for p in q.recentProgress):
            if time.time() > deadline:
                raise TimeoutError("stream never processed batch 1")
            time.sleep(0.5)
        write_batch("b2", b2)
        deadline = time.time() + 60
        total = lambda: sum(p["numInputRows"] for p in q.recentProgress)
        while total() < 6:
            if time.time() > deadline:
                break
            time.sleep(0.5)
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name).select(F.unix_timestamp("w.start").alias("ws"), "n").toPandas()
    starts = set(out.ws.astype(int))
    # the late event's window (base-3600) must NOT appear
    assert (base - 3600) not in starts
    # at least one on-time window from batch 1 was finalized and emitted
    assert any(s >= base for s in starts)


def test_stream_tumbling_matches_batch(spark):
    stream = registry.QUERIES["stream_tumbling_counts"](spark, SF_DIR).toPandas()
    batch = registry.QUERIES["ts_tumbling_window"](spark, SF_DIR).toPandas()
    assert stream.reset_index(drop=True).equals(batch.reset_index(drop=True))


def test_processing_time_trigger_incremental(spark):
    """Real periodic trigger: a rate source under processingTime='1 second'
    must commit multiple distinct micro-batches, each carrying new rows,
    with per-batch latency bookkeeping — the behavior availableNow replays
    can't show."""
    from sqload_spark.streaming.windows import run_micro_batches

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "50")
        .load()  # columns: timestamp, value
    )
    agg = (
        rate.withWatermark("timestamp", "0 seconds")
        .groupBy(F.window("timestamp", "1 second").alias("w"))
        .agg(F.count("*").alias("n"), F.max("value").alias("max_v"))
    )
    sink, progress = run_micro_batches(agg, min_batches=3, interval="1 second")
    batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(batches) >= 3
    # batches are distinct executions, not one replay: increasing batchId
    ids = [p["batchId"] for p in batches]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    # incremental progress: later batches see later max rate values
    rows = sink.collect()
    assert len(rows) >= 2
    assert sum(r.n for r in rows) > 0
    # latency bookkeeping present per batch
    assert all("durationMs" in p and "triggerExecution" in p["durationMs"] for p in batches)


def test_upsert_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch may run a micro-batch again after a failure: running
    one batch id twice must leave the folded version counts unchanged."""
    from sqload_spark.streaming.queries import fold_upsert_deltas, upsert_delta

    batch = spark.createDataFrame(
        [(1, 10, "view", 100), (2, 10, "click", 200), (3, 11, "view", 150)],
        "event_id long, user_id long, event_type string, ts_us long",
    )
    delta_dir = str(tmp_path / "deltas")

    def total_versions() -> int:
        return fold_upsert_deltas(spark, delta_dir).agg(F.sum("n_versions")).first()[0]

    upsert_delta(batch, 0, delta_dir)
    once = total_versions()
    upsert_delta(batch, 0, delta_dir)
    assert total_versions() == once == 3
    upsert_delta(batch.limit(1), 1, delta_dir)
    assert total_versions() == 4


def test_microbatch_replay_is_idempotent(spark, tmp_path):
    """Running one micro-batch id twice must leave the accumulated per-type
    counts of stream_microbatch_progress unchanged."""
    from sqload_spark.streaming.queries import microbatch_counts

    batch = spark.createDataFrame(
        [(1, "view", 0), (2, "click", 0), (3, "view", 0)],
        "event_id long, event_type string, bucket long",
    )
    acc_dir = str(tmp_path / "acc")

    def total() -> int:
        return spark.read.parquet(f"{acc_dir}/*").agg(F.sum("n")).first()[0]

    microbatch_counts(batch, 0, acc_dir)
    once = total()
    microbatch_counts(batch, 0, acc_dir)
    assert total() == once == 3
    microbatch_counts(batch.limit(1), 1, acc_dir)
    assert total() == 4


@pytest.mark.parametrize(
    "name,digest",
    [
        ("stream_sliding_counts", (7800, 435745777063463345306)),
        ("stream_microbatch_progress", (5, -2394611344086380159)),
    ],
)
def test_runner_rows_pinned(spark, name, digest):
    """Two streams through the one runner (windows.run_available_now), a
    memory-sink window aggregation and a foreachBatch replay: their rows
    are pinned (row_digest at sf0.01), so a runner or checkpoint change
    that moves a row fails here."""
    from tests.conftest import row_digest

    assert row_digest(registry.QUERIES[name](spark, SF_DIR)) == digest


@pytest.mark.parametrize("prior", [None, "org.example.NoSuchManager"])
def test_runner_restores_checkpoint_manager(spark, prior):
    """run_available_now pins the FileSystem-based checkpoint manager only
    for its own run: afterwards the conf is back at its prior value, or
    unset, after a normal run and after a failing one. (A set prior value
    names no real class: the run inside the scope must not read it.)"""
    from sqload_spark.streaming.windows import (
        CHECKPOINT_MANAGER_CONF,
        FS_CHECKPOINT_MANAGER,
        run_available_now,
    )

    def assert_restored():
        assert spark.conf.get(CHECKPOINT_MANAGER_CONF, None) == prior

    seen = []

    def record(batch_df, batch_id):
        seen.append(spark.conf.get(CHECKPOINT_MANAGER_CONF))

    def fail(batch_df, batch_id):
        raise RuntimeError("batch failed")

    src = spark.readStream.format("rate-micro-batch").option("rowsPerBatch", 5).load()
    if prior is not None:
        spark.conf.set(CHECKPOINT_MANAGER_CONF, prior)
    try:
        run_available_now(spark, src.writeStream.foreachBatch(record))
        assert seen and set(seen) == {FS_CHECKPOINT_MANAGER}
        assert_restored()
        with pytest.raises(Exception, match="batch failed"):
            run_available_now(spark, src.writeStream.foreachBatch(fail))
        assert_restored()
    finally:
        spark.conf.unset(CHECKPOINT_MANAGER_CONF)
