"""Structured Streaming building blocks over the events table.

The events parquet doubles as a replayable stream: ``readStream`` with an
explicit schema (streaming sources never infer), nanosecond longs converted
to microsecond timestamps, and one-shot execution via
``trigger(availableNow=True)`` into a memory sink — which is exactly how a
batch-equivalence check of a streaming pipeline is done. On a real cluster
the same code points at a growing directory / Kafka source and runs
continuously; nothing in the transformations changes.
"""

from __future__ import annotations

import glob as _glob
import math
import os
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqload_spark.session import configure, scratch_dir

# --- scale-adaptive streaming state partitioning (round 11, guide §2) -------
# Every stateful streaming operator (windowed agg, dedup-within-watermark,
# stream-stream join) runs ONE state-store task per spark.sql.shuffle.partitions
# value pinned at query start, EVERY micro-batch: load the store, apply the
# batch's rows, commit a delta file. With the session default (= core count)
# over a megabytes-scale replay source, nearly all of that is per-partition
# fixed cost on empty/near-empty stores — measured r11: the three stream-stream
# entries spent most of their 6.9-9.1 s there. Sizing state partitions from the
# SOURCE BYTES (32 MB per state partition, floor 4, cap 4× parallelism) keeps
# micro-batch overhead proportional to data at any scale: a 2 MB bench replay
# gets 4 partitions; a 100 TB/day feed saturates the 4×-cores cap, which is the
# same order a static tuning would pick for a busy production stream. State
# partitioning never changes aggregation/join/dedup results, only where keys
# live.
_STREAM_STATE_BYTES_PER_PARTITION = 32 * 1024 * 1024
_STREAM_STATE_MIN_PARTITIONS = 4


def source_bytes(path_or_glob: str) -> int:
    """Total bytes under a file-stream source path/glob (driver-side stat)."""
    total = 0
    for p in _glob.glob(path_or_glob) or [path_or_glob]:
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        elif os.path.exists(p):
            total += os.path.getsize(p)
    return total


def stream_shuffle_partitions(spark: SparkSession, src_bytes: int) -> int:
    cpus = spark.sparkContext.defaultParallelism
    by_bytes = math.ceil(max(src_bytes, 1) / _STREAM_STATE_BYTES_PER_PARTITION)
    return max(_STREAM_STATE_MIN_PARTITIONS, min(cpus * 4, by_bytes))


@contextmanager
def stream_state_scope(spark: SparkSession, src_bytes: int):
    """Pin spark.sql.shuffle.partitions to the scale-adaptive streaming value
    for the duration of a streaming query's start→awaitTermination span (the
    value is captured into the checkpoint at start; foreachBatch inner jobs
    read the live conf, so the scope must cover the whole run)."""
    n = stream_shuffle_partitions(spark, src_bytes)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def events_source_bytes(sf_dir: str) -> int:
    """Bytes of the events file-stream source (feeds stream_state_scope)."""
    return source_bytes(f"{sf_dir}/events.parquet*")


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a file-source stream with exact ts_us + a real timestamp.

    Streaming sources never infer schemas, so probe the batch-read schema
    once (driver-side metadata only) to match the file's ts layout:
    nanos-as-long in older generated data, TIMESTAMP(MICROS) in newer
    (see sources/tables.py for the normalization contract).
    """
    configure(spark)
    batch_ts = spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType
    # file streams need a directory basePath; glob to the single table file
    path = f"{sf_dir}/events.parquet*"
    if isinstance(batch_ts, T.LongType):
        raw = spark.readStream.schema(_events_schema(T.LongType())).parquet(path)
        return (
            raw.withColumnRenamed("ts", "ts_ns")
            .withColumn("ts_us", F.expr("ts_ns div 1000"))
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        )
    raw = spark.readStream.schema(_events_schema(batch_ts)).parquet(path)
    return (
        raw.withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("ts_us", F.unix_micros(F.col("ts")))
        .withColumn("ts_ns", F.col("ts_us") * F.lit(1000))
    )


def run_to_memory(
    sdf: DataFrame, output_mode: str = "complete", src_bytes: int | None = None
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    memory sink and return the sink contents as a batch DataFrame.

    ``src_bytes`` (the file-source's total bytes, see ``source_bytes``)
    switches state partitioning to the scale-adaptive streaming value for
    the run; None keeps the session setting (legacy behavior)."""
    name = f"sink_{uuid.uuid4().hex[:12]}"

    def _run() -> None:
        query = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", scratch_dir(prefix="sqload_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()

    spark = sdf.sparkSession
    if src_bytes is None:
        _run()
    else:
        with stream_state_scope(spark, src_bytes):
            _run()
    return spark.table(name)


def run_micro_batches(
    sdf: DataFrame,
    min_batches: int = 3,
    interval: str = "1 second",
    output_mode: str = "update",
    timeout_sec: float = 120.0,
) -> tuple[DataFrame, list[dict]]:
    """Run a streaming DataFrame under a REAL periodic trigger
    (processingTime=interval) until at least `min_batches` micro-batches
    have committed, then stop. Returns (sink contents, progress list) so
    callers can assert incremental/latency behavior — the piece an
    availableNow one-shot replay can't exercise. Used with unbounded
    sources (rate); see tests/test_streaming.py."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    query = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", scratch_dir(prefix="sqload_ckpt_"))
        .trigger(processingTime=interval)
        .start()
    )
    import time as _time

    deadline = _time.time() + timeout_sec
    try:
        while _time.time() < deadline:
            done = [p for p in query.recentProgress if p["numInputRows"] > 0]
            if len(done) >= min_batches:
                break
            _time.sleep(0.25)
        else:
            raise TimeoutError(f"fewer than {min_batches} micro-batches committed")
    finally:
        progress = [dict(p) for p in query.recentProgress]
        query.stop()
        query.awaitTermination()
    spark = sdf.sparkSession
    return spark.table(name), progress
