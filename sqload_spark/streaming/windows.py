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
import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQueryListener

from sqload_spark.session import conf_scope, configure, scratch_dir, shuffle_scope
from sqload_spark.sources.tables import events_schema

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
    with shuffle_scope(spark, n):
        yield n


def events_source_bytes(sf_dir: str) -> int:
    """Bytes of the events file-stream source (feeds stream_state_scope)."""
    return source_bytes(f"{sf_dir}/events.parquet*")


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a file-source stream with exact ts_us + a real timestamp.

    Streaming sources never infer schemas; the stored ts layout (nanos-as-
    long in older generated data, TIMESTAMP(MICROS) in newer) comes from
    the parquet footer, as in load_table (see sources/tables.py for the
    normalization contract).
    """
    configure(spark)
    schema = events_schema(sf_dir)
    # file streams need a directory basePath; glob to the single table file
    raw = spark.readStream.schema(schema).parquet(f"{sf_dir}/events.parquet*")
    if isinstance(schema["ts"].dataType, T.LongType):
        return (
            raw.withColumnRenamed("ts", "ts_ns")
            .withColumn("ts_us", F.expr("ts_ns div 1000"))
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        )
    return (
        raw.withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("ts_us", F.unix_micros(F.col("ts")))
        .withColumn("ts_ns", F.col("ts_us") * F.lit(1000))
    )


CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def local_checkpoint_scope(spark: SparkSession):
    """Pin the FileSystem-based checkpoint file manager for one stream run
    on a local checkpoint, then restore the session's own setting.

    Spark's default manager renames through Hadoop's FileContext. Without
    Hadoop's native library, the local file system forks ``readlink`` 8
    times for each such rename and ``chmod`` once for each file it
    creates: 152 process launches per ``stream_sliding_counts`` run (112
    ``readlink``, 40 ``chmod``; JFR ``jdk.ProcessStart``), 2.2-2.8 ms
    each. The FileSystem-based manager renames with
    ``java.io.File.renameTo``, an atomic POSIX rename that forks nothing,
    so a run launches only the 40 ``chmod``. That rename is atomic because
    every runner checkpoint is a local ``scratch_dir``."""
    return conf_scope(spark, {CHECKPOINT_MANAGER_CONF: FS_CHECKPOINT_MANAGER})


def run_available_now(spark: SparkSession, writer: DataStreamWriter) -> None:
    """Run a stream whose source ends on its own to completion: a fresh
    local checkpoint, ``trigger(availableNow=True)``, start,
    ``awaitTermination``, under ``local_checkpoint_scope``.

    The engine ends the query only after it has committed every file
    present at start (one batch per file under ``maxFilesPerTrigger=1``,
    plus the trailing no-data batch that flushes watermark-closed windows),
    and ``awaitTermination`` raises if the query failed — so no timer or
    sink count is needed to detect the end."""
    with local_checkpoint_scope(spark):
        (
            writer.option("checkpointLocation", scratch_dir(prefix="sqload_ckpt_"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def run_to_memory(sdf: DataFrame, output_mode: str = "complete", *, src_bytes: int) -> DataFrame:
    """Execute a streaming DataFrame to completion (``run_available_now``)
    into a memory sink and return the sink contents as a batch DataFrame.

    ``src_bytes`` (the file-source's total bytes, see ``source_bytes``)
    sizes the run's state partitions (``stream_state_scope``)."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    spark = sdf.sparkSession
    with stream_state_scope(spark, src_bytes):
        run_available_now(
            spark, sdf.writeStream.format("memory").queryName(name).outputMode(output_mode)
        )
    return spark.table(name)


class _NonEmptyBatches(StreamingQueryListener):
    """Sets ``done`` once the query named ``name`` has committed ``n``
    micro-batches that read rows."""

    def __init__(self, name: str, n: int) -> None:
        self.name, self.left, self.done = name, n, threading.Event()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        if event.progress.name == self.name and event.progress.numInputRows > 0:
            self.left -= 1
            if self.left <= 0:
                self.done.set()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


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
    sources (rate); see tests/test_streaming.py. A streaming query
    listener wakes the caller when the batches are in; ``timeout_sec``
    bounds the wait."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    spark = sdf.sparkSession
    batches = _NonEmptyBatches(name, min_batches)
    spark.streams.addListener(batches)
    try:
        with local_checkpoint_scope(spark):
            query = (
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", scratch_dir(prefix="sqload_ckpt_"))
                .trigger(processingTime=interval)
                .start()
            )
            try:
                if not batches.done.wait(timeout_sec):
                    raise TimeoutError(f"fewer than {min_batches} micro-batches committed")
            finally:
                progress = [dict(p) for p in query.recentProgress]
                query.stop()
                query.awaitTermination()
    finally:
        spark.streams.removeListener(batches)
    return spark.table(name), progress
