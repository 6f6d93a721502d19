"""SparkSession factory tuned for this engine.

Local-mode defaults match the test container (``local[$SPARK_GRAFT_CPUS]``),
but every setting here is the one we would also want on a real cluster:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
UTC session time zone (the test data is zone-less), Arrow transfers for any
pandas exchange, and shuffle partitions sized to the parallelism at hand
rather than the 200 default.
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = "2048"


def scratch_dir(prefix: str) -> str:
    """``tempfile.mkdtemp`` plus a process-exit cleanup hook.

    Streaming replays and artifact writers need fresh on-disk scratch
    (checkpoint locations, micro-batch input dirs, write-once artifacts)
    per invocation; a bare mkdtemp leaks every one of them across a long
    bench/driver session (ADVICE r5 flagged the pattern on the pair
    artifact). Registering an rmtree at exit bounds the residue to the
    lifetime of the process — a SIGKILL still leaks, which no in-process
    scheme can prevent."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


_SCRATCH_ROOT: list[str] = []
_SCRATCH_ROOT_LOCK = threading.Lock()


def scratch_subdir(key: str) -> str:
    """Stable scratch path: ``key`` names a subdirectory under ONE
    per-process ``scratch_dir`` root (memoized — one mkdtemp, one
    process-exit cleanup hook for every artifact writer in the process).

    Unlike ``scratch_dir``, the same key returns the same path on
    re-invocation, so deterministic artifact writers (the dedup pair
    artifact, the ETL sink fixtures, the embedded-Derby home) overwrite in
    place instead of accumulating. Unlike the bespoke gettempdir()+pid
    paths this replaced (VERDICT r6 #4), the root is mkdtemp-unique per
    process (no pid needed), registered for cleanup exactly once, and
    shared by every consumer — one code path for all scratch artifacts,
    policy-locked by tests/test_session.py."""
    with _SCRATCH_ROOT_LOCK:
        if not _SCRATCH_ROOT:
            _SCRATCH_ROOT.append(scratch_dir("sqload_scratch_"))
        return os.path.join(_SCRATCH_ROOT[0], key)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half the host's physical memory
    capped at 48g: a fixed 48g heap let the driver JVM outgrow a 15 GB host
    until the kernel's OOM killer ended it."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 * 1024 * 1024)
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{min(half_mb, 48 * 1024)}m")


def get_spark(app_name: str = "sqload_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # events.parquet stores INT64 TIMESTAMP(NANOS); Spark has no nanosecond
        # timestamp, so read it as a raw long and convert in the catalog
        # (sources/tables.py) — see configure() below for driver-owned sessions.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Static conf, default 100: a 113-entry suite evicts and re-Janino-
        # compiles the big generated classes (the expanded 64-dim dot, the
        # generator case-whens) every pass — the r9 plan audit isolated
        # dedup_embedding_cosine_banded at 5.8-6.7 s alone vs 10.1 s
        # in-suite, all of it codegen-cache thrash. Cache entries are
        # weak-referenced compiled classes (a few KB each), so 2048 is
        # noise against the driver heap; semantics-free (it is a
        # compilation CACHE SIZE), so only bench wall can move.
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
        # Static conf, default true: PySpark then wraps every DataFrame and
        # Column call in a Python stack walk plus two py4j round trips to
        # record the call site for error messages. dedup_minhash_lsh's
        # build made 7,240-7,623 py4j calls with it and 3,142 without.
        # Semantics-free (only error context is lost), so only wall moves.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # Static conf: if any SparkSession already existed in this JVM,
    # getOrCreate silently ignored the value above. Warn; don't raise —
    # shared-session callers (sessions created elsewhere and configured via
    # configure()) are legitimate.
    effective = spark.conf.get("spark.sql.codegen.cache.maxEntries", None)
    if effective is not None and effective != CODEGEN_CACHE_ENTRIES:
        print(
            f"WARNING: spark.sql.codegen.cache.maxEntries is {effective}, not "
            f"{CODEGEN_CACHE_ENTRIES} (static conf; a pre-existing SparkSession owns it).",
            file=sys.stderr,
        )
    return spark


@contextmanager
def conf_scope(spark: SparkSession, conf: dict[str, str]):
    """Pin runtime SQL confs for a bounded section, then restore each one's
    previous value, or unset it again if it was unset, also when the
    section raises."""
    old = {key: spark.conf.get(key, None) for key in conf}
    for key, value in conf.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in old.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def shuffle_scope(spark: SparkSession, partitions: int):
    """Pin spark.sql.shuffle.partitions for a bounded section (r11). For
    iterative driver-coordinated loops over SMALL tables (connected-
    components label propagation) the session-wide value — sized for
    corpus-scale shuffles — buys nothing per iteration but per-task
    overhead × iterations × jobs; callers pass a count derived from the
    data (scale-adaptive), never a constant."""
    return conf_scope(spark, {"spark.sql.shuffle.partitions": str(max(1, int(partitions)))})


_PERSISTED: dict[str, object] = {}
_PERSISTED_LOCK = threading.Lock()


def persist_bounded(key: str, df):
    """``persist()`` with session-lifetime bounding (ADVICE r4).

    A long bench/driver session invokes the same query many times; an
    unpaired ``persist()`` inside the query would pin one cached copy per
    invocation and accumulate until executor memory pressure forces
    eviction. Registering each cache under a stable per-call-site key and
    unpersisting the previous epoch bounds the footprint to ONE cached
    copy per site regardless of how often the query re-runs. (Unpersisting
    inside the query itself is not an option: the caller materializes the
    returned DataFrame after we return, which is when the cache pays off.)

    The registry swap is lock-guarded (ADVICE r5): Spark drivers commonly
    submit jobs from several threads, and an unguarded pop/insert could
    race on the dict. The unpersist of the PREVIOUS epoch is still
    eager-by-design — a caller that re-invokes the same query while a
    prior invocation's result is mid-materialization loses that cache (a
    recompute, never a wrong answer: unpersist only drops cached blocks).
    """
    with _PERSISTED_LOCK:
        prev = _PERSISTED.pop(key, None)
        if prev is not None:
            try:
                prev.unpersist()
            except Exception:  # session gone / already unpersisted — harmless
                pass
        _PERSISTED[key] = df.persist()
    return df


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine configs to an externally created session.

    The correctness driver builds its own SparkSession before calling our
    queries, so anything we depend on must be settable at runtime. All of
    these are.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Deliberately NOT set here: spark.sql.adaptive.enabled. It is on by
    # default since Spark 3.2 (the driver's plain session already has it),
    # it is a performance knob with no bearing on results, and forcing it
    # silently overrode the `tools/drive_entry.py --aqe false` geometry — the
    # r6 self-review caught that the "AQE off" evidence row had never
    # actually run with AQE off. Semantic configs only in this function.
    return spark
