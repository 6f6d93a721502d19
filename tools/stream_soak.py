"""Bounded-input regression attempt for the round-6 streaming watch item
(VERDICT r6 #6).

The r6 composite run (dirty corpus × local[1]/shuffle=1 serial, ~2 400
stages) logged ONE post-result `java.lang.StackOverflowError` from a
stream-execution thread — after the affected query had delivered its sink
rows, with the run still finishing 193/0, and not reproducible by an
isolated serial re-run of the streaming queries. This tool is the
protocolized reproduction attempt: the SAME session construction as the
run that logged the artifact — the BARE SparkSession.builder that
`drive_entry.py --master 'local[1]' --shuffle-partitions 1` builds (default
driver memory), deliberately NOT session.get_spark's tuned builder —
the SAME dirty corpus (adversarial_run's builder), and a long-session
serial replay of all 12 streaming queries × N iterations — accumulating
far more stream-execution thread churn than the original session's
single pass. The engine's own streaming code contains no regex
(grep: zero regexp/rlike in sqload_spark/streaming/), so a reproduction
would implicate Spark-internal parsing on our plan shapes; row counts are
asserted stable across iterations so a state leak shows up as drift even
if no error surfaces.

JVM errors from stream-execution threads bypass Python exceptions and go
to process stderr, so run this under a capture and grep afterwards:

    python tools/stream_soak.py [N] 2> /tmp/stream_soak_stderr.log
    grep -c StackOverflowError /tmp/stream_soak_stderr.log   # 0 = no repro

Exit 0 = all iterations ran, every query's row count stable. The final
line prints a verdict JSON for BASELINE.md's watch-item close-out.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402

from adversarial_run import build_corpus  # noqa: E402

N = int(sys.argv[1]) if len(sys.argv) > 1 else 10

STREAM_QUERIES = [
    "stream_tumbling_counts",
    "stream_sliding_counts",
    "stream_session_window",
    "stream_dedup_events",
    "stream_microbatch_progress",
    "stream_stateful_profile",
    "stream_stream_left_outer",
    "stream_stream_interval_join",
    "stream_static_enrich",
    "stream_upsert_compaction",
    "stream_late_data_policy",
    "stream_drift_scores",
]


def main() -> int:
    corpus = build_corpus(docs_only=False)
    spark = (
        SparkSession.builder.master("local[1]")
        .appName("stream-soak")
        .config("spark.sql.shuffle.partitions", "1")
        .config("spark.default.parallelism", "1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from sqload_spark import registry

    registry.load_all()
    missing = [q for q in STREAM_QUERIES if q not in registry.QUERIES]
    assert not missing, f"unknown streaming queries: {missing}"

    baseline: dict[str, int] = {}
    drifts: list[str] = []
    errors: list[str] = []
    t0 = time.monotonic()
    for it in range(1, N + 1):
        for name in STREAM_QUERIES:
            try:
                rows = registry.QUERIES[name](spark, corpus).count()
            except Exception as ex:  # noqa: BLE001
                errors.append(f"iter{it} {name}: {type(ex).__name__}: {str(ex)[:160]}")
                continue
            if name not in baseline:
                baseline[name] = rows
            elif rows != baseline[name]:
                drifts.append(f"iter{it} {name}: {rows} != baseline {baseline[name]}")
        print(
            f"iter {it}/{N} ok  elapsed={time.monotonic() - t0:.0f}s"
            f"  errors={len(errors)} drifts={len(drifts)}",
            flush=True,
        )
    print(
        json.dumps(
            {
                "iterations": N,
                "queries": len(STREAM_QUERIES),
                "executions": N * len(STREAM_QUERIES),
                "errors": errors,
                "row_count_drift": drifts,
                "wall_sec": round(time.monotonic() - t0, 1),
                "note": "grep stderr capture for StackOverflowError; 0 hits + exit 0 = no repro",
            }
        )
    )
    return 1 if (errors or drifts) else 0


if __name__ == "__main__":
    sys.exit(main())
