"""Phase-profile registered queries in one warm session (round 11).

For each name: time fn(spark, sf_dir) construction ("build" — for
streaming entries this is the whole replay; for batch it is plan-only)
and the noop-sink execution ("exec"), twice, so warm-vs-cold codegen and
one-off scratch writes separate from steady-state compute. Prints one
JSON line per query; ``warm_compiles`` is the number of generated
classes Janino compiled during the warm build and exec (the codegen layer:
a warm query whose generated source is unchanged compiles none).
``build_py4j_calls`` counts the py4j round trips of the warm build (the
plan-build layer's cost driver), and ``build_jobs`` the Spark jobs the
warm build started itself (eager actions during construction), read from
the status tracker by job group.

Usage: python tools/profile_queries.py name1 name2 ...
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager

from py4j.protocol import MEMORY_COMMAND_NAME

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sqload_spark import registry
from sqload_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@contextmanager
def count_py4j_calls(spark):
    """Count the py4j commands sent while the block runs: yields a
    one-element list that holds the count. Every Java call goes through
    the one gateway client's ``send_command``; so do py4j's garbage
    collection ``memory`` commands for proxies Python frees, which depend
    on when GC runs, not on the code under count, and are skipped."""
    client = spark.sparkContext._gateway._gateway_client
    calls = [0]
    send = client.send_command

    def counted(command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        yield calls
    finally:
        del client.send_command


def main() -> None:
    registry.load_all()
    spark = get_spark("sqload_profile")
    spark.range(1000).count()
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(10).count()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    tracker = spark.sparkContext.statusTracker()
    names = sys.argv[1:]
    for name in names:
        fn = registry.QUERIES[name]
        rec: dict[str, object] = {"name": name}
        for attempt in ("cold", "warm"):
            n0 = compiles.getCount()
            group = f"{name}:{attempt}:build"
            spark.sparkContext.setJobGroup(group, group)
            with count_py4j_calls(spark) as calls:
                t0 = time.monotonic()
                df = fn(spark, SF_DIR)
                t1 = time.monotonic()
            spark.sparkContext.setJobGroup(f"{name}:{attempt}:exec", f"{name}:{attempt}:exec")
            df.write.mode("overwrite").format("noop").save()
            t2 = time.monotonic()
            rec[f"{attempt}_build"] = round(t1 - t0, 3)
            rec[f"{attempt}_exec"] = round(t2 - t1, 3)
        rec["build_py4j_calls"] = calls[0]  # the warm attempt's
        rec["build_jobs"] = len(tracker.getJobIdsForGroup(group))
        rec["warm_compiles"] = compiles.getCount() - n0  # n0: the warm attempt's start
        rec["total_warm"] = round(rec["warm_build"] + rec["warm_exec"], 3)  # type: ignore[operator]
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
