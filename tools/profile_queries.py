"""Phase-profile registered queries in one warm session (round 11).

For each name: time fn(spark, sf_dir) construction ("build" — for
streaming entries this is the whole replay; for batch it is plan-only)
and the noop-sink execution ("exec"), twice, so warm-vs-cold codegen and
one-off scratch writes separate from steady-state compute. Prints one
JSON line per query; ``warm_compiles`` is the number of generated
classes Janino compiled during the warm build and exec (the codegen layer:
a warm query whose generated source is unchanged compiles none).

Usage: python tools/profile_queries.py name1 name2 ...
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sqload_spark import registry
from sqload_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    registry.load_all()
    spark = get_spark("sqload_profile")
    spark.range(1000).count()
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(10).count()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    names = sys.argv[1:]
    for name in names:
        fn = registry.QUERIES[name]
        rec: dict[str, object] = {"name": name}
        for attempt in ("cold", "warm"):
            n0 = compiles.getCount()
            spark.sparkContext.setJobDescription(f"{name}:{attempt}:build")
            t0 = time.monotonic()
            df = fn(spark, SF_DIR)
            t1 = time.monotonic()
            spark.sparkContext.setJobDescription(f"{name}:{attempt}:exec")
            df.write.mode("overwrite").format("noop").save()
            t2 = time.monotonic()
            rec[f"{attempt}_build"] = round(t1 - t0, 3)
            rec[f"{attempt}_exec"] = round(t2 - t1, 3)
        rec["warm_compiles"] = compiles.getCount() - n0  # n0: the warm attempt's start
        rec["total_warm"] = round(rec["warm_build"] + rec["warm_exec"], 3)  # type: ignore[operator]
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
