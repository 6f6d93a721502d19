"""Simulate the driver and gate queries on their DuckDB oracles: a plain
SparkSession, __spark_entry__'s entry() smoke, then each selected query
compared with its oracle under tests/conftest.py's one rule.

    python tools/drive_entry.py                       # every query, plain local[8] session
    python tools/drive_entry.py q1_pricing_summary    # named queries
    python tools/drive_entry.py --prefix q2_ q4_      # every query with a name prefix
    python tools/drive_entry.py --master 'local[5]' --shuffle-partitions 13 --aqe false

The geometry flags are partition-invariance evidence: a query whose answer
depends on split count, task order or runtime re-planning mismatches under
odd core counts, mismatched shuffle partitions, AQE off or a smaller
corpus (--sf-dir) even when the plain session is green.

Each name prints MATCH, MISMATCH with its reason, ROWS-ONLY (no oracle; the
query must still run) or ERROR naming the engine that raised. Exit 0 when
nothing mismatches or raises.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e  # noqa: E402
from sqload_spark import registry  # noqa: E402
from tests.conftest import SF_DIR, duck_views, oracle_mismatch  # noqa: E402


def compare(spark, sf_dir: str, names: list[str]) -> tuple[int, int, int]:
    """Run each named query over ``sf_dir`` against its oracle, print one
    line per name and a RESULT line; return (match, mismatch, error)."""
    geometry = (
        f"{spark.sparkContext.master} sp={spark.conf.get('spark.sql.shuffle.partitions')} "
        f"aqe={spark.conf.get('spark.sql.adaptive.enabled')} {sf_dir}"
    )
    qs, oracles = e.queries(), e.oracle_sql()
    con = duck_views(sf_dir)
    ok = bad = err = 0
    t_all = time.time()
    for name in names:
        t0 = time.time()
        engine = "spark"
        try:
            sp = qs[name](spark, sf_dir).toPandas()
            engine = "duckdb"
            du = con.execute(oracles[name]).fetchdf() if name in oracles else None
        except Exception as ex:  # noqa: BLE001 - one failing query must not end the gate
            print(f"ERROR     {name:35s} {engine} raised {type(ex).__name__}: {str(ex)[:200]}")
            err += 1
            continue
        took = f"rows={len(sp):6d} {time.time() - t0:5.1f}s"
        if du is None:
            print(f"ROWS-ONLY {name:35s} {took}")
            continue
        why = oracle_mismatch(sp, du)
        print(f"{'MATCH' if why is None else 'MISMATCH':9s} {name:35s} {took}" + (f"  {why}" if why else ""))
        ok += why is None
        bad += why is not None
    con.close()
    print(
        f"RESULT[{geometry}]: {ok} match, {bad} mismatch, {err} error, "
        f"{len(names) - ok - bad - err} rows-only, {time.time() - t_all:.0f}s"
    )
    return ok, bad, err


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    parser.add_argument("names", nargs="*", help="registered query names (default: all)")
    parser.add_argument("--prefix", nargs="+", default=[], help="also select every query with one of these name prefixes")
    parser.add_argument("--master", default="local[8]")
    parser.add_argument("--shuffle-partitions", help="spark.sql.shuffle.partitions and spark.default.parallelism")
    parser.add_argument("--aqe", choices=["true", "false"], help="spark.sql.adaptive.enabled")
    parser.add_argument("--sf-dir", default=SF_DIR)
    args = parser.parse_args()

    qs = registry.all_queries()
    missing = [n for n in args.names if n not in qs]
    if missing:
        parser.error(f"unknown queries: {missing}")
    picked = list(args.names)
    for p in args.prefix:
        hits = [n for n in qs if n.startswith(p)]
        if not hits:
            parser.error(f"prefix matched no registered query: {p!r}")
        picked += hits
    names = list(dict.fromkeys(picked)) or sorted(qs)

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master(args.master).appName("driver-sim")
    if args.shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", args.shuffle_partitions)
        builder = builder.config("spark.default.parallelism", args.shuffle_partitions)
    if args.aqe:
        builder = builder.config("spark.sql.adaptive.enabled", args.aqe)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    df = e.entry(spark)
    rows = df.collect()
    print("ENTRY rows:", len(rows), "schema:", df.schema.simpleString())
    assert len(rows) > 0

    _, bad, err = compare(spark, args.sf_dir, names)
    return 1 if bad or err else 0


if __name__ == "__main__":
    sys.exit(main())
