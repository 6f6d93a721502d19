"""CLI — the reference binary's surface, Spark-backed.

Reference usage (/root/reference/README.md:16, generate_csv.cpp:355-364):

    ./generate_csv <rows> "<spec>"          # CSV rows to stdout
    ./generate_csv                          # 100000 rows of the default spec

Ours:

    python -m sqload_spark gen [rows] [spec] [--seed N] [--partitions N]
                                [--output PATH --format csv|parquet]

Without --output, rows stream to stdout (assembled JVM-side into one string
column; the driver only prints). With --output, partitions write files in
parallel — the scale path. Parse errors print the reference's exact message
text ("Unterminated bracket!" etc.) and exit 0, mirroring observed reference
behavior (it catches and prints, then returns 0).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F

from sqload_spark.plans.spec_parser import SpecParseError, parse_spec
from sqload_spark.session import get_spark
from sqload_spark.sources.generate import DEFAULT_ROWS, DEFAULT_SPEC, generate_table
from sqload_spark.sources.sinks import write_partitioned_parquet, write_reference_csv


def _csv_line(df):
    """One string column: comma-joined cells, reference temporal formats."""
    cells = []
    for field in df.schema.fields:
        col = F.col(field.name)
        t = field.dataType.simpleString()
        if t in ("timestamp", "timestamp_ntz"):
            cells.append(F.date_format(col, "yyyy-MM-dd HH:mm:ss"))
        elif t == "date":
            cells.append(F.date_format(col, "yyyy-MM-dd"))
        else:
            cells.append(col.cast("string"))
    return df.select(F.concat_ws(",", *[F.coalesce(c, F.lit("")) for c in cells]).alias("line"))


def main(argv: list[str] | None = None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    # reference parity: invoking with no arguments at all runs the default
    # generation (100000 rows of the default spec — generate_csv.cpp:358-360)
    if not argv:
        argv = ["gen"]
    parser = argparse.ArgumentParser(prog="sqload_spark")
    sub = parser.add_subparsers(dest="command", required=True)
    gen = sub.add_parser("gen", help="generate synthetic rows")
    gen.add_argument("rows", nargs="?", type=int, default=DEFAULT_ROWS)
    gen.add_argument("spec", nargs="?", default=DEFAULT_SPEC)
    gen.add_argument("--seed", type=int, default=0)
    gen.add_argument("--partitions", type=int, default=None)
    gen.add_argument("--output", default=None, help="directory for file output")
    gen.add_argument("--format", choices=("csv", "parquet"), default="csv")
    gen.add_argument(
        "--range-key",
        default=None,
        help="parquet output: one file per partition covering a disjoint, sorted range of this "
        "column (range-shuffled unless the table is already range-partitioned on it, as the "
        "key column c0 of an expr-backend table is)",
    )
    args = parser.parse_args(argv)

    try:
        specs = parse_spec(args.spec)
    except SpecParseError as e:
        print(e)
        return 0  # the reference prints the message and exits 0

    spark = get_spark("sqload_spark_cli")
    df = generate_table(spark, args.rows, specs, seed=args.seed, num_partitions=args.partitions)
    if args.output is None:
        for row in _csv_line(df).toLocalIterator():
            sys.stdout.write(row.line + "\n")
    elif args.format == "csv":
        write_reference_csv(df, args.output)
    else:
        write_partitioned_parquet(df, args.output, range_key=args.range_key)
    return 0


if __name__ == "__main__":
    sys.exit(main())
