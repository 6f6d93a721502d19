"""The distributed synthetic-table source — the reference generator,
re-expressed as ``spark.range(rows, numPartitions) → project → (write)``.

The whole pipeline is shuffle-free: each partition generates its id slice
independently, every value is a pure function of (id, seed), and the write
fans out one file per partition. Throughput therefore scales linearly with
cores/executors — the property the single-threaded reference fundamentally
lacks (/root/reference/README.md:45: one core at 99%).

Two backends build the columns. ``expr`` is one Catalyst projection over
the id (plans/planner.py), JVM-only. ``arrow`` is ``mapInArrow`` over the id
batches (sources/generate_arrow.py): numpy draws, and each column handed
back as an Arrow array built from numpy buffers, with no per-row Python
objects. An ``expr`` table whose ``c0`` is the key keeps ``spark.range``'s
physical partitioning as ``rangepartitioning(c0 ASC, n)``, so a sink
range-keyed on ``c0`` writes it without a shuffle (sources/sinks.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sqload_spark.plans.planner import plan_columns
from sqload_spark.plans.spec_parser import ColumnSpec, parse_spec

DEFAULT_SPEC = "int,varchar(50),double,date,bigint"  # generate_csv.cpp:360
DEFAULT_ROWS = 100_000  # generate_csv.cpp:359


# auto backend: specs whose declared random-string budget per row is at or
# above this go to the arrow backend. Measured single-core at 1M rows
# (round 2): expr varchar(50) ≈ 93 K rows/s vs arrow ≈ 412 K — the
# per-character HOF interpretation caps the expr path, and every
# block-hash/base-62 expression rewrite we benchmarked came out SLOWER
# (42-59 K rows/s: string assembly dominates, not xxhash64). Numeric-only
# specs stay on expr, which is JVM-only and avoids Python workers entirely.
_ARROW_STRING_CHARS = 16

_STRING_TYPES = {"char", "nchar", "varchar", "varchar2", "nvarchar2", "text", "blob"}
_TEXTBLOB_AVG_LEN = 128  # text/blob draw length uniform in [1, 256]


def _string_chars_per_row(specs: list[ColumnSpec]) -> int:
    return sum(
        (_TEXTBLOB_AVG_LEN if s.type in ("text", "blob") else s.length)
        for s in specs
        if s.type in _STRING_TYPES
    )


def generate_table(
    spark: SparkSession,
    rows: int = DEFAULT_ROWS,
    spec: str | list[ColumnSpec] = DEFAULT_SPEC,
    seed: int = 0,
    num_partitions: int | None = None,
    impl: str = "auto",
    blob_binary: bool = False,
) -> DataFrame:
    """Build a DataFrame of `rows` synthetic rows for the given column spec.

    Deterministic: same (rows, spec, seed) → identical values at any
    `num_partitions` (draws are hash-of-id, not partition-seeded rand()).

    impl="expr": pure Catalyst column expressions — shuffle-free, JVM-only,
    no Python in the pipeline. impl="arrow": numpy-vectorized mapInArrow
    backend (sources/generate_arrow.py) that returns Arrow batches built
    from numpy buffers — ~4× faster per core on string-heavy specs, same
    distribution laws, same key/rkey values (different random streams for
    the other types). impl="auto" (default): arrow when the spec draws ≥ 16
    random string chars per row, else expr.
    """
    specs = parse_spec(spec) if isinstance(spec, str) else spec
    if blob_binary:
        impl = "expr"  # BinaryType blob is an expr-backend feature
    elif impl == "auto":
        impl = "arrow" if _string_chars_per_row(specs) >= _ARROW_STRING_CHARS else "expr"
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    base = spark.range(0, rows, 1, num_partitions)
    if impl == "arrow":
        from sqload_spark.sources.generate_arrow import arrow_generator

        schema = ", ".join(
            f"c{i} {_arrow_schema_type(s)}" for i, s in enumerate(specs)
        )
        return base.mapInArrow(arrow_generator(specs, seed), schema=schema)
    return base.select(*plan_columns(specs, seed=seed, blob_binary=blob_binary))


def _arrow_schema_type(spec: ColumnSpec) -> str:
    t = spec.type
    return {
        "key": "bigint",
        "rkey": "decimal(20,0)",
        "bit": "int",
        "tinyint": "tinyint",
        "smallint": "smallint",
        "mediumint": "int",
        "int": "int",
        "bigint": "bigint",
        "float": "float",
        "double": "double",
        "char": "string",
        "nchar": "string",
        "varchar": "string",
        "varchar2": "string",
        "nvarchar2": "string",
        "text": "string",
        "blob": "string",
        "date": "date",
        "datetime": "timestamp_ntz",
        "timestamp": "timestamp",
        "time": "string",
        "year": "int",
        "decimal": f"decimal({spec.precision},{spec.scale})",
        "number": f"decimal({spec.precision},{spec.scale})",
    }.get(t, "string")
