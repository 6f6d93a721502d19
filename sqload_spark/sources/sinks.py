"""Sinks: reference-style CSV, partitioned parquet bulk load, JDBC.

The reference streams unquoted comma-joined rows to stdout
(/root/reference/generate_csv.cpp:164,192-196,243). Our distributed
equivalents:

* ``write_reference_csv`` — per-partition CSV part files, no header, no
  quoting (the generator charsets are alnum-only so quoting is never
  needed), MySQL-style temporal formats.
* ``write_partitioned_parquet`` — the "bulk load into a partitioned
  database" ETL shape the generator exists to feed: range-repartition on
  the load key (balanced, sorted part files; co-located with downstream
  bucketed joins) + optional hive-style directory partitioning. The
  range exchange is skipped when the input's physical partitioning is
  already ``rangepartitioning(key ASC NULLS FIRST, n)`` — as an
  expr-backend generated table is on its ``key`` column ``c0``, since
  ``spark.range`` hands out contiguous id slices — which saves the
  sampling job and the shuffle.
* ``write_jdbc`` — the real-database path (no DB server in this container;
  kept behind an interface and exercised only for plan construction).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

#: Directory-name sentinels for string partition keys. Hive-style layout
#: collapses both NULL and '' into __HIVE_DEFAULT_PARTITION__, silently
#: merging two distinct groups on read-back; partitioning on an escaped twin
#: instead (while the raw column rides in the data files) keeps the round
#: trip lossless. A pruning filter on value F maps to escape(F).
PARTITION_NULL_SENTINEL = "__null__"
PARTITION_EMPTY_SENTINEL = "__empty__"


def partition_twin(col: str) -> str:
    """Directory column name of a string partition key's escaped twin."""
    return f"__part_{col}"


def partition_escape(col: str | Column) -> Column:
    """Escaped twin of a string partition key: NULL → '__null__',
    '' → '__empty__', real values pass through. Real values MUST NOT
    collide with the sentinels — enforced here with raise_error, so the
    contract is checked at write time rather than assumed in a comment."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(
            c.isin(PARTITION_NULL_SENTINEL, PARTITION_EMPTY_SENTINEL),
            F.raise_error(
                F.concat(F.lit("partition key collides with escape sentinel: "), c)
            ),
        )
        .when(c.isNull(), PARTITION_NULL_SENTINEL)
        .when(c == "", PARTITION_EMPTY_SENTINEL)
        .otherwise(c)
    )


def write_reference_csv(df: DataFrame, path: str, num_files: int | None = None) -> None:
    out = df.coalesce(num_files) if num_files else df
    (
        out.write.mode("overwrite")
        .option("header", "false")
        .option("quoteAll", "false")
        .option("emptyValue", "")
        .option("nullValue", "")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss")
        .option("dateFormat", "yyyy-MM-dd")
        .csv(path)
    )


def _range_partitioned(df: DataFrame, key: str, n: int) -> bool:
    """Whether ``df``'s executed plan already outputs ``n`` range partitions
    ordered by the output column ``key`` ascending, nulls first — what
    ``repartitionByRange(n, key)`` would produce, up to the split points.
    Read from the physical partitioning object, not from plan text."""
    plan = df._jdf.queryExecution().executedPlan()
    part = plan.outputPartitioning()
    if part.getClass().getSimpleName() != "RangePartitioning" or part.numPartitions() != n:
        return False
    ordering = part.ordering()
    if ordering.size() != 1:
        return False
    order = ordering.apply(0)
    attr = order.child()
    return (
        attr.getClass().getSimpleName() == "AttributeReference"
        and attr.name() == key
        and plan.outputSet().contains(attr)
        and order.direction().sql() == "ASC"
        and order.nullOrdering().sql() == "NULLS FIRST"
    )


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    range_key: str | None = None,
    partition_by: list[str] | None = None,
    num_partitions: int | None = None,
) -> None:
    """Bulk-load shape: balanced range partitions on the load key so each
    output file covers a disjoint, sorted key range (what a partitioned DB
    bulk loader wants), plus optional hive-style directory partitioning for
    partition-pruned reads.

    String partition keys are directory-named by their escaped twin
    (``__part_<col>`` = :func:`partition_escape`) while the raw column rides
    in the data files: hive layout collapses NULL and '' into
    __HIVE_DEFAULT_PARTITION__, so partitioning on the raw key silently
    merges those two groups on read-back. Non-string keys are unaffected
    (only NULL maps to the default directory, which round-trips).

    ``repartitionByRange`` is left out when ``df`` is already physically
    range-partitioned on exactly ``[range_key ASC NULLS FIRST]`` into the
    same number of partitions (:func:`_range_partitioned`). The
    ``sortWithinPartitions`` stays: the planner drops it as redundant
    when the input is already sorted on the key."""
    out = df
    if range_key is not None:
        n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
        if not _range_partitioned(df, range_key, n):
            out = out.repartitionByRange(n, range_key)
        out = out.sortWithinPartitions(range_key)
    part_dirs: list[str] = []
    for c in partition_by or []:
        if isinstance(out.schema[c].dataType, StringType):
            twin = partition_twin(c)
            out = out.withColumn(twin, partition_escape(c))
            part_dirs.append(twin)
        else:
            part_dirs.append(c)
    writer = out.write.mode("overwrite")
    if part_dirs:
        writer = writer.partitionBy(*part_dirs)
    writer.parquet(path)


def read_back_parquet(
    spark: SparkSession, path: str, schema: StructType, partition_by: list[str] | None = None
) -> DataFrame:
    """Read the parquet that ``write_partitioned_parquet`` (or a plain
    parquet write) made at ``path`` from a frame of ``schema``, with the
    schema the writer held: the data columns, then the partition directory
    columns, as inference would order them, but with no inference job."""
    dirs = [
        StructField(partition_twin(c), StringType()) if isinstance(schema[c].dataType, StringType)
        else schema[c]
        for c in partition_by or []
    ]
    data = [f for f in schema.fields if f not in dirs]
    return spark.read.schema(StructType(data + dirs)).parquet(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batch_size: int = 10_000,
    num_partitions: int | None = None,
    **properties: str,
) -> None:
    """JDBC bulk insert (one connection per partition, batched inserts) —
    the real-database load path. Exercised end-to-end in this container
    against embedded Derby (on Spark's classpath); against a server RDBMS
    only the url/driver change. `num_partitions` caps write concurrency —
    a bulk load should open O(loader slots), not O(cluster cores),
    connections."""
    out = df.repartition(num_partitions) if num_partitions else df
    (
        out.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .options(**properties)
        .mode(mode)
        .save()
    )


def read_jdbc_partitioned(
    spark,
    url: str,
    table: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int,
    **properties: str,
) -> DataFrame:
    """Partitioned JDBC scan: numPartitions parallel range queries on
    partition_column — the read half of the bulk-load round trip."""
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("partitionColumn", partition_column)
        .option("lowerBound", str(lower_bound))
        .option("upperBound", str(upper_bound))
        .option("numPartitions", str(num_partitions))
        .options(**properties)
        .load()
    )
