"""Catalog over the driver-provided parquet test tables.

Tables (one parquet file per table under ``{sf_dir}/``): region nation
customer supplier part orders lineitem events documents embeddings — a
TPC-H-ish star schema plus an event stream and LLM-pipeline tables
(see /root/repo/FIXTURES.md).

Scale notes: these are plain ``spark.read.parquet`` scans, so Catalyst
predicate pushdown / column pruning applies unchanged whether the path is a
single 60 KB file (sf0.01) or a 100 TB partitioned directory — callers never
materialize a table, they compose on the returned DataFrame.

The one irregular table is ``events``. Depending on the test-data
generation, its ``ts`` column is either parquet INT64 TIMESTAMP(NANOS,
false) — which Spark cannot represent natively (TimestampType is
microseconds), so we read it as a raw long via ``spark.sql.legacy.parquet
.nanosAsLong`` — or a plain TIMESTAMP(MICROS, false). The loader probes the
file's Spark-inferred schema and normalizes BOTH layouts to the same two
columns:

* ``ts_ns``  — int64 epoch-nanoseconds (exact; every oracle-checked query
  derives its microsecond arithmetic as ``ts_ns div 1000`` so ordering /
  gap math matches DuckDB's ``epoch_us(ts)`` bit for bit), and
* ``ts``     — a ``TimestampType`` (microsecond) column for the
  time-window / Structured Streaming APIs that need a real timestamp.

The session timezone is pinned to UTC (session.py:33), so the
timestamp↔epoch conversions are the identity on the stored values — the
same naive-timestamp semantics DuckDB applies on its side of the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table; ``events`` gets the nanosecond-timestamp shim."""
    if name == "events":
        # Runtime-settable (the correctness driver owns the SparkSession).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # INT64 TIMESTAMP(NANOS) data read as raw nanos-as-long.
            return (
                df.withColumnRenamed("ts", "ts_ns")
                .withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))
            )
        # TIMESTAMP(MICROS) data (read as TIMESTAMP_NTZ or TIMESTAMP):
        # normalize to TimestampType (UTC session tz → identity on stored
        # micros) and synthesize the exact nanosecond long the operators use.
        return (
            df.withColumn("ts", F.col("ts").cast("timestamp"))
            .withColumn("ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000))
        )
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table under the validity contract
    (functions.vectors.valid_embedding): zero-norm, NULL, NaN/inf and
    absurd-magnitude vectors are excluded before any similarity /
    clustering / fixed-point math. Every embedding-family query loads
    through this (and bakes the same predicate into its DuckDB oracle via
    vectors.EMB_VALID_SQL), so the engine neither crashes under ANSI
    division (Spark) nor invents -1 cosine sentinels (DuckDB) on the
    degenerate rows a real corpus contains — tools/adversarial_run.py is
    the evidence. On a clean corpus the filter keeps every row."""
    from sqload_spark.functions.vectors import valid_embedding

    df = load_table(spark, sf_dir, "embeddings")
    return df.filter(valid_embedding(F.col("embedding")))


def load_vectors(spark: SparkSession, sf_dir: str, *extra: str) -> DataFrame:
    """``(vec_id, v, *extra)``: the valid embeddings (load_embeddings) with
    the vector as a double array ``v``, the form every cosine, norm and
    centroid expression reads."""
    from sqload_spark.functions.vectors import to_double_array

    return load_embeddings(spark, sf_dir).select(
        "vec_id", to_double_array(F.col("embedding")).alias("v"), *extra
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL-flavored operators)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
