"""Catalog over the driver-provided parquet test tables.

Tables (one parquet file per table under ``{sf_dir}/``): region nation
customer supplier part orders lineitem events documents embeddings — a
TPC-H-ish star schema plus an event stream and LLM-pipeline tables
(see FIXTURES.md).

Scale notes: these are plain ``spark.read.parquet`` scans, so Catalyst
predicate pushdown / column pruning applies unchanged whether the path is a
single 60 KB file (sf0.01) or a 100 TB partitioned directory — callers never
materialize a table, they compose on the returned DataFrame.

Each table is read with its one explicit schema (``SCHEMAS``), so a load
starts no Spark job: schema inference over parquet is a job of its own
(87-92 ms warm against 16 ms for the read with a schema; min of 15 on
documents, lineitem and events at sf0.1, 4 vCPUs), and at 100 TB it would
touch the footers of a partitioned directory. Every column is nullable,
as Spark reads parquet.

The one irregular table is ``events``. Depending on the test-data
generation, its ``ts`` column is either parquet INT64 TIMESTAMP(NANOS,
false) — which Spark cannot represent natively (TimestampType is
microseconds), so we read it as a raw long via ``spark.sql.legacy.parquet
.nanosAsLong`` — or a plain TIMESTAMP(MICROS, false). The loader reads the
stored ``ts`` layout from the parquet footer on the driver
(``stored_ts_type``: pyarrow, no Spark job) and normalizes BOTH layouts to
the same two columns:

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

import pyarrow as pa
import pyarrow.parquet as pq
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


def _schema(*columns: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, dtype) for name, dtype in columns])


_INT, _LONG, _DOUBLE, _STR = T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType()
_TS_NTZ = T.TimestampNTZType()

# Each table's schema as Spark reads its parquet file (FIXTURES.md).
# events' ``ts`` is the TIMESTAMP(MICROS) layout; load_table swaps in the
# stored layout read from the footer (stored_ts_type).
SCHEMAS: dict[str, T.StructType] = {
    "region": _schema(("r_regionkey", _INT), ("r_name", _STR)),
    "nation": _schema(("n_nationkey", _INT), ("n_name", _STR), ("n_regionkey", _INT)),
    "customer": _schema(
        ("c_custkey", _LONG), ("c_name", _STR), ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE), ("c_mktsegment", _STR),
    ),
    "supplier": _schema(
        ("s_suppkey", _LONG), ("s_name", _STR), ("s_nationkey", _INT), ("s_acctbal", _DOUBLE)
    ),
    "part": _schema(
        ("p_partkey", _LONG), ("p_name", _STR), ("p_brand", _STR), ("p_type", _STR),
        ("p_size", _INT), ("p_retailprice", _DOUBLE),
    ),
    "orders": _schema(
        ("o_orderkey", _LONG), ("o_custkey", _LONG), ("o_orderstatus", _STR),
        ("o_totalprice", _DOUBLE), ("o_orderdate", _TS_NTZ), ("o_orderpriority", _STR),
    ),
    "lineitem": _schema(
        ("l_orderkey", _LONG), ("l_partkey", _LONG), ("l_suppkey", _LONG),
        ("l_linenumber", _INT), ("l_quantity", _DOUBLE), ("l_extendedprice", _DOUBLE),
        ("l_discount", _DOUBLE), ("l_tax", _DOUBLE), ("l_returnflag", _STR),
        ("l_linestatus", _STR), ("l_shipdate", _TS_NTZ),
    ),
    "events": _schema(
        ("event_id", _LONG), ("ts", _TS_NTZ), ("user_id", _LONG), ("event_type", _STR),
        ("value", _DOUBLE), ("props", _STR),
    ),
    "documents": _schema(
        ("doc_id", _LONG), ("text", _STR), ("lang", _STR), ("source", _STR), ("n_chars", _LONG)
    ),
    "embeddings": _schema(
        ("vec_id", _LONG), ("embedding", T.ArrayType(T.FloatType())), ("label", _INT)
    ),
}


def stored_ts_type(sf_dir: str) -> T.DataType:
    """The Spark type of events' stored ``ts`` column, from the parquet
    footer (a file, or the first file of a directory) read on the driver:
    nanoseconds, or a plain INT64 (a Spark-written copy of them), read as
    the raw long (``nanosAsLong``); zone-less micro/milliseconds as
    TIMESTAMP_NTZ; zone-adjusted ones as TIMESTAMP."""
    ts = pq.ParquetDataset(f"{sf_dir}/events.parquet").schema.field("ts").type
    if not pa.types.is_timestamp(ts) or ts.unit == "ns":
        return _LONG
    return T.TimestampType() if ts.tz else _TS_NTZ


def events_schema(sf_dir: str) -> T.StructType:
    """``SCHEMAS["events"]`` with the stored ``ts`` layout."""
    ts_type = stored_ts_type(sf_dir)
    return _schema(*((f.name, ts_type if f.name == "ts" else f.dataType) for f in SCHEMAS["events"]))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table; ``events`` gets the nanosecond-timestamp shim."""
    if name != "events":
        return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")
    # Runtime-settable (the correctness driver owns the SparkSession).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = events_schema(sf_dir)
    df = spark.read.schema(schema).parquet(f"{sf_dir}/events.parquet")
    if isinstance(schema["ts"].dataType, T.LongType):
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
    return df.filter(valid_embedding("embedding"))


def load_vectors(spark: SparkSession, sf_dir: str, *extra: str) -> DataFrame:
    """``(vec_id, v, *extra)``: the valid embeddings (load_embeddings) with
    the vector as a double array ``v``, the form every cosine, norm and
    centroid expression reads."""
    from sqload_spark.functions.vectors import to_double_array

    return load_embeddings(spark, sf_dir).select(
        "vec_id", to_double_array("embedding").alias("v"), *extra
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL-flavored operators)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
