"""Registry entries exposing the synthetic-table generator (the reference's
entire surface, SURVEY.md §2A) through the driver contract.

Generated data is random-by-design, so there is no DuckDB oracle — these are
rows-only checks. The exact statistical laws (ranges, charsets, uniqueness,
determinism) are enforced by tests/test_generator.py instead. The one
deterministic column family, key/rkey, gets a self-checking query whose
output embeds the law it proves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqload_spark.registry import query
from sqload_spark.sources.generate import generate_table
from sqload_spark.session import scratch_dir

GEN_ROWS = 10_000


@query("gen_default_table")
def gen_default_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's no-arg default: int,varchar(50),double,date,bigint
    (generate_csv.cpp:358-360), deterministic at seed 42."""
    return generate_table(spark, GEN_ROWS, seed=42)


@query("gen_all_types_table")
def gen_all_types_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every supported type in one table (README.md:3 list + year)."""
    spec = (
        "key,rkey,bit,tinyint,smallint,mediumint,int,bigint,float,double,"
        "char(5),nchar(3),varchar(10),varchar2(10),nvarchar2(3),text,blob,"
        "date,datetime,timestamp,time,year,decimal(10,2),number(20,4)"
    )
    return generate_table(spark, 1_000, spec, seed=42)


@query("gen_keys_law")
def gen_keys_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-checking uniqueness/monotonicity proof for key/rkey: one row of
    invariants the driver can eyeball (all counts must equal GEN_ROWS)."""
    df = generate_table(spark, GEN_ROWS, "key,rkey", seed=42)
    return df.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("c0").alias("n_distinct_keys"),
        F.countDistinct("c1").alias("n_distinct_rkeys"),
        (F.max("c0") - F.min("c0") + 1).alias("key_span"),
        F.sum(F.when(F.col("c0") >= 0, 1).otherwise(0)).alias("n_keys_nonneg"),
    )


@query("gen_datasource_table")
def gen_datasource_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generator as a first-class Spark SOURCE (Python Data Source API):
    `spark.read.format("sqload")` with the reference's default spec —
    schema from the type-spec grammar at analysis time, per-partition Arrow
    batches, bit-identical to generate_table(impl="arrow") (asserted in
    tests/test_datasource.py). Rows-only for the driver like every
    generator table; the laws live in the pytest suite."""
    from sqload_spark.sources.datasource import register

    register(spark)
    return (
        spark.read.format("sqload")
        .option("rows", GEN_ROWS)
        .option("seed", 42)
        .load()
    )


@query("gen_stream_table")
def gen_stream_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generator as a STREAMING source: format("sqload").readStream
    emits rowsPerBatch ids per trigger (offsets = row counters, so
    exactly-once replay is just re-generating the same id range). Run to
    maxRows under a periodic trigger; any prefix is bit-identical to the
    batch table (law-tested in tests/test_datasource.py), so this is the
    load-generator front end of a streaming ingest benchmark.

    The trigger stays periodic: the Python source has no read-limit hook,
    so availableNow would stop after one rowsPerBatch batch. The wait is
    ``processAllAvailable`` (the engine returns once every offset the
    source reports is committed), not a poll of the sink."""
    import uuid as _uuid

    from sqload_spark.sources.datasource import register

    register(spark)
    total = GEN_ROWS
    sdf = (
        spark.readStream.format("sqload")
        .option("spec", "key,rkey,int,varchar(16)")
        .option("seed", 42)
        .option("rowsPerBatch", total // 4)
        .option("maxRows", total)
        .load()
    )
    name = f"genstream_{_uuid.uuid4().hex[:10]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", scratch_dir(prefix="sqload_gen_ckpt_"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    if spark.table(name).count() < total:
        raise RuntimeError("generator stream incomplete")
    return spark.table(name).orderBy("c0")
