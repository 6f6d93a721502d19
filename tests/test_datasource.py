"""Laws for the `sqload` Python Data Source (sources/datasource.py):
backend equivalence, partition invariance, full-type-surface loads, and
the reference's rkey bijection through the source path."""

from __future__ import annotations

from pyspark.sql import functions as F

from sqload_spark.sources.datasource import register
from sqload_spark.sources.generate import generate_table

MIXED_SPEC = "key,rkey,int,varchar(20),decimal(10,2),date"
ALL_TYPES = (
    "key,rkey,bit,tinyint,smallint,mediumint,int,bigint,float,double,"
    "char(5),nchar(3),varchar(10),varchar2(10),nvarchar2(3),text,blob,"
    "date,datetime,timestamp,time,year,decimal(10,2),number(20,4)"
)


def _load(spark, rows, spec, seed, parts):
    register(spark)
    return (
        spark.read.format("sqload")
        .option("rows", rows)
        .option("spec", spec)
        .option("seed", seed)
        .option("partitions", parts)
        .load()
    )


def test_source_equals_arrow_backend(spark):
    src = _load(spark, 2000, MIXED_SPEC, seed=7, parts=4)
    ref = generate_table(spark, 2000, MIXED_SPEC, seed=7, impl="arrow")
    assert src.schema == ref.schema
    assert set(map(tuple, src.collect())) == set(map(tuple, ref.collect()))


def test_source_partition_invariant(spark):
    a = set(map(tuple, _load(spark, 2000, MIXED_SPEC, 7, parts=1).collect()))
    b = set(map(tuple, _load(spark, 2000, MIXED_SPEC, 7, parts=16).collect()))
    assert a == b


def test_source_all_types_loads(spark):
    df = _load(spark, 300, ALL_TYPES, seed=3, parts=3)
    assert len(df.schema.fields) == 24
    assert df.count() == 300


def test_source_rkey_reference_bijection(spark):
    rows = (
        _load(spark, 3, "key,rkey", seed=0, parts=1)
        .orderBy("c0")
        .select(F.col("c1").cast("string"))
        .collect()
    )
    # reference binary's first three rkey outputs (SURVEY.md §1.1)
    assert [r[0] for r in rows] == ["9223372036854775808", "1", "9223372036854775809"]


def test_stream_source_prefix_equals_batch(spark):
    """The streaming reader must emit the batch table's exact prefix,
    across multiple real micro-batches."""
    import tempfile
    import uuid

    register(spark)
    sdf = (
        spark.readStream.format("sqload")
        .option("spec", MIXED_SPEC)
        .option("seed", 11)
        .option("rowsPerBatch", 900)
        .option("maxRows", 2500)
        .load()
    )
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    out = spark.table(name)
    assert out.count() == 2500
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 3, f"expected multiple micro-batches, got {n_batches}"
    ref = generate_table(spark, 2500, MIXED_SPEC, seed=11, impl="arrow")
    assert set(map(tuple, out.collect())) == set(map(tuple, ref.collect()))


def test_gen_stream_table_rows_pinned(spark):
    """gen_stream_table has no oracle: pin its rows (row_digest over every
    column at sf0.01), so a change to how the stream is run or awaited
    cannot move or drop a row unseen."""
    from sqload_spark import registry
    from tests.conftest import SF_DIR, row_digest

    registry.load_all()
    out = registry.QUERIES["gen_stream_table"](spark, SF_DIR)
    assert row_digest(out) == (10_000, -59828050971248831701)
