"""Arrow/numpy generator backend: same laws as the expression backend —
ranges, charsets, key/rkey exactness, determinism across parallelism."""

from __future__ import annotations

from pyspark.sql import functions as F

from sqload_spark.functions.randoms import rkey_py
from sqload_spark.sources.generate import generate_table


def gen(spark, spec, rows=1000, seed=7, parts=None):
    return generate_table(spark, rows, spec, seed=seed, num_partitions=parts, impl="arrow")


def test_arrow_types_and_ranges(spark):
    df = gen(spark, "bit,tinyint,mediumint,int,year,varchar(10),text,decimal(10,2)")
    row = df.agg(
        F.min("c0"), F.max("c0"), F.min("c1"), F.max("c1"),
        F.min("c2"), F.max("c2"), F.min("c4"), F.max("c4"),
        F.min("c7"), F.max("c7"),
    ).first()
    assert 0 <= row[0] <= row[1] <= 1
    assert -128 <= row[2] <= row[3] <= 127
    assert -8388608 <= row[4] <= row[5] <= 8388607
    assert 1901 <= row[6] <= row[7] <= 2155
    assert 0 <= float(row[8]) and float(row[9]) < 10**8
    assert df.filter(~F.col("c5").rlike(r"^[0-9A-Za-z]{10}$")).count() == 0
    assert df.filter(~F.col("c6").rlike(r"^[0-9A-Za-z]{1,256}$")).count() == 0


def test_arrow_keys_exact(spark):
    df = gen(spark, "key,rkey", rows=300, parts=8).orderBy("c0")
    rows = df.collect()
    assert [r.c0 for r in rows] == list(range(300))
    assert [int(r.c1) for r in rows] == [rkey_py(i + 1) for i in range(300)]


def test_arrow_determinism_across_parallelism(spark):
    outs = []
    for parts in (1, 4, 16):
        df = gen(spark, "int,varchar(8),double,date,decimal(8,2)", rows=400, seed=42, parts=parts)
        outs.append(sorted(tuple(str(v) for v in r) for r in df.collect()))
    assert outs[0] == outs[1] == outs[2]


def test_arrow_temporal(spark):
    df = gen(spark, "date,datetime,timestamp,time", rows=300)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "date", "timestamp_ntz", "timestamp", "string",
    ]
    row = df.agg(F.min(F.year("c0")), F.max(F.year("c0")), F.max(F.dayofmonth("c1"))).first()
    assert 1900 <= row[0] <= row[1] <= 2021 and row[2] <= 28
    assert df.filter(~F.col("c3").rlike(r"^([01]\d|2[0-3]):[0-5]\d:[0-5]\d$")).count() == 0


ALL_BUT_TIMESTAMP = (
    "key,rkey,bit,tinyint,smallint,mediumint,int,bigint,float,double,char(5),nchar(3),"
    "varchar(10),varchar2(7),nvarchar2(4),text,blob,date,datetime,time,year,decimal(12,2),"
    "number,decimal(26,8),foo"
)


def test_arrow_values_pinned(spark):
    """Exact arrow-backend output for every type except timestamp (whose
    upper bound is the wall clock), at two partition counts."""
    from tests.conftest import row_digest

    for parts in (1, 4):
        df = gen(spark, ALL_BUT_TIMESTAMP, rows=3000, seed=11, parts=parts)
        assert row_digest(df) == (3000, -70510702460225136416)
