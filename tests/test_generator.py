"""Generator engine tests: parser grammar + error parity, per-type range /
charset / length laws, key/rkey uniqueness laws, seed determinism across
parallelism, CSV round-trip (FIXTURES.md §A)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from sqload_spark.functions.randoms import rkey_py
from sqload_spark.plans.spec_parser import (
    ColumnSpec,
    SpecParseError,
    parse_spec,
)
from sqload_spark.sources.generate import generate_table

N = 2000


def gen(spark, spec, rows=N, seed=7, parts=None):
    return generate_table(spark, rows, spec, seed=seed, num_partitions=parts)


# --- parser ---------------------------------------------------------------


def test_parse_basic():
    specs = parse_spec("int,varchar(50),double,date,bigint")
    assert [s.type for s in specs] == ["int", "varchar", "double", "date", "bigint"]
    assert specs[1].length == 50


def test_parse_decimal_forms():
    two = parse_spec("decimal(10,2)")[0]
    assert (two.precision, two.scale, two.length) == (10, 2, 0)
    # single-arg lands in length; precision/scale stay at the (16,6) default
    one = parse_spec("decimal(10)")[0]
    assert (one.precision, one.scale, one.length) == (16, 6, 10)
    bare = parse_spec("decimal")[0]
    assert (bare.precision, bare.scale) == (16, 6)
    # precision < scale fixup
    fix = parse_spec("number(2,5)")[0]
    assert (fix.precision, fix.scale) == (5, 5)


def test_parse_spaces_and_case():
    # space allowed after commas, before ')' and around the (p,s) comma —
    # but NOT after '(' (the reference calls expectInt immediately there).
    specs = parse_spec("INT , Varchar(50 ) ,  DECIMAL(8, 3)")
    assert [s.type for s in specs] == ["int", "varchar", "decimal"]
    assert specs[1].length == 50
    assert specs[2].precision == 8 and specs[2].scale == 3
    with pytest.raises(SpecParseError, match=re.escape("No int value found in (...)")):
        parse_spec("varchar( 50 )")


def test_parse_errors_match_reference_text():
    with pytest.raises(SpecParseError, match=re.escape("Unterminated bracket!")):
        parse_spec("int(11")
    with pytest.raises(SpecParseError, match=re.escape("No int value found in (...)")):
        parse_spec("varchar(x)")
    with pytest.raises(SpecParseError, match="No type found while parsing"):
        parse_spec("int,,int")


# --- per-type laws ----------------------------------------------------------


def test_gen_default_schema_and_ranges(spark):
    df = gen(spark, "int,varchar(50),double,date,bigint")
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "int", "string", "double", "date", "bigint",
    ]
    row = df.agg(
        F.min("c0"), F.max("c0"),
        F.min(F.length("c1")), F.max(F.length("c1")),
        F.min("c2"), F.max("c2"),
        F.min(F.year("c3")), F.max(F.year("c3")), F.max(F.dayofmonth("c3")),
    ).first()
    assert -(2**31) <= row[0] <= row[1] <= 2**31 - 1
    assert row[2] == row[3] == 50
    assert -2147483647 <= row[4] <= row[5] <= 2147483647
    assert 1900 <= row[6] <= row[7] <= 2021 and row[8] <= 28


def test_gen_keys(spark):
    df = gen(spark, "key,rkey", rows=500, parts=8).orderBy("c0")
    rows = df.collect()
    keys = [r.c0 for r in rows]
    assert keys == list(range(500))  # dense, strictly increasing
    rkeys = [int(r.c1) for r in rows]
    assert len(set(rkeys)) == 500  # globally unique
    # exact bijection parity with the reference (counter = row index + 1)
    assert rkeys == [rkey_py(i + 1) for i in range(500)]
    assert rkeys[:3] == [9223372036854775808, 1, 9223372036854775809]


def test_gen_int_bounds(spark):
    df = gen(spark, "bit,tinyint,smallint,mediumint,int,bigint,year")
    row = df.agg(
        F.min("c0"), F.max("c0"), F.min("c1"), F.max("c1"),
        F.min("c2"), F.max("c2"), F.min("c3"), F.max("c3"),
        F.min("c6"), F.max("c6"), F.countDistinct("c5"),
    ).first()
    assert 0 <= row[0] <= row[1] <= 1
    assert -128 <= row[2] <= row[3] <= 127
    assert -32768 <= row[4] <= row[5] <= 32767
    assert -8388608 <= row[6] <= row[7] <= 8388607
    assert 1901 <= row[8] <= row[9] <= 2155
    assert row[10] > N * 0.999  # full-width int64: collisions ~impossible


def test_gen_strings(spark):
    df = gen(spark, "char(5),nchar(3),varchar(10),varchar2(10),nvarchar2(3),text,blob", rows=300)
    for col, pat in [
        ("c0", r"^[A-Z]{5}$"),
        ("c1", r"^[A-Z]{3}$"),
        ("c2", r"^[0-9A-Za-z]{10}$"),
        ("c3", r"^[0-9A-Za-z]{10}$"),
        ("c4", r"^[0-9A-Za-z]{3}$"),
        ("c5", r"^[0-9A-Za-z]{1,256}$"),
        ("c6", r"^[0-9A-Za-z]{1,256}$"),
    ]:
        bad = df.filter(~F.col(col).rlike(pat)).count()
        assert bad == 0, f"{col} failed {pat}"
    lens = df.agg(F.min(F.length("c5")), F.max(F.length("c5"))).first()
    assert lens[0] >= 1 and lens[1] <= 256 and lens[1] > 200  # spread over the range


def test_gen_temporal(spark):
    df = gen(spark, "date,datetime,timestamp,time", rows=300)
    types = [f.dataType.simpleString() for f in df.schema.fields]
    assert types == ["date", "timestamp_ntz", "timestamp", "string"]
    row = df.agg(
        F.min(F.year("c0")), F.max(F.year("c0")),
        F.min(F.year("c1")), F.max(F.year("c1")), F.max(F.dayofmonth("c1")),
        F.min("c2"), F.max(F.unix_timestamp("c2")),
    ).first()
    assert 1900 <= row[0] <= row[1] <= 2021
    assert 1900 <= row[2] <= row[3] <= 2021 and row[4] <= 28
    assert row[5].year >= 1970 and row[6] >= 1
    assert df.filter(~F.col("c3").rlike(r"^([01]\d|2[0-3]):[0-5]\d:[0-5]\d$")).count() == 0


def test_gen_decimal(spark):
    df = gen(spark, "decimal(10,2),number(10,2),decimal,number(20,4)", rows=300)
    types = [f.dataType.simpleString() for f in df.schema.fields]
    assert types == ["decimal(10,2)", "decimal(10,2)", "decimal(16,6)", "decimal(20,4)"]
    row = df.agg(F.min("c0"), F.max("c0"), F.min("c2"), F.max("c2")).first()
    assert 0 <= row[0] and row[1] < 10**8
    assert 0 <= row[2] and row[3] < 10**10  # intended (16,6) semantics, no UB
    # exactly `s` fraction digits survive the decimal cast
    assert df.filter(F.col("c0") != F.round("c0", 2)).count() == 0


def test_gen_unknown_type_empty_column(spark):
    df = gen(spark, "int,foo,int", rows=50)
    assert df.schema.fields[1].dataType.simpleString() == "string"
    assert df.filter(F.col("c1") != "").count() == 0


# --- rkey bijection forms ---------------------------------------------------


def test_rkey_forms_agree_bit_for_bit(spark):
    """The SQL rkey_long, the numpy _rkey and the step-wise model rkey_py
    are one bijection: edge counters plus 1,000 seeded random ones."""
    import random

    import numpy as np

    from sqload_spark.functions.randoms import rkey_long
    from sqload_spark.sources.generate_arrow import _rkey

    rng = random.Random(20)
    counters = [0, 1, 2**63 - 1, 2**63, 2**64 - 1] + [rng.getrandbits(64) for _ in range(1000)]
    signed = [c - 2**64 if c >= 2**63 else c for c in counters]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(signed)], "i int, c long")
    got = [r.k for r in df.select("i", F.expr(f"{rkey_long('c')} AS k")).orderBy("i").collect()]
    expected = [rkey_py(c) for c in counters]
    assert [k % 2**64 for k in got] == expected
    assert _rkey(np.array(counters, dtype=np.uint64)).tolist() == expected


def test_rkey_plan_stays_small(spark, capsys):
    """The printed key,rkey plan stays linear in the bijection's size: the
    step-by-step form nested its input three times per permute step and
    printed 36 KB."""
    gen(spark, "key,rkey", rows=10, parts=1).explain()
    assert len(capsys.readouterr().out) < 4096


# --- pinned values ----------------------------------------------------------


def test_expr_values_pinned(spark):
    """Exact expr-backend output for every non-string, non-clock type."""
    from tests.conftest import row_digest

    spec = "key,rkey,tinyint,smallint,int,bigint,double,decimal(12,2),date,datetime"
    for parts in (1, 4):
        df = generate_table(spark, 3000, spec, seed=11, num_partitions=parts, impl="expr")
        assert row_digest(df) == (3000, 443864712897504319614)


FIXED_NOW = 1_760_000_000
_STRINGS = "char(5),nchar(3),varchar(10),varchar2(10),nvarchar2(3),text,blob"


def fix_clock(monkeypatch, now: int) -> None:
    """Freeze the clock the planner reads for the timestamp upper bound."""
    from types import SimpleNamespace

    from sqload_spark.plans import planner

    monkeypatch.setattr(planner, "time", SimpleNamespace(time=lambda: now))


@pytest.mark.parametrize(
    "spec,blob_binary,pin",
    [
        ("bit", False, -4770279405517028933884),
        ("mediumint", False, 277400540913027037122),
        ("float", False, -705246684458617661479),
        ("year", False, -1584964096465204534217),
        ("time", False, -512093161129487098923),
        ("number(20,4)", False, 378487484168003035848),
        ("timestamp", False, -43359411353806696159),
        (_STRINGS, False, 111297670972981925943),
        (_STRINGS, True, 73540739544365879117),
    ],
    ids=["bit", "mediumint", "float", "year", "time", "number", "timestamp", "strings", "strings-binary"],
)
def test_expr_values_pinned_other_types(spark, monkeypatch, spec, blob_binary, pin):
    """Exact expr-backend output for the types test_expr_values_pinned
    skips: strings (blob as string and as binary) and, at a fixed clock,
    timestamp."""
    from tests.conftest import row_digest

    fix_clock(monkeypatch, FIXED_NOW)
    for parts in (1, 4):
        df = generate_table(
            spark, 3000, spec, seed=11, num_partitions=parts, impl="expr", blob_binary=blob_binary
        )
        assert row_digest(df) == (3000, pin)


def test_generated_source_ignores_clock(spark, monkeypatch):
    """The timestamp bound is a reference object of the generated class, not
    a literal in its source, so a table planned in a later second reuses the
    compiled class from the codegen cache."""

    def source(now: int) -> list[str]:
        fix_clock(monkeypatch, now)
        df = gen(spark, "key,bigint,timestamp", rows=100, parts=2)
        seq = df._jdf.queryExecution().debug().codegenToSeq()
        return [seq.apply(k)._2() for k in range(seq.size())]

    first = source(FIXED_NOW)
    assert first and first == source(FIXED_NOW + 17)


@pytest.mark.parametrize("impl", ["expr", "arrow"])
def test_zero_length_strings_are_empty(spark, impl):
    """char(0)/varchar(0) mean exactly zero characters on both backends."""
    df = generate_table(spark, 50, "varchar(0),char(0),int", seed=1, num_partitions=2, impl=impl)
    assert df.filter((F.col("c0") != "") | (F.col("c1") != "")).count() == 0
    assert df.count() == 50


# --- determinism law --------------------------------------------------------


def test_seed_determinism_across_parallelism(spark):
    outs = []
    for parts in (1, 4, 16):
        df = gen(spark, "int,varchar(8),double,date,decimal(10,2),text", rows=400, seed=42, parts=parts)
        outs.append(sorted(tuple(str(v) for v in r) for r in df.collect()))
    assert outs[0] == outs[1] == outs[2]


def test_different_seeds_differ(spark):
    a = gen(spark, "int", rows=100, seed=1).collect()
    b = gen(spark, "int", rows=100, seed=2).collect()
    assert [r.c0 for r in a] != [r.c0 for r in b]


def test_decimal_digit_limit_raises(spark):
    with pytest.raises(ValueError, match="decimal"):
        gen(spark, "decimal(38,2)", rows=10).collect()


# --- uniformity (chi-square-loose, SURVEY.md §5.2) --------------------------


def test_int_uniformity(spark):
    """16 equal-width buckets over int32; chi² with df=15 at p≈0.001 is
    37.7 — allow 60 for slack. Guards against a broken hash→range map."""
    df = gen(spark, "int", rows=20_000, seed=3)
    counts = (
        df.selectExpr("floor((cast(c0 as double) + 2147483648.0) / 268435456.0) as b")
        .groupBy("b")
        .count()
        .collect()
    )
    assert len(counts) == 16
    expected = 20_000 / 16
    chi2 = sum((r["count"] - expected) ** 2 / expected for r in counts)
    assert chi2 < 60, f"int distribution skewed: chi2={chi2:.1f}"


def test_varchar_charset_uniformity(spark):
    """First-character frequency across the 62-char set stays near uniform."""
    df = gen(spark, "varchar(10)", rows=20_000, seed=4)
    counts = df.selectExpr("substring(c0, 1, 1) AS ch").groupBy("ch").count().collect()
    assert len(counts) == 62
    expected = 20_000 / 62
    chi2 = sum((r["count"] - expected) ** 2 / expected for r in counts)
    # df=61, p≈0.001 ⇒ ~99.6; allow 130
    assert chi2 < 130, f"charset skewed: chi2={chi2:.1f}"


# --- round trip -------------------------------------------------------------


def test_csv_round_trip(spark, tmp_path):
    from sqload_spark.sources.sinks import write_reference_csv

    df = gen(spark, "key,int,varchar(10),date", rows=200, parts=4)
    out = str(tmp_path / "csv_out")
    write_reference_csv(df, out)
    back = (
        spark.read.schema("c0 bigint, c1 int, c2 string, c3 date")
        .option("header", "false")
        .csv(out)
    )
    assert back.count() == 200
    assert sorted(r.c0 for r in back.select("c0").collect()) == list(range(200))
    # unquoted output
    raw = spark.read.text(out)
    assert raw.filter(F.col("value").contains('"')).count() == 0


def _write_with_plans(spark, write) -> list[str]:
    """Run ``write()`` and return the physical plans of the SQL executions
    it started, read from the session's SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def recent(n: int = 8):
        bus.waitUntilEmpty()
        total = store.executionsCount()
        tail = store.executionsList(max(0, total - n), n)
        return [tail.apply(i) for i in range(tail.size())]

    before = max((e.executionId() for e in recent(1)), default=-1)
    write()
    return [e.physicalPlanDescription() for e in recent() if e.executionId() > before]


def _file_key_ranges(path: str, key: str) -> list[tuple[int, int]]:
    """(min, max) of ``key`` in each parquet part file, asserting each file
    is sorted on it."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        keys = pq.read_table(f, columns=[key]).column(key).to_numpy()
        assert np.all(keys[:-1] <= keys[1:]), f"{f} is not sorted on {key}"
        ranges.append((int(keys[0]), int(keys[-1])))
    return ranges


def _range_load(spark, tmp_path, range_key: str) -> list[str]:
    """Range-load a generated table on ``range_key`` and check the layout:
    one file per partition, each sorted on the key, with disjoint key
    ranges. Returns the physical plans of the write."""
    from sqload_spark.sources.sinks import write_partitioned_parquet

    df = gen(spark, "key,int,year", rows=300, parts=4)
    out = str(tmp_path / "pq_out")
    plans = _write_with_plans(
        spark, lambda: write_partitioned_parquet(df, out, range_key=range_key, num_partitions=4)
    )
    assert len(plans) == 1 and "InsertIntoHadoopFsRelationCommand" in plans[0], plans
    back = spark.read.parquet(out)
    assert back.count() == 300
    assert back.select(F.countDistinct("c0")).first()[0] == 300
    ranges = sorted(_file_key_ranges(out, range_key))
    assert len(ranges) == 4
    assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:])), ranges
    return plans


def test_partitioned_parquet_write(spark, tmp_path):
    """A generated table is already range-partitioned and sorted on its key
    c0, so the range sink writes it with no exchange and no sort."""
    (plan,) = _range_load(spark, tmp_path, "c0")
    assert "Exchange" not in plan and "Sort" not in plan, plan


def test_partitioned_parquet_write_shuffles_unordered_key(spark, tmp_path):
    """A key the input is not partitioned on still gets the range exchange."""
    (plan,) = _range_load(spark, tmp_path, "c1")
    assert "Arguments: rangepartitioning(c1#" in plan, plan


def test_blob_binary_mode(spark, tmp_path):
    """blob_binary=True maps blob to BinaryType (SURVEY §1.3 option): real
    bytes, length law 1-256, deterministic, parquet round-trip intact."""
    df = generate_table(spark, 300, "key,blob", seed=7, num_partitions=4, blob_binary=True)
    assert dict(df.dtypes)["c1"] == "binary"
    lens = df.select(F.length("c1").alias("n")).agg(
        F.min("n"), F.max("n"), F.count("*")
    ).first()
    assert 1 <= lens[0] and lens[1] <= 256 and lens[2] == 300
    out = str(tmp_path / "blob_pq")
    df.write.parquet(out)
    back = spark.read.parquet(out)
    assert dict(back.dtypes)["c1"] == "binary"
    a = {r.c0: bytes(r.c1) for r in df.collect()}
    b = {r.c0: bytes(r.c1) for r in back.collect()}
    assert a == b
    # determinism: same seed regenerates identical bytes at other parallelism
    df2 = generate_table(spark, 300, "key,blob", seed=7, num_partitions=2, blob_binary=True)
    c = {r.c0: bytes(r.c1) for r in df2.collect()}
    assert a == c
    # string mode (default) is unchanged
    assert dict(generate_table(spark, 10, "blob", seed=7).dtypes)["c0"] == "string"
