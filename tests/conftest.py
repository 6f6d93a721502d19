"""Shared fixtures: one SparkSession per test session, a DuckDB connection
with the test tables registered as views, and the differential comparator
that mimics the driver's correctness gate (row count + schema + order-
insensitive value hash). The oracle tools (``tools/drive_entry.py``,
``tools/adversarial_run.py``, ``tools/dtype_audit.py``) import the view
setup and the comparison rule from here, so every gate compares alike."""

from __future__ import annotations

import math
import os
import sys
from datetime import date, datetime
from decimal import Decimal

import duckdb
import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sqload_spark.session import get_spark  # noqa: E402
from sqload_spark.sources.tables import TABLE_NAMES  # noqa: E402

SF_DIR = os.environ.get("SQLOAD_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMOKE_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("sqload_spark_tests")
    yield spark


def duck_views(sf_dir: str):
    """A DuckDB connection with every test table registered as a view over
    ``{sf_dir}/{name}.parquet``."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')")
    return con


@pytest.fixture(scope="session")
def duck():
    con = duck_views(SF_DIR)
    yield con
    con.close()


def canon_value(v) -> str:
    """Canonical string for a cell so Spark/DuckDB results hash identically.

    Type-tagged: int, float and Decimal canonicalize DIFFERENTLY on purpose.
    The driver's hash gate is type-sensitive (int64 vs float64 vs Decimal all
    hash apart even when numerically equal), and round 1 proved that collapsing
    them locally hides exactly the failures the driver then reports
    (VERDICT.md "What's wrong" #1-#5). Floats still go through %.12g to absorb
    sub-ulp noise; ints stay exact at any magnitude."""
    if v is None:
        return "NULL"
    if isinstance(v, bool) or isinstance(v, np.bool_):
        return f"b:{bool(v)}"
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "f:NaN"
        return f"f:{v:.12g}"
    if isinstance(v, Decimal):
        return f"dec:{v.normalize()}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def canon_rows(df) -> list[tuple[str, ...]]:
    """pandas DataFrame → column-name-sorted, row-sorted canonical rows."""
    cols = sorted(df.columns)
    rows = [tuple(canon_value(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows)


def oracle_mismatch(sp, du) -> str | None:
    """The one comparison rule of every oracle gate, over two pandas frames:
    row count, then lowercased column names, then canonical values. None
    when they match, else the first difference (up to three rows)."""
    if len(sp) != len(du):
        return f"row count {len(sp)} != oracle {len(du)}"
    if sorted(c.lower() for c in sp.columns) != sorted(c.lower() for c in du.columns):
        return f"columns {sorted(sp.columns)} != oracle {sorted(du.columns)}"
    diffs = [(a, b) for a, b in zip(canon_rows(sp), canon_rows(du)) if a != b]
    if diffs:
        return f"values differ; first diffs (spark, oracle): {diffs[:3]}"
    return None


def assert_matches_oracle(spark_df, duck, oracle: str, name: str = "query") -> None:
    why = oracle_mismatch(spark_df.toPandas(), duck.execute(oracle).fetchdf())
    assert why is None, f"{name}: {why}"


def row_digest(df) -> tuple[int, int]:
    """Order-insensitive ``(row count, sum of xxhash64 over every column)``
    of a Spark DataFrame: pins exact generated values in a few digits."""
    from pyspark.sql import functions as F

    r = (
        df.select(F.xxhash64(*df.columns).cast("decimal(38,0)").alias("h"))
        .agg(F.count("*"), F.sum("h"))
        .first()
    )
    return int(r[0]), int(r[1])
