"""Correctness checks for benchmark outputs, run outside the timed spans.

Two kinds of check:

* a registered DuckDB oracle, compared with the canonicalization the test
  suite uses (``tests/conftest.py``);
* an order-insensitive digest of a DataFrame (row count plus the sum of a
  per-row hash), used to compare a read-back against what was committed.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.conftest import canon_rows


@dataclass
class Tally:
    """Operations attempted and failed (raised, or returned wrong output)."""

    attempted: int = 0
    failed: int = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def oracle_mismatch(result, duck, sql: str) -> str | None:
    """Compare a pandas result with the DuckDB oracle; None when they match."""
    expected = duck.execute(sql).fetchdf()
    if len(result) != len(expected):
        return f"row count {len(result)} != oracle {len(expected)}"
    if sorted(c.lower() for c in result.columns) != sorted(c.lower() for c in expected.columns):
        return f"columns {sorted(result.columns)} != oracle {sorted(expected.columns)}"
    if canon_rows(result) != canon_rows(expected):
        return "values differ from oracle"
    return None


def _canonical(c: Column, dtype: T.DataType) -> Column:
    # Float sums may differ in the last bits between runs of one plan (the
    # merge order of partial aggregates follows task completion), so floats
    # enter the hash at 12 significant digits, as in the oracle comparison.
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.format_string("%.12g", c)
    if isinstance(dtype, T.ArrayType) and isinstance(dtype.elementType, (T.DoubleType, T.FloatType)):
        return F.transform(c, lambda x: F.format_string("%.12g", x))
    if isinstance(dtype, T.MapType):
        return F.to_json(c)
    return c


def digests(frames: dict[str, DataFrame]) -> dict[str, tuple[int, int]]:
    """Order-insensitive ``(row count, sum of row hashes)`` of each
    DataFrame, computed in one job over their union."""
    hashed = [
        df.select(
            F.lit(name).alias("name"),
            F.xxhash64(*[_canonical(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]).alias("h"),
        )
        for name, df in frames.items()
    ]
    rows = (
        reduce(DataFrame.unionByName, hashed)
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("rows"), F.sum(F.col("h").cast("decimal(38,0)")).alias("digest"))
        .collect()
    )
    found = {r["name"]: (int(r["rows"]), int(r["digest"])) for r in rows}
    return {name: found.get(name, (0, 0)) for name in frames}


def digest(df: DataFrame) -> tuple[int, int]:
    return digests({"": df})[""]
