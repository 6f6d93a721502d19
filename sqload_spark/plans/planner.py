"""Planner: ColumnSpec list → Catalyst Column expressions over a row-id.

This replaces the reference's row-at-a-time string-dispatch loop
(/root/reference/generate_csv.cpp:163-245) with a declarative plan:
``spark.range(rows)`` supplies a dense, partition-parallel row id; each
column spec becomes ONE Column expression over that id. Catalyst fuses the
whole projection into a single whole-stage-codegen'd stage — no shuffle, no
Python in the row path, linear scale-out with partitions.

Each column is written as SQL text and parsed by one ``F.expr`` call: built
from ``pyspark.sql.Column`` calls, the wide bulk-load spec made about 1,500
py4j round trips per plan, each with PySpark 4's call-site capture. The
text parses to the same optimized plan, so the values are unchanged.

The timestamp bound ``now`` is a ``decimal(20,0)`` literal. Spark writes a
long literal into the generated Java (``% 1760000000L``), so a plan built
in a new second would get new source, miss the codegen cache and compile
again; a decimal literal is a reference object of the generated class, so
the source stays the same. A decimal ``pmod`` gives the same integers.

Type semantics per column (ranges cited to the reference, SURVEY.md §1.3):

* ``key``     — strictly increasing 0..n-1 (the range id itself).
* ``rkey``    — globally unique uint64 via the rotr1+segregate4 bijection,
                carried as DecimalType(20,0) for unsigned display.
* integer types — uniform in the exact reference ranges (tinyint ±127 …
                bigint full int64).
* ``double``  — uniform ±2147483647, NOT full double range: the reference's
                call site narrows it (generate_csv.cpp:217-218) and we mirror
                actual behavior, not the dead demo code.
* ``decimal(p,s)``/``number`` — uniform integer part in [0, 10^(p-s)) and
                fraction in [0, 10^s), built exactly from two integer draws
                (no float rounding). We implement the INTENDED semantics for
                all p,s and do not reproduce the reference's int32 overflow
                UB when p-s ≥ 10 (generate_csv.cpp:142) — divergence
                documented in SURVEY.md §1.3.
* unknown types — empty-string column, not an error (generate_csv.cpp:239-241).
"""

from __future__ import annotations

import time

from pyspark.sql import Column
from pyspark.sql import functions as F

from sqload_spark.functions.randoms import (
    ALNUM62,
    as_uint64_decimal,
    hash64,
    random_string,
    rkey_long,
    uniform_long,
    uniform_unit,
)
from sqload_spark.plans.spec_parser import ColumnSpec

UPPER26 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
ID = "id"  # spark.range's row id
# Integer types drawn uniformly in [lo, hi]: type → (lo, hi, SQL type).
_INT_RANGES = {
    "bit": (0, 1, "INT"),
    "tinyint": (-128, 127, "TINYINT"),
    "smallint": (-32768, 32767, "SMALLINT"),
    "mediumint": (-8388608, 8388607, "INT"),
    "int": (-(2**31), 2**31 - 1, "INT"),
    "year": (1901, 2155, "INT"),
}
_YMD = ((1900, 2021), (1, 12), (1, 28))
_HMS = ((0, 23), (0, 59), (0, 59))


def _draws(bounds, seed: int, i: int) -> str:
    """Comma-separated uniform draws over the id, draw j in ``bounds[j]``."""
    return ", ".join(uniform_long(ID, lo, hi, seed, i, j) for j, (lo, hi) in enumerate(bounds))


def _decimal_sql(spec: ColumnSpec, seed: int, i: int) -> str:
    p, s = spec.precision, spec.scale
    int_digits = p - s
    if int_digits > 18 or s > 18:
        raise ValueError(
            f"decimal({p},{s}) not supported: integer/fraction parts are limited "
            "to 18 digits each (the reference overflows int32 beyond 10 anyway)"
        )
    ipart = uniform_long(ID, 0, 10**int_digits - 1, seed, i, 0) if int_digits > 0 else "0"
    if s > 0:
        frac = uniform_long(ID, 0, 10**s - 1, seed, i, 1)
        text = f"format_string('%d.%0{s}d', {ipart}, {frac})"
    else:
        text = f"format_string('%d', {ipart})"
    return f"CAST({text} AS DECIMAL({p},{s}))"


def column_sql(spec: ColumnSpec, seed: int, i: int, now_epoch: int, blob_binary: bool) -> str:
    """SQL text of the generator column `i` of the table, over `spark.range`'s id."""
    t = spec.type
    if t == "key":
        return ID
    if t == "rkey":
        # gRKey is pre-incremented (generate_csv.cpp:202): row i uses counter i+1.
        return as_uint64_decimal(rkey_long(f"({ID} + 1)"))
    if t in _INT_RANGES:
        lo, hi, sql_type = _INT_RANGES[t]
        return f"CAST({uniform_long(ID, lo, hi, seed, i)} AS {sql_type})"
    if t == "bigint":
        return hash64(ID, seed, i)  # full-width uniform int64
    if t == "float":
        return f"CAST(({uniform_unit(ID, seed, i)} * 2 - 1) * 1e+38D AS FLOAT)"
    if t == "double":
        return f"(({uniform_unit(ID, seed, i)} * 2 - 1) * 2147483647.0D)"
    if t in ("char", "nchar"):
        return random_string(ID, spec.length, UPPER26, seed, i)
    if t in ("varchar", "varchar2", "nvarchar2"):
        return random_string(ID, spec.length, ALNUM62, seed, i)
    if t == "blob" and blob_binary:
        # BinaryType mode (SURVEY.md §1.3 option): 1-256 random bytes.
        # 32 full-width hashes hex-concatenated then unhex'd — 256 bytes of
        # uniform entropy, truncated to the drawn length. Parquet/multimodal
        # pipelines want real binary; the CSV sink keeps the string mode.
        length = uniform_long(ID, 1, 256, seed, i, "len")
        hexstr = ", ".join(f"lpad(hex({hash64(ID, seed, i, 'blob', h)}), 16, '0')" for h in range(32))
        return f"substr(unhex(concat({hexstr})), 1, CAST({length} AS INT))"
    if t in ("text", "blob"):
        length = uniform_long(ID, 1, 256, seed, i, "len")
        return random_string(ID, length, ALNUM62, seed, i)
    if t == "date":
        return f"make_date({_draws(_YMD, seed, i)})"
    if t == "datetime":
        # MySQL DATETIME is zone-less → TimestampNTZ, built from the six
        # draws directly (day ≤ 28, so every draw is a valid wall time).
        return f"make_timestamp_ntz({_draws(_YMD + _HMS, seed, i)})"
    if t == "timestamp":
        # Uniform epoch seconds in [1, now] (generate_csv.cpp:124-132); `now`
        # is a decimal literal so the generated source does not carry it.
        return f"timestamp_seconds(pmod({hash64(ID, seed, i)}, CAST({now_epoch} AS DECIMAL(20,0))) + 1)"
    if t == "time":
        return f"format_string('%02d:%02d:%02d', {_draws(_HMS, seed, i)})"
    if t in ("decimal", "number"):
        return _decimal_sql(spec, seed, i)
    # Unknown type → empty string column (reference emits nothing for the cell).
    return "''"


def plan_columns(
    specs: list[ColumnSpec], seed: int = 0, blob_binary: bool = False
) -> list[Column]:
    """All generator columns, named c0..c{n-1} in spec order; `now` is read
    once, so every timestamp column of one table shares its bound."""
    now_epoch = int(time.time())
    return [
        F.expr(f"{column_sql(spec, seed, i, now_epoch, blob_binary)} AS c{i}")
        for i, spec in enumerate(specs)
    ]
