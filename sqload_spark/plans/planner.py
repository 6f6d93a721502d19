"""Planner: ColumnSpec list → Catalyst Column expressions over a row-id.

This replaces the reference's row-at-a-time string-dispatch loop
(/root/reference/generate_csv.cpp:163-245) with a declarative plan:
``spark.range(rows)`` supplies a dense, partition-parallel row id; each
column spec becomes ONE Column expression over that id. Catalyst fuses the
whole projection into a single whole-stage-codegen'd stage — no shuffle, no
Python in the row path, linear scale-out with partitions.

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


def _decimal_expr(id_col: Column, spec: ColumnSpec, seed: int, i: int) -> Column:
    p, s = spec.precision, spec.scale
    int_digits = p - s
    if int_digits > 18 or s > 18:
        raise ValueError(
            f"decimal({p},{s}) not supported: integer/fraction parts are limited "
            "to 18 digits each (the reference overflows int32 beyond 10 anyway)"
        )
    ipart = (
        uniform_long(id_col, 0, 10**int_digits - 1, seed, i, 0)
        if int_digits > 0
        else F.lit(0)
    )
    if s > 0:
        frac = uniform_long(id_col, 0, 10**s - 1, seed, i, 1)
        text = F.format_string(f"%d.%0{s}d", ipart, frac)
    else:
        text = F.format_string("%d", ipart)
    return text.cast(f"decimal({p},{s})")


def column_expr(
    spec: ColumnSpec,
    seed: int,
    i: int,
    now_epoch: int | None = None,
    blob_binary: bool = False,
) -> Column:
    """One generator Column for column `i` of the table, over `spark.range`'s id."""
    id_col = F.col("id")
    t = spec.type
    if t == "key":
        return id_col
    if t == "rkey":
        # gRKey is pre-incremented (generate_csv.cpp:202): row i uses counter i+1.
        return as_uint64_decimal(rkey_long(id_col + F.lit(1)))
    if t == "bit":
        return uniform_long(id_col, 0, 1, seed, i).cast("int")
    if t == "tinyint":
        return uniform_long(id_col, -128, 127, seed, i).cast("byte")
    if t == "smallint":
        return uniform_long(id_col, -32768, 32767, seed, i).cast("short")
    if t == "mediumint":
        return uniform_long(id_col, -8388608, 8388607, seed, i).cast("int")
    if t == "int":
        return uniform_long(id_col, -(2**31), 2**31 - 1, seed, i).cast("int")
    if t == "bigint":
        return hash64(id_col, seed, i)  # full-width uniform int64
    if t == "float":
        return ((uniform_unit(id_col, seed, i) * 2 - 1) * F.lit(1e38)).cast("float")
    if t == "double":
        return (uniform_unit(id_col, seed, i) * 2 - 1) * F.lit(2147483647.0)
    if t in ("char", "nchar"):
        return random_string(id_col, spec.length, UPPER26, seed, i)
    if t in ("varchar", "varchar2", "nvarchar2"):
        return random_string(id_col, spec.length, ALNUM62, seed, i)
    if t == "blob" and blob_binary:
        # BinaryType mode (SURVEY.md §1.3 option): 1-256 random bytes.
        # 32 full-width hashes hex-concatenated then unhex'd — 256 bytes of
        # uniform entropy, truncated to the drawn length. Parquet/multimodal
        # pipelines want real binary; the CSV sink keeps the string mode.
        length = uniform_long(id_col, 1, 256, seed, i, "len")
        hexstr = F.concat(
            *[F.lpad(F.hex(hash64(id_col, seed, i, "blob", h)), 16, "0") for h in range(32)]
        )
        return F.unhex(hexstr).substr(F.lit(1), length.cast("int"))
    if t in ("text", "blob"):
        length = uniform_long(id_col, 1, 256, seed, i, "len")
        return random_string(id_col, length, ALNUM62, seed, i)
    if t == "date":
        return F.make_date(
            uniform_long(id_col, 1900, 2021, seed, i, 0),
            uniform_long(id_col, 1, 12, seed, i, 1),
            uniform_long(id_col, 1, 28, seed, i, 2),
        )
    if t == "datetime":
        # MySQL DATETIME is zone-less → TimestampNTZ, built from the six
        # draws directly (day ≤ 28, so every draw is a valid wall time).
        return F.make_timestamp_ntz(
            uniform_long(id_col, 1900, 2021, seed, i, 0),
            uniform_long(id_col, 1, 12, seed, i, 1),
            uniform_long(id_col, 1, 28, seed, i, 2),
            uniform_long(id_col, 0, 23, seed, i, 3),
            uniform_long(id_col, 0, 59, seed, i, 4),
            uniform_long(id_col, 0, 59, seed, i, 5),
        )
    if t == "timestamp":
        # Uniform epoch seconds in [1, now] (generate_csv.cpp:124-132).
        # `now` is frozen at plan time so the plan stays deterministic.
        now = now_epoch if now_epoch is not None else int(time.time())
        return F.timestamp_seconds(uniform_long(id_col, 1, now, seed, i))
    if t == "time":
        return F.format_string(
            "%02d:%02d:%02d",
            uniform_long(id_col, 0, 23, seed, i, 0),
            uniform_long(id_col, 0, 59, seed, i, 1),
            uniform_long(id_col, 0, 59, seed, i, 2),
        )
    if t == "year":
        return uniform_long(id_col, 1901, 2155, seed, i).cast("int")
    if t in ("decimal", "number"):
        return _decimal_expr(id_col, spec, seed, i)
    # Unknown type → empty string column (reference emits nothing for the cell).
    return F.lit("")


def plan_columns(
    specs: list[ColumnSpec], seed: int = 0, blob_binary: bool = False
) -> list[Column]:
    """All generator columns, named c0..c{n-1} in spec order."""
    now_epoch = int(time.time())
    return [
        column_expr(spec, seed, i, now_epoch, blob_binary=blob_binary).alias(f"c{i}")
        for i, spec in enumerate(specs)
    ]
