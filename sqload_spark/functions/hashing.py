"""The one cross-engine hash format: md5 of a key, read as its first
``digits`` hex digits (8 unless stated) as an unsigned integer. Every
pipeline decision that must agree bit for bit between Spark and its DuckDB
oracle (samples, shard and stream buckets, sketch cells, stub logits, span
and frame checksums) is this integer of some key, so the kernel lives here
once per engine:

* Spark SQL text — callers wrap it in ``F.expr`` or a ``spark.sql``
  statement;
* DuckDB text — for the oracles;
* Python — for the pandas bodies.

Each engine has the same four forms: the integer, the salted key
``'<salt>|' || key``, the ``mod n`` bucket and the ``[0, 1)`` uniform.
SQL keys are expressions (text), and a NULL key gives NULL in both SQL
engines. 8 digits give 32 bits; up to 15 fit a signed BIGINT in both.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

# 16 ** 8: the 8-digit integer's range, the uniform form's divisor
TWO_32 = 4294967296


# --- Spark SQL text --------------------------------------------------------


def spark_hex_int(hex_sql: str, digits: int = 8) -> str:
    """The first ``digits`` hex digits of the hex string ``hex_sql`` as a
    BIGINT (the tail of ``spark_md5_int``, for a column that already holds
    an md5)."""
    return f"CAST(conv(substring({hex_sql}, 1, {digits}), 16, 10) AS BIGINT)"


def spark_md5_int(key: str, digits: int = 8) -> str:
    return spark_hex_int(f"md5({key})", digits)


def spark_md5_int_column(key: Column, digits: int = 8) -> Column:
    """``spark_md5_int`` over a Column that SQL text cannot name: the
    variable of a Column-API lambda, which PySpark binds before any
    ``F.expr`` in the lambda body could resolve it."""
    return F.conv(F.substring(F.md5(key), 1, digits), 16, 10).cast("bigint")


def spark_salted(salt: str, key: str) -> str:
    return f"concat('{salt}|', CAST({key} AS STRING))"


def spark_md5_bucket(key: str, n: int) -> str:
    return f"pmod({spark_md5_int(key)}, {n})"


def spark_md5_uniform(key: str) -> str:
    return f"(CAST({spark_md5_int(key)} AS DOUBLE) / {TWO_32}D)"


# --- DuckDB text -----------------------------------------------------------


def duck_hex_int(hex_sql: str, digits: int = 8) -> str:
    """DuckDB twin of ``spark_hex_int``."""
    return f"('0x' || substr({hex_sql}, 1, {digits}))::BIGINT"


def duck_md5_int(key: str, digits: int = 8) -> str:
    return duck_hex_int(f"md5({key})", digits)


def duck_salted(salt: str, key: str) -> str:
    return f"'{salt}|' || CAST({key} AS VARCHAR)"


def duck_md5_bucket(key: str, n: int) -> str:
    return f"({duck_md5_int(key)} % {n})"


def duck_md5_uniform(key: str) -> str:
    return f"({duck_md5_int(key)} / {TWO_32}.0)"


# --- Python ----------------------------------------------------------------


def py_md5_int(key: str, digits: int = 8) -> int:
    """md5 of the key's UTF-8 bytes, as both SQL engines hash a string."""
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:digits], 16)


def py_salted(salt: str, key: object) -> str:
    return f"{salt}|{key}"


def py_md5_bucket(key: str, n: int) -> int:
    return py_md5_int(key) % n


def py_md5_uniform(key: str) -> float:
    return py_md5_int(key) / float(TWO_32)
