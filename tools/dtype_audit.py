"""Dtype audit: for every registered (query, oracle) pair, compare the
Spark result schema against DuckDB's DESCRIBE of the oracle SQL, mapped
into a common type domain. Catches the class of driver hash failures where
values are numerically identical but one engine yields int64 and the other
float64/Decimal (DuckDB integer sums are HUGEINT; Spark SQL decimal
literals poison divisions into DecimalType).

Also flags array/map/struct output columns outright — the driver's pandas
canonicalizer crashes on unhashable cells (CORRECTNESS_r01:
text_rolling_fingerprint).

Run:  python tools/dtype_audit.py [sf_dir]
Exit code 1 if any mismatch. Also importable by pytest.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

# Common type domain: every concrete engine type maps to one of
#   int / float / decimal / str / bool / timestamp / date / binary / COMPLEX
_DUCK_MAP = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
    "HUGEINT": "int-hugeint",  # flagged: canonicalizes to float64 in pandas
    "UTINYINT": "int", "USMALLINT": "int", "UINTEGER": "int", "UBIGINT": "int",
    "FLOAT": "float", "DOUBLE": "float",
    "VARCHAR": "str", "BOOLEAN": "bool",
    "TIMESTAMP": "timestamp", "TIMESTAMP_NS": "timestamp", "DATE": "date",
    "BLOB": "binary",
}

_SPARK_MAP = {
    "byte": "int", "short": "int", "int": "int", "integer": "int",
    "long": "int", "bigint": "int",
    "float": "float", "double": "float",
    "string": "str", "boolean": "bool",
    "timestamp": "timestamp", "timestamp_ntz": "timestamp", "date": "date",
    "binary": "binary",
}


def duck_kind(t: str) -> str:
    t = t.upper()
    if t.startswith("DECIMAL"):
        return "decimal"
    if any(t.startswith(p) for p in ("STRUCT", "MAP", "UNION")) or t.endswith("[]"):
        return "COMPLEX"
    return _DUCK_MAP.get(t, f"?{t}")


def spark_kind(t: str) -> str:
    t = t.lower()
    if t.startswith("decimal"):
        return "decimal"
    if any(t.startswith(p) for p in ("array", "map", "struct")):
        return "COMPLEX"
    return _SPARK_MAP.get(t, f"?{t}")


def audit(sf_dir: str = SF_DIR) -> list[str]:
    from sqload_spark import registry
    from sqload_spark.session import get_spark
    from tests.conftest import duck_views

    spark = get_spark("dtype_audit")
    con = duck_views(sf_dir)

    queries = registry.all_queries()
    oracles = registry.all_oracles()
    problems: list[str] = []
    for name, fn in queries.items():
        try:
            df = fn(spark, sf_dir)
            spark_types = {f.name.lower(): spark_kind(f.dataType.simpleString()) for f in df.schema.fields}
        except Exception as e:  # noqa: BLE001
            problems.append(f"{name}: Spark side raised {type(e).__name__}: {e}")
            continue
        # Any complex output column crashes the driver canonicalizer.
        for col, kind in spark_types.items():
            if kind == "COMPLEX":
                problems.append(f"{name}: Spark output column {col!r} is complex-typed (driver crash)")
        sql = oracles.get(name)
        if sql is None:
            continue
        try:
            desc = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as e:  # noqa: BLE001
            problems.append(f"{name}: DuckDB DESCRIBE failed: {e}")
            continue
        duck_types = {r[0].lower(): duck_kind(r[1]) for r in desc}
        if set(duck_types) != set(spark_types):
            problems.append(
                f"{name}: column sets differ: spark={sorted(spark_types)} duck={sorted(duck_types)}"
            )
            continue
        for col, dk in duck_types.items():
            sk = spark_types[col]
            if dk == "int-hugeint":
                problems.append(
                    f"{name}.{col}: DuckDB HUGEINT (canonicalizes float64) vs Spark {sk} — CAST oracle to BIGINT"
                )
            elif dk != sk:
                problems.append(f"{name}.{col}: DuckDB {dk} vs Spark {sk}")
    return problems


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else SF_DIR
    probs = audit(sf)
    for p in probs:
        print(p)
    print(f"{len(probs)} problems")
    sys.exit(1 if probs else 0)
