"""The cross-engine md5 kernel (functions/hashing.py): the Spark SQL text,
the DuckDB text and the Python function give the same integers in every
form, on keys that stress encodings and the salt separator."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from sqload_spark.functions import hashing as h

HAZARDS = [
    "",
    "数据集去重",  # CJK
    "🙂🚀",  # 4-byte UTF-8 emoji
    "é ñ",  # combining marks
    "a|b|",  # the salt separator inside the key
    "0123456789abcdef" * 64,  # 1 KB repeat
]
BUCKETS = 7


def _forms(md5_int, salted, bucket, uniform) -> dict:
    """Each kernel form over the key ``k``, in one engine's vocabulary."""
    return {
        "plain": md5_int("k"),
        "digits12": md5_int("k", 12),
        "salted": md5_int(salted("s", "k")),
        "bucket": bucket(salted("s", "k"), BUCKETS),
        "uniform": uniform(salted("s", "k")),
    }


def _spark(spark, keys: list) -> pd.DataFrame:
    forms = _forms(h.spark_md5_int, h.spark_salted, h.spark_md5_bucket, h.spark_md5_uniform)
    df = spark.createDataFrame(list(enumerate(keys)), "id long, k string")
    column12 = F.transform(F.array("k"), lambda x: h.spark_md5_int_column(x, 12))[0]
    cols = [F.expr(sql).alias(name) for name, sql in forms.items()]
    return df.select("id", *cols, column12.alias("column12")).orderBy("id").toPandas()


def _duck(keys: list) -> pd.DataFrame:
    forms = _forms(h.duck_md5_int, h.duck_salted, h.duck_md5_bucket, h.duck_md5_uniform)
    con = duckdb.connect()
    con.register("keys", pd.DataFrame({"id": range(len(keys)), "k": keys}))
    cols = ", ".join(f"{sql} AS {name}" for name, sql in forms.items())
    return con.execute(f"SELECT id, {cols} FROM keys ORDER BY id").fetchdf()


def test_kernel_forms_agree_across_engines(spark):
    sp, du = _spark(spark, HAZARDS), _duck(HAZARDS)
    for i, key in enumerate(HAZARDS):
        salted = h.py_salted("s", key)
        want = {
            "plain": h.py_md5_int(key),
            "digits12": h.py_md5_int(key, 12),
            "salted": h.py_md5_int(salted),
            "bucket": h.py_md5_bucket(salted, BUCKETS),
            "uniform": h.py_md5_uniform(salted),
        }
        for name, value in want.items():
            assert sp[name][i] == value, (name, key)
            assert du[name][i] == value, (name, key)
        assert sp["column12"][i] == want["digits12"], key
        assert 0 <= want["uniform"] < 1 and 0 <= want["bucket"] < BUCKETS


def test_kernel_null_key_gives_null(spark):
    sp, du = _spark(spark, [None]), _duck([None])
    for name in ("plain", "digits12", "salted", "bucket", "uniform"):
        assert pd.isna(sp[name][0]), name
        assert pd.isna(du[name][0]), name
