"""The UDF surface, demonstrated against expression-equivalent oracles.

Two operators intentionally recompute existing oracle-checked queries
through the Python-side APIs — a vectorized ``pandas_udf`` and a grouped
``applyInPandas`` — and register the SAME oracle. That proves the Arrow
exchange is lossless and the pandas implementations are semantically
identical to the JVM-expression versions, which is exactly the guarantee
you need before putting a Python stage in a 100 TB pipeline. (In the real
engine the expression versions are the hot path; these exist for the
operators built-ins can't express.)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqload_spark.functions.text_funcs import STOPWORDS
from sqload_spark.operators.text import QUALITY_ORACLE, TOP_TERMS_ORACLE
from sqload_spark.registry import query
from sqload_spark.sources.tables import load_table


# The quality feature row: one field per QUALITY_ORACLE output column.
_QUALITY_TYPE = T.StructType(
    [T.StructField("n_tokens", T.LongType())]
    + [
        T.StructField(c, T.DoubleType())
        for c in ("type_token_ratio", "stopword_ratio", "avg_token_len", "quality")
    ]
)


def _quality_row():
    """The quality feature row of one text, as a closure over the stopword
    set: a closure is pickled by value and names no package global, so the
    Python workers that run it import nothing from ``sqload_spark``."""
    import math

    stop = set(STOPWORDS)

    def r4(x: float) -> float:
        return math.floor(x * 10000.0 + 0.5) / 10000.0

    def row(t: str | None) -> tuple:
        if t is None:
            # NULL text: the expression twin and the SQL oracle both
            # null-propagate (string_split(NULL) → NULL features), so the
            # Python path must emit the same all-NULL row, not crash the
            # stage (tools/adversarial_run.py).
            return (None, None, None, None, None)
        toks = t.split(" ")
        n = len(toks)
        ttr = len(set(toks)) / n
        stop_ratio = sum(1 for w in toks if w in stop) / n
        avg_len = sum(len(w) for w in toks) / n
        quality = 0.4 * ttr + 0.3 * (1 - stop_ratio) + 0.3 * min(n / 50.0, 1.0)
        return (n, r4(ttr), r4(stop_ratio), r4(avg_len), r4(quality))

    return row


_QUALITY_ROW = _quality_row()


@F.pandas_udf(_QUALITY_TYPE)
def _quality_features(text: pd.Series) -> pd.DataFrame:
    """Vectorized quality features (one Arrow batch per call)."""
    return pd.DataFrame([_QUALITY_ROW(t) for t in text], columns=_QUALITY_TYPE.names)


@query("text_quality_pandas_udf", oracle=QUALITY_ORACLE)
def quality_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_quality_score recomputed through a vectorized pandas_udf —
    must hash-match the same oracle as the expression version."""
    # Sort first, then apply the UDF: a projection keeps the order. Sorting
    # the UDF's output puts the Python eval below the range exchange, whose
    # sampling job runs the whole child plan, so every row would go through
    # Python twice (python.rows 2,000 for 1,000 documents, traced).
    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id")
    return docs.select("doc_id", _quality_features(F.col("text")).alias("f")).select("doc_id", "f.*")


def _top_terms_group(pdf: pd.DataFrame) -> pd.DataFrame:
    lang = pdf["lang"].iloc[0]
    counts: dict[str, int] = {}
    for t in pdf["text"]:
        if t is None:
            # NULL text contributes no terms — unnest(string_split(NULL))
            # yields zero rows in the oracle.
            continue
        for w in t.split(" "):
            counts[w] = counts.get(w, 0) + 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    return pd.DataFrame(
        {
            "lang": [lang] * len(ranked),
            "term": [w for w, _ in ranked],
            "n": [c for _, c in ranked],
            "rnk": list(range(1, len(ranked) + 1)),
        }
    )


@query("text_top_terms_applyinpandas", oracle=TOP_TERMS_ORACLE)
def top_terms_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 terms via grouped-map applyInPandas (each language
    group lands in one pandas frame) — same oracle as the explode/window
    expression version."""
    docs = load_table(spark, sf_dir, "documents")
    out = docs.select("lang", "text").groupBy("lang").applyInPandas(
        _top_terms_group, schema="lang string, term string, n long, rnk int"
    )
    return out.orderBy("lang", "rnk")


@query("text_quality_arrow_udf", oracle=QUALITY_ORACLE)
def quality_arrow_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THIRD Python UDF flavor: an Arrow-optimized scalar UDF
    (``useArrow=True`` — row-signature Python with Arrow transport,
    Spark 4's upgrade over pickled row UDFs). Same oracle as the
    expression and pandas_udf versions, so all three execution paths are
    proven interchangeable. Scalar UDFs remain the slowest tier (one
    Python call per row vs per batch) — registered to complete the
    taxonomy, not as a hot path."""
    features = F.udf(_QUALITY_ROW, returnType=_QUALITY_TYPE, useArrow=True)

    # sorted before the UDF, as in quality_pandas_udf: one Python call per row
    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id")
    return docs.select("doc_id", features(F.col("text")).alias("f")).select("doc_id", "f.*")
