"""RAG corpus build — the round-4 composition query.

``pipe_rag_corpus`` chains the retrieval-side ingest pipeline end to end
the way ``pipe_training_mix`` chains the curation side: exact-dedup
survivor selection → sliding-window chunking (the same 128/64 windows as
``q_chunk_documents``) → a deterministic md5 stub embedding per chunk
(honest stand-in for the encoder; the plumbing and the manifest are what
is under test) → a per-language corpus manifest.

Float discipline: chunk "norms" come from md5-derived uniforms (identical
in both engines), are rounded to 6dp per chunk, then averaged via exact
int64 fixed-point — so the mean is independent of aggregation order. The
corpus receipt is a SUM of each chunk fingerprint's first-8-hex value:
commutative, so no sorted string_agg single-reducer is needed — the
scale-clean way to checksum a corpus (compare pipe_output_manifest, whose
one-row receipt documents the sorted-concat trade).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sqload_spark.functions import hashing
from sqload_spark.functions.rounding import round_half_up, sql_round_half_up
from sqload_spark.functions.text_funcs import tokens
from sqload_spark.operators.dedup import DUCK_CANONICAL_FP, canonical_fp
from sqload_spark.operators.sampling import chunk_rows, duck_chunks
from sqload_spark.registry import query
from sqload_spark.sources.tables import load_table

EMB_DIMS = 4
_R6 = 1_000_000.0

_NORM_SQL = (
    "sqrt("
    + " + ".join(
        "power({} - 0.5, 2)".format(hashing.duck_md5_uniform(f"chunk_fp || '|{d}'"))
        for d in range(EMB_DIMS)
    )
    + ")"
)


@query(
    "pipe_rag_corpus",
    oracle=f"""
    WITH canon AS (
      SELECT doc_id, lang, text,
             {DUCK_CANONICAL_FP} AS fp,
             min(doc_id) OVER (PARTITION BY {DUCK_CANONICAL_FP}) AS keep_id
      FROM documents
    ),
    survivors AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t
      FROM canon WHERE doc_id = keep_id
    ),
    chunks AS (
      {duck_chunks("survivors", "doc_id, lang")}
    ),
    embedded AS (
      SELECT lang, doc_id, chunk_len, chunk_fp,
             CAST(floor(({_NORM_SQL}) * {_R6} + 0.5) AS BIGINT) AS norm_fx,
             {hashing.duck_hex_int("chunk_fp")} AS fp_u32
      FROM chunks
    )
    SELECT lang,
           count(DISTINCT doc_id) AS n_docs_kept,
           count(*) AS n_chunks,
           CAST(sum(chunk_len) AS BIGINT) AS sum_chunk_tokens,
           {sql_round_half_up(f"(CAST(sum(norm_fx) AS DOUBLE) / {_R6}) / count(*)", 6)} AS mean_chunk_norm,
           CAST(sum(fp_u32) AS BIGINT) AS fp_receipt
    FROM embedded
    GROUP BY lang
    ORDER BY lang
    """,
)
def rag_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivors → chunk → stub-embed → per-language manifest; see
    the module docstring for the composition and float rules."""
    docs = load_table(spark, sf_dir, "documents")
    keep = F.min("doc_id").over(W.partitionBy("fp"))
    survivors = (
        docs.select("doc_id", "lang", "text", canonical_fp().alias("fp"))
        .withColumn("keep_id", keep)
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "lang", tokens(F.col("text")).alias("t"))
    )
    chunks = chunk_rows(survivors, "doc_id", "lang")
    dim_u = [
        F.expr(hashing.spark_md5_uniform(f"concat(chunk_fp, '|{d}')")) - 0.5 for d in range(EMB_DIMS)
    ]
    norm = F.sqrt(sum(u * u for u in dim_u))
    embedded = chunks.select(
        "lang",
        "doc_id",
        "chunk_len",
        F.floor(norm * _R6 + 0.5).cast("bigint").alias("norm_fx"),
        F.expr(hashing.spark_hex_int("chunk_fp")).alias("fp_u32"),
    )
    return (
        embedded.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs_kept"),
            F.count("*").alias("n_chunks"),
            F.sum("chunk_len").cast("bigint").alias("sum_chunk_tokens"),
            round_half_up(
                (F.sum("norm_fx").cast("double") / F.lit(_R6)) / F.count("*"), 6
            ).alias("mean_chunk_norm"),
            F.sum("fp_u32").cast("bigint").alias("fp_receipt"),
        )
        .orderBy("lang")
    )
