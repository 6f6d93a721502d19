"""Multimodal columns: opaque ``binary`` payloads + typed metadata, with
decode/feature-extraction as Arrow-batched pandas over ``mapInPandas``.

The corpus has no real image/audio bytes, so the payload is synthesized
(utf-8 bytes of the text — deterministic), and the DECODE step is a
clearly-marked stub: real decoders (PIL/librosa/ffmpeg) are not in this
container, so ``_decode_stub`` derives deterministic fake features from the
bytes. Everything Spark-side — schema, binary column handling, Arrow batch
shapes, partitioning — is real and is what matters at 100 TB:

* payloads stay in executors (never collected);
* ``mapInPandas`` streams record batches, so peak memory is one Arrow batch
  per core, not one partition;
* feature extraction is embarrassingly parallel — no shuffle at all.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqload_spark.functions.hashing import duck_md5_int, py_md5_int
from sqload_spark.registry import query
from sqload_spark.sources.tables import load_table

CHUNK_BYTES = 256


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach the synthetic binary payload + typed metadata struct."""
    fmt = (
        F.when(F.col("doc_id") % 3 == 0, "png")
        .when(F.col("doc_id") % 3 == 1, "jpeg")
        .otherwise("webp")
    )
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            fmt.alias("format"),
            F.col("lang").alias("lang"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


@query(
    "mm_payload_stats",
    oracle=f"""
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           CAST(ceil(octet_length(encode(text))::DOUBLE / {CHUNK_BYTES}) AS BIGINT) AS n_chunks,
           CASE WHEN doc_id % 3 = 0 THEN 'png'
                WHEN doc_id % 3 = 1 THEN 'jpeg'
                ELSE 'webp' END AS format
    FROM documents
    ORDER BY doc_id
    """,
)
def payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JVM-side half of the multimodal path: binary length / chunking /
    metadata — pure expressions, oracle-checked."""
    docs = load_table(spark, sf_dir, "documents")
    df = with_payload(docs)
    byte_len = F.length(F.col("payload")).cast("bigint")
    return df.select(
        "doc_id",
        byte_len.alias("byte_len"),
        F.ceil(byte_len.cast("double") / CHUNK_BYTES).cast("bigint").alias("n_chunks"),
        F.col("meta.format").alias("format"),
    ).orderBy("doc_id")


def _decode_stub(payload: bytes, fmt: str) -> dict:
    """STUB — stands in for a real image decoder (PIL/libjpeg are not
    available in this container). Derives deterministic fake features from
    the bytes so the full pipeline is exercised end-to-end. Swap the body
    for e.g. ``PIL.Image.open(io.BytesIO(payload))`` in production."""
    import numpy as np

    h = 0
    for b in payload[:64]:
        h = (h * 131 + b) & 0xFFFFFFFF
    arr = np.frombuffer(payload, dtype=np.uint8)
    return {
        "width": 64 + (h % 512),
        "height": 64 + ((h >> 9) % 512),
        "mean_byte": float(arr.mean()) if arr.size else 0.0,
        "n_frames": 1 if fmt != "webp" else 1 + (h % 4),
    }


_NULL_FEATURES = {"width": None, "height": None, "mean_byte": None, "n_frames": None}


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One pandas frame per Arrow batch; per-payload work is numpy-
    vectorized inside the stub (a real decoder would be the hot loop)."""
    for pdf in batches:
        # NULL payload (encode(NULL) upstream): an all-NULL feature row for
        # the doc, as _sample_frames does, instead of crashing the batch.
        feats = [
            _NULL_FEATURES if payload is None else _decode_stub(payload, fmt)
            for payload, fmt in zip(pdf["payload"], pdf["format"])
        ]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": [f["width"] for f in feats],
                "height": [f["height"] for f in feats],
                "mean_byte": [f["mean_byte"] for f in feats],
                "n_frames": [f["n_frames"] for f in feats],
            }
        )


FEATURE_SCHEMA = "doc_id bigint, width bigint, height bigint, mean_byte double, n_frames bigint"


@query("mm_decode_features")
def decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode / feature-extract via mapInPandas (Arrow-batched). The decode
    itself is the deterministic stub above; the Spark plumbing (binary
    column → Arrow → pandas → schema'd output) is the real thing."""
    docs = load_table(spark, sf_dir, "documents")
    df = with_payload(docs).select("doc_id", "payload", F.col("meta.format").alias("format"))
    return df.mapInPandas(_extract_features, schema=FEATURE_SCHEMA).orderBy("doc_id")


# --- frame sampling --------------------------------------------------------
# The payload is treated as a stream of fixed-size frames (FRAME_CHARS
# units each — char-addressed rather than byte-addressed because the oracle
# needs DuckDB `substring`, which is VARCHAR-only; on this ASCII corpus the
# two are identical). Every SAMPLE_EVERY-th frame is kept and fingerprinted
# — the keyframe-extraction shape of a video pipeline: mapInPandas streams
# Arrow batches, payloads never leave the executors, output is a few scalar
# columns per doc, and the md5-per-sampled-frame checksum makes the whole
# Python decode path hash-checkable against SQL.
FRAME_CHARS = 32
SAMPLE_EVERY = 4

_FRAME_ORACLE = f"""
    WITH frames AS (
      SELECT doc_id,
             CAST(ceil(len(text)::DOUBLE / {FRAME_CHARS}) AS BIGINT) AS n_frames,
             [{duck_md5_int(f"substring(text, (f - 1) * {FRAME_CHARS} + 1, {FRAME_CHARS})")}
              for f in range(1, CAST(ceil(len(text)::DOUBLE / {FRAME_CHARS}) AS BIGINT) + 1)
              if (f - 1) % {SAMPLE_EVERY} = 0] AS cks
      FROM documents)
    SELECT doc_id, n_frames,
           CAST(len(cks) AS BIGINT) AS n_sampled,
           CAST(list_sum(cks) AS BIGINT) AS sample_checksum
    FROM frames ORDER BY doc_id
"""


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            if payload is None:
                # NULL payload (encode(NULL) upstream): the oracle
                # null-propagates every derived column — emit the same
                # all-NULL row instead of crashing the Arrow batch.
                rows.append((doc_id, None, None, None))
                continue
            s = bytes(payload).decode("utf-8")
            n_frames = -(-len(s) // FRAME_CHARS)
            sampled = [
                s[k * FRAME_CHARS : (k + 1) * FRAME_CHARS]
                for k in range(0, n_frames, SAMPLE_EVERY)
            ]
            ck = sum(py_md5_int(f) for f in sampled)
            # empty payload: zero frames sampled; the oracle's
            # list_sum([]) is NULL, so mirror NULL (not 0) for parity
            rows.append((doc_id, n_frames, len(sampled), ck if sampled else None))
        yield pd.DataFrame(
            rows, columns=["doc_id", "n_frames", "n_sampled", "sample_checksum"]
        )


FRAME_SCHEMA = "doc_id bigint, n_frames bigint, n_sampled bigint, sample_checksum bigint"


@query("mm_frame_sample", oracle=_FRAME_ORACLE)
def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe sampling over the synthetic payload stream via mapInPandas:
    every 4th 32-char frame is kept and md5-fingerprinted; the summed
    fingerprint is the oracle-checked evidence that the Arrow-batched
    Python path touched exactly the right bytes. Embarrassingly parallel,
    zero shuffles before the presentation sort."""
    docs = load_table(spark, sf_dir, "documents")
    df = with_payload(docs).select("doc_id", "payload")
    return df.mapInPandas(_sample_frames, schema=FRAME_SCHEMA).orderBy("doc_id")


@query(
    "mm_dedup_payload",
    oracle=f"""
    WITH p AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'png'
                  WHEN doc_id % 3 = 1 THEN 'jpeg'
                  ELSE 'webp' END AS format,
             md5(text) AS h  -- duckdb md5 hashes the utf-8 bytes = the payload
      FROM documents
    ), g AS (
      SELECT format, h, count(*) AS n FROM p GROUP BY format, h
    )
    SELECT format,
           CAST(sum(n) AS BIGINT) AS n_payloads,
           count(*) AS n_distinct,
           CAST(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT) AS n_removable
    FROM g
    GROUP BY format
    ORDER BY format
    """,
)
def dedup_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact BINARY dedup over the multimodal payloads: content-hash the
    bytes (md5 on the binary column, computed JVM-side — payloads never
    reach Python or the driver), then report per-format how many payloads
    a content-addressed store would actually keep. This is the first gate
    of any image/audio pipeline — identical files arrive through many
    paths — and the shuffle is 32-byte hashes, never bytes."""
    docs = load_table(spark, sf_dir, "documents")
    p = with_payload(docs).select(
        F.col("meta.format").alias("format"), F.md5(F.col("payload")).alias("h")
    )
    g = p.groupBy("format", "h").agg(F.count("*").alias("n"))
    return (
        g.groupBy("format")
        .agg(
            F.sum("n").cast("bigint").alias("n_payloads"),
            F.count("*").alias("n_distinct"),
            F.sum(F.when(F.col("n") > 1, F.col("n") - 1).otherwise(0))
            .cast("bigint")
            .alias("n_removable"),
        )
        .orderBy("format")
    )
