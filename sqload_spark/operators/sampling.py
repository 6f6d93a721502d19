"""Deterministic sampling / mixing / chunking / splitting over `documents` —
the training-data-curation operators a 100 TB pipeline runs after dedup.

Every sampling decision is a pure function of (doc_id, salt) via md5, never
``F.rand()``: the sample is reproducible at any parallelism, re-runnable
incrementally (a new shard of the corpus doesn't change old decisions), and
— because Spark and DuckDB agree bit-for-bit on md5 of the same string —
every query here is hash-checkable against a SQL oracle. The keep-decision
is map-side: a Bernoulli hash-sample adds ZERO shuffles to a scan.

u(doc) = first 8 md5 hex digits as a uniform double in [0,1); keep iff
u < rate. Modulo-bias-free to 2^-32.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sqload_spark.functions import hashing
from sqload_spark.functions.text_funcs import tokens
from sqload_spark.operators.dedup import _DUCK_REACH, component_labels
from sqload_spark.registry import ORACLES, query
from sqload_spark.sources.tables import load_table

SAMPLE_RATE = 0.2
TEST_SHARE = 0.25

# Per-source stratified rates: even-numbered sources kept at 50%, odd at
# 10% — the "oversample the good source" shape.
STRAT_EVEN, STRAT_ODD = 0.5, 0.1


def _u(id_sql: str, salt: str) -> Column:
    """Uniform [0,1) double from md5(salt|id) — identical in DuckDB via
    ``_u_sql``."""
    return F.expr(hashing.spark_md5_uniform(hashing.spark_salted(salt, id_sql)))


def _u_sql(id_sql: str, salt: str) -> str:
    return hashing.duck_md5_uniform(hashing.duck_salted(salt, id_sql))


@query(
    "q_sample_hash",
    oracle=f"""
    SELECT doc_id, source
    FROM documents
    WHERE {_u_sql("doc_id", "sample1")} < {SAMPLE_RATE}
    ORDER BY doc_id
    """,
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli sample at SAMPLE_RATE: one scan, a filter on
    md5(doc_id), no shuffle (the ORDER BY is presentation-only)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(_u("doc_id", "sample1") < SAMPLE_RATE)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@query(
    "q_sample_stratified",
    oracle=f"""
    SELECT source,
           count(*) AS n_total,
           CAST(sum(CASE WHEN {_u_sql("doc_id", "strat1")} <
                         CASE WHEN TRY_CAST(substr(source, 4) AS BIGINT) % 2 = 0
                              THEN {STRAT_EVEN} ELSE {STRAT_ODD} END
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum Bernoulli rates (even-numbered sources 50%, odd 10%) —
    the keep-decision stays map-side; only the reporting aggregate
    shuffles (once, on source). Sources without a numeric suffix (real
    corpora have arbitrary source tags, and a plain cast raises under
    ANSI mode) fall to the conservative odd-source rate via try_cast —
    the same NULL-propagating CASE in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.when(
        F.substring(F.col("source"), 4, 10).try_cast("bigint") % 2 == 0, STRAT_EVEN
    ).otherwise(STRAT_ODD)
    kept = F.when(_u("doc_id", "strat1") < rate, 1).otherwise(0)
    return (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_total"), F.sum(kept).cast("bigint").alias("n_sampled"))
        .orderBy("source")
    )


@query(
    "q_mix_rebalance",
    oracle=f"""
    WITH stats AS (
      SELECT lang, count(*) AS cnt,
             sum(count(*)) OVER () AS total,
             count(*) OVER () AS n_langs
      FROM documents GROUP BY lang
    ), rates AS (
      SELECT lang, cnt,
             least(1.0, (CAST(total AS DOUBLE) / n_langs) / cnt) AS keep_rate
      FROM stats
    )
    SELECT d.lang,
           min(r.cnt) AS n_before,
           CAST(sum(CASE WHEN {_u_sql("d.doc_id", "mix1")} < r.keep_rate
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_after
    FROM documents d JOIN rates r ON d.lang = r.lang
    GROUP BY d.lang
    ORDER BY d.lang
    """,
)
def mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus toward a uniform language mix: per-lang keep
    rate = min(1, target_share/actual_share), then the same deterministic
    hash sample. The rate table is one tiny row-per-language aggregate,
    broadcast back against the scan — data rows never shuffle for the
    keep-decision itself."""
    docs = load_table(spark, sf_dir, "documents")
    w_all = W.partitionBy()
    rates = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("cnt"))
        .select(
            "lang",
            "cnt",
            F.least(
                F.lit(1.0),
                (F.sum("cnt").over(w_all).cast("double") / F.count("*").over(w_all))
                / F.col("cnt"),
            ).alias("keep_rate"),
        )
    )
    kept = F.when(_u("doc_id", "mix1") < F.col("keep_rate"), 1).otherwise(0)
    return (
        docs.join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.min("cnt").alias("n_before"),
            F.sum(kept).cast("bigint").alias("n_after"),
        )
        .orderBy("lang")
    )


CHUNK_TOKENS = 128
CHUNK_STRIDE = 64


def chunk_rows(toks: DataFrame, *cols: str) -> DataFrame:
    """(*cols, chunk_idx, chunk_len, chunk_fp): the CHUNK_TOKENS-token
    windows at stride CHUNK_STRIDE over ``toks``' token array ``t``, one
    row per window; chunk_fp is the md5 of the window's text."""
    chunk_len = F.least(F.lit(CHUNK_TOKENS), F.size("t") - F.col("start"))
    return toks.select(
        *cols,
        "t",
        F.explode(F.sequence(F.lit(0), F.size("t") - 1, F.lit(CHUNK_STRIDE))).alias("start"),
    ).select(
        *cols,
        (F.col("start") / CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
        chunk_len.cast("bigint").alias("chunk_len"),
        F.md5(F.array_join(F.slice(F.col("t"), F.col("start") + 1, chunk_len), " ")).alias("chunk_fp"),
    )


def duck_chunks(rel: str, cols: str) -> str:
    """DuckDB text of ``chunk_rows`` over the relation ``rel``."""
    return f"""SELECT {cols},
           CAST(s.start / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           least({CHUNK_TOKENS}, len(t) - s.start) AS chunk_len,
           md5(array_to_string(t[s.start + 1 : s.start + least({CHUNK_TOKENS}, len(t) - s.start)], ' ')) AS chunk_fp
    FROM {rel}, LATERAL unnest(range(0, len(t), {CHUNK_STRIDE})) s(start)"""


@query(
    "q_chunk_documents",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    )
    {duck_chunks("toks", "doc_id")}
    ORDER BY doc_id, chunk_idx
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for sequence training: 128-token windows at
    stride 64 (50% overlap). explode(sequence) + slice — expression-only,
    rows out ≈ tokens/stride, no Python. chunk_fp is the md5 of the chunk
    text so the oracle hash-checks actual content, not just shapes."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    return chunk_rows(toks, "doc_id").orderBy("doc_id", "chunk_idx")


@query(
    "q_split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE {_DUCK_REACH},
    comp AS (
      SELECT a AS doc_id, least(a, min(b)) AS keep_doc_id
      FROM reach GROUP BY a
    )
    SELECT d.doc_id,
           coalesce(c.keep_doc_id, d.doc_id) AS cluster_id,
           CASE WHEN {_u_sql("coalesce(c.keep_doc_id, d.doc_id)", "split1")} < {TEST_SHARE}
                THEN 'test' ELSE 'train' END AS split
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ORDER BY d.doc_id
    """,
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split that CANNOT leak near-duplicates across the
    boundary: the split decision hashes the near-dup CLUSTER id (connected
    components over LSH-mined ≥0.5-Jaccard pairs), so every member of a
    cluster lands on the same side. Singleton docs are their own cluster.
    This is the split a training pipeline must use after dedup — splitting
    on doc_id leaks paraphrases of training docs into eval."""
    docs = load_table(spark, sf_dir, "documents")
    comps = component_labels(docs)
    clustered = docs.select("doc_id").join(comps, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("keep_doc_id"), F.col("doc_id")).alias("cluster_id")
    )
    return clustered.select(
        "doc_id",
        "cluster_id",
        F.when(_u("cluster_id", "split1") < TEST_SHARE, "test")
        .otherwise("train")
        .alias("split"),
    ).orderBy("doc_id")


PACK_BUDGET = 1024  # tokens per training block


@query(
    "q_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n
      FROM documents
    ), pos AS (
      SELECT doc_id, source, n,
             sum(n) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM toks
    )
    SELECT source,
           CAST((cum - n) // {PACK_BUDGET} AS BIGINT) AS block_id,
           count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS n_tokens
    FROM pos
    GROUP BY source, block_id
    ORDER BY source, block_id
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: concatenate each source's docs (in
    deterministic doc_id order) into a token stream and cut fixed
    PACK_BUDGET-token blocks; a doc belongs to the block where it starts
    (GPT-style packing with boundary crossing). Emits the packing manifest
    (docs and tokens starting per block). Partitioning by source keeps the
    running sum parallel — one window per source stream, never a global
    single-reducer cumsum; at 100 TB the streams are files/shards and the
    same two-level (per-shard cumsum + shard offset) plan applies."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    pos = docs.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).alias("n"),
    ).withColumn("cum", F.sum("n").over(w))
    return (
        pos.select(
            "source",
            F.floor((F.col("cum") - F.col("n")) / PACK_BUDGET).alias("block_id"),
            "n",
        )
        .groupBy("source", "block_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n").cast("bigint").alias("n_tokens"))
        .orderBy("source", "block_id")
    )


MIX_MIN_TOKENS, MIX_MAX_TOKENS = 20, 60
MIX_SAMPLE_RATE = 0.5


def _mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline's surviving documents (doc_id, source,
    n_tokens, ...): the length gate, the near-dup survivors (each
    component's minimum doc_id) and the deterministic hash sample — the
    `mix` CTE that both pipeline oracles share."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tokens"))
        .filter(F.col("n_tokens").between(MIX_MIN_TOKENS, MIX_MAX_TOKENS))
        .join(component_labels(docs), "doc_id", "left")
        .filter(F.coalesce(F.col("keep_doc_id"), F.col("doc_id")) == F.col("doc_id"))
        .filter(_u("doc_id", "mixfinal") < MIX_SAMPLE_RATE)
    )


@query(
    "pipe_training_mix",
    oracle=f"""
    WITH RECURSIVE {_DUCK_REACH},
    comp AS (
      SELECT a AS doc_id, least(a, min(b)) AS keep_doc_id
      FROM reach GROUP BY a
    ),
    mix AS (
      SELECT d.doc_id, d.source, len(string_split(d.text, ' ')) AS n_tokens
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
      WHERE len(string_split(d.text, ' ')) BETWEEN {MIX_MIN_TOKENS} AND {MIX_MAX_TOKENS}
        AND coalesce(c.keep_doc_id, d.doc_id) = d.doc_id
        AND {_u_sql("d.doc_id", "mixfinal")} < {MIX_SAMPLE_RATE}
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM mix
    GROUP BY source
    ORDER BY source
    """,
)
def training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE composed plan — the flagship
    LLM-data query: length/quality gate → near-dup survivor selection
    (keep only each LSH cluster's min doc_id) → deterministic 50% hash
    sample → per-source manifest. Everything before the final reporting
    aggregate is map-side or LSH-bounded; the oracle replays the identical
    pipeline in SQL (recursive CTE for the cluster step), so the entire
    composition is hash-checked end-to-end."""
    return (
        _mix(spark, sf_dir)
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").cast("bigint").alias("total_tokens"))
        .orderBy("source")
    )


QUOTA_PER_SOURCE = 15


@query(
    "q_source_quota_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('quota|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    )
    SELECT source,
           count(*) AS n_total,
           CAST(sum(CASE WHEN rn <= {QUOTA_PER_SOURCE} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn <= {QUOTA_PER_SOURCE} THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
)
def source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source QUOTA capping — the anti-domination rule of a training
    mix (no source may contribute more than N docs). Rank within each
    source by md5(doc_id) — an unbiased, reproducible shuffle order — and
    keep the first N. One shuffle on `source`; at scale the md5 rank
    replaces any need for a global sort or per-source sampling passes,
    and re-running with a bigger quota extends the kept set
    monotonically (the rank order never changes)."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("quota|"), F.col("doc_id").cast("string"))), F.col("doc_id")
    )
    kept = F.when(F.col("rn") <= QUOTA_PER_SOURCE, 1).otherwise(0)
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(kept).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("rn") <= QUOTA_PER_SOURCE, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


# Temperature-sampled source mix (the multilingual-training alpha trick):
# quota_i ∝ count_i^alpha with alpha < 1 flattens the source distribution —
# big sources are down-weighted, small sources up-weighted — without ever
# dropping a source entirely.
TEMP_ALPHA = 0.5
TEMP_TARGET = 200  # total docs to draw at sf0.01 scale (scales with corpus)


@query(
    "q_sample_temperature",
    oracle=f"""
    WITH counts AS (
      SELECT source, count(*) AS c FROM documents GROUP BY source
    ), tot AS (
      SELECT sum(c ** {TEMP_ALPHA}) AS z, sum(c) AS n FROM counts
    ), quotas AS (
      SELECT source, c,
             least(c, CAST(floor(
               (c ** {TEMP_ALPHA}) / tot.z * (tot.n * {TEMP_TARGET} / 500.0) + 0.5
             ) AS BIGINT)) AS quota
      FROM counts, tot
    ), ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('temp|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    )
    SELECT q.source AS source, q.c AS n_total, q.quota AS quota,
           count(*) AS n_kept
    FROM ranked r JOIN quotas q ON r.source = q.source
    WHERE r.rn <= q.quota
    GROUP BY q.source, q.c, q.quota
    ORDER BY q.source
    """,
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source rebalancing: per-source quota proportional
    to count^{TEMP_ALPHA} (alpha-sampling from multilingual LM training),
    drawn deterministically by md5 rank within each source. Two bounded
    aggregations (source counts, then the normalizer as a broadcast 1-row
    frame) + one rank shuffle on source; c^alpha = sqrt at alpha 0.5 is
    engine-exact IEEE, so the quota arithmetic itself hash-checks. The
    target scales with the corpus (n/500 x {TEMP_TARGET}) so the same
    registration is meaningful at every sf."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("c"))
    tot = counts.agg(
        F.sum(F.pow(F.col("c"), F.lit(TEMP_ALPHA))).alias("z"),
        F.sum("c").alias("n"),
    )
    quotas = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "c",
            F.least(
                F.col("c"),
                F.floor(
                    F.pow(F.col("c"), F.lit(TEMP_ALPHA))
                    / F.col("z")
                    * (F.col("n") * TEMP_TARGET / 500.0)
                    + 0.5
                ).cast("bigint"),
            ).alias("quota"),
        )
    )
    w = W.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("temp|"), F.col("doc_id").cast("string"))), F.col("doc_id")
    )
    ranked = docs.withColumn("rn", F.row_number().over(w)).select("doc_id", "source", "rn")
    return (
        ranked.join(F.broadcast(quotas), "source")
        .filter(F.col("rn") <= F.col("quota"))
        .groupBy("source", F.col("c").alias("n_total"), "quota")
        .agg(F.count("*").alias("n_kept"))
        .orderBy("source")
    )


# One-row reproducibility receipt over the full pipeline's doc-level
# manifest. Oracle = the training-mix CTE chain with the reporting tail
# swapped for a canonical-string md5.
_MIX_ORACLE = ORACLES["pipe_training_mix"]
_MANIFEST_ORACLE = _MIX_ORACLE[: _MIX_ORACLE.index("    SELECT source,")] + """
    SELECT md5(string_agg(
             CAST(doc_id AS VARCHAR) || ':' || source || ':' || CAST(n_tokens AS VARCHAR),
             '|' ORDER BY doc_id)) AS manifest_md5,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM mix
"""


@query("pipe_output_manifest", oracle=_MANIFEST_ORACLE)
def output_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's reproducibility receipt: one md5 over the ENTIRE
    doc-level output manifest (sorted `doc_id:source:n_tokens` lines). Two
    independently-built engines producing the same 32-hex receipt is the
    strongest single bit of end-to-end evidence a curation run can emit —
    and the artifact a production pipeline logs next to its output so any
    later rerun (new cluster, new Spark version, new partitioning) can
    prove bit-level reproducibility in O(1) comparison. The global
    string_agg runs on the FINAL manifest (hundreds of rows here, always
    report-scale), not the corpus."""
    mix = _mix(spark, sf_dir)
    line = F.concat_ws(
        ":", F.col("doc_id").cast("string"), F.col("source"), F.col("n_tokens").cast("string")
    )
    return mix.select("doc_id", line.alias("line"), "n_tokens").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("doc_id"), F.col("line")))
                    ),
                    lambda s: s["line"],
                )
            , "|")
        ).alias("manifest_md5"),
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


# --- length-bucketed dynamic batching ---------------------------------------
# Training dataloaders group similar-length sequences so per-batch padding
# (max_len × batch_size − Σ len) stays small. Distributed formulation:
# coarse length bucket (power-of-two-ish bands) → deterministic md5 order
# within the bucket → row_number ÷ B assigns batch ids → per-batch stats.
# One shuffle on the bucket key; the padding-waste column quantifies what
# the bucketing bought, hash-checked end to end. B and the bands are
# compile-time constants so the oracle mirrors them exactly.

BATCH_SIZE = 32
LEN_BAND_TOKENS = 64  # bucket = n_tokens div 64


@query(
    "q_length_bucketed_batches",
    oracle=f"""
    WITH docs_len AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), assigned AS (
      SELECT (n_tokens // {LEN_BAND_TOKENS}) AS bucket, doc_id, n_tokens,
             CAST((row_number() OVER (
               PARTITION BY (n_tokens // {LEN_BAND_TOKENS})
               ORDER BY md5('batch|' || CAST(doc_id AS VARCHAR)), doc_id) - 1)
               // {BATCH_SIZE} AS BIGINT) AS batch_id
      FROM docs_len
    )
    SELECT bucket, batch_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens,
           CAST(max(n_tokens) * count(*) - sum(n_tokens) AS BIGINT) AS padding_waste
    FROM assigned
    GROUP BY bucket, batch_id
    ORDER BY bucket, batch_id
    """,
)
def length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batch assignment with per-batch padding-waste
    accounting — see block comment."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens(F.col("text")))
    dl = docs.select("doc_id", n_tokens.alias("n_tokens"))
    bucket = (F.col("n_tokens") / LEN_BAND_TOKENS).cast("long")
    order_key = F.md5(F.concat(F.lit("batch|"), F.col("doc_id").cast("string")))
    w = W.partitionBy("bucket").orderBy(order_key, "doc_id")
    assigned = (
        dl.withColumn("bucket", bucket)
        .withColumn(
            "batch_id",
            ((F.row_number().over(w) - 1) / BATCH_SIZE).cast("long"),
        )
    )
    return (
        assigned.groupBy("bucket", "batch_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
            (F.max("n_tokens") * F.count("*") - F.sum("n_tokens"))
            .cast("bigint")
            .alias("padding_waste"),
        )
        .orderBy("bucket", "batch_id")
    )
