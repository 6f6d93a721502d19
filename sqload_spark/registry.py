"""Query registry — the single source of truth behind ``__spark_entry__``.

Every implemented operator registers a named query (``(spark, sf_dir) ->
DataFrame``) and, when the semantics are ANSI-SQL-expressible, a DuckDB
oracle SQL string over the same parquet tables. The correctness driver
compares the two (row count + schema + order-insensitive value hash), so:

* alias every computed column identically in both,
* make float aggregates deterministic (round after aggregating),
* avoid types whose cross-engine representation is ambiguous (prefer
  epoch ints / strings / timestamp_ntz for time results).

Queries with no oracle entry get a weaker rows-only check by the driver
(LSH, streaming, generator output — anything non-SQL-expressible).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_OPERATOR_MODULES = [
    "sqload_spark.operators.relational",
    "sqload_spark.operators.tpch_more",
    "sqload_spark.operators.tpch_full",
    "sqload_spark.operators.stats",
    "sqload_spark.operators.text",
    "sqload_spark.operators.text_tfidf",
    "sqload_spark.operators.dedup",
    "sqload_spark.operators.similarity",
    "sqload_spark.operators.timeseries",
    "sqload_spark.operators.multimodal",
    "sqload_spark.operators.generator_queries",
    "sqload_spark.operators.etl",
    "sqload_spark.operators.udf_variants",
    "sqload_spark.operators.skew_queries",
    "sqload_spark.operators.sampling",
    "sqload_spark.operators.subqueries",
    "sqload_spark.operators.advanced",
    "sqload_spark.operators.scale_ops",
    "sqload_spark.operators.clustering",
    "sqload_spark.operators.rag",
    "sqload_spark.streaming.queries",
    "sqload_spark.streaming.stateful",
    "sqload_spark.streaming.joins",
]

_loaded = False

# The external correctness driver checks queries in registry order and stops
# after a fixed window of 50.
#
# ROUND-13+ RECIPE (the standing rule every round):
#   1. any name the newest CORRECTNESS_rNN unexpectedly missed or errored;
#   2. every name whose implementation changed since its last external
#      check (now: every text query on the one word-window kernel, token
#      features and max-frequency fold (functions/text_funcs.py), every
#      oracle on the kernel's DuckDB shingles, the one curation mix body
#      and the tokens() callers, and the three streams that share their
#      batch twin's oracle constant, with those twins; then the md5-kernel
#      and read-back names of the previous window up to the 50th slot —
#      etl_zorder_cluster, the other runner streams and the events
#      readers whose ts layout comes from the parquet footer
#      (tables.stored_ts_type) wait for the next window);
#   3. fill to 50 with the stalest hash-green names per
#      tools/coverage_report.py --list — the listing is authoritative,
#      recompute it, don't trust this comment.
# In short: changed since its last external check first, then stalest.
# Rows-only-by-design entries (dedup_simhash, LSH/IVF recall paths,
# mm_decode_features, the generator tables) stay out of the window —
# law-tested in pytest instead.
# Between driver rounds, `tools/coverage_report.py --sample N [seed]` runs
# N random oracled queries through the drive_entry comparator (the
# judge-sample protocol) for standing evidence.

_PRIORITY = [
    # -- the text family on the one word-window kernel, token features and
    #    max-frequency fold (functions/text_funcs.py) ------------------------
    "text_rolling_fingerprint", "text_contamination_ngram",
    "text_repetition_filter", "text_gopher_quality", "text_quality_score",
    "text_bigram_logprob", "text_quality_pandas_udf", "text_quality_arrow_udf",
    "text_bpe_regex_tokens",
    # -- oracles on the kernel's DuckDB shingles (dedup._DUCK_SH) ------------
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_minhash_checked",
    "dedup_minhash_eval", "dedup_simhash_checked", "dedup_prefix_filter",
    "dedup_edit_distance", "dedup_cross_source_matrix",
    "dedup_incremental_shard", "dedup_keep_list", "dedup_keep_list_weighted",
    "dedup_cluster_sizes", "dedup_pairs_materialized",
    # -- the one curation mix body, shingle-chain oracles, tokens() callers --
    "pipe_training_mix", "pipe_output_manifest", "q_split_leakage_safe",
    "q_chunk_documents", "pipe_rag_corpus", "q_pack_sequences",
    "q_length_bucketed_batches",
    # -- streams sharing their batch twin's oracle constant, and the twins ---
    "stream_tumbling_counts", "stream_sliding_counts",
    "stream_upsert_compaction", "ts_tumbling_window", "ts_sliding_window",
    "etl_upsert_latest",
    # -- carried from the previous window: the md5 kernel and read-backs -----
    "q_sample_hash", "q_sample_stratified", "q_mix_rebalance",
    "q_partial_agg_merge", "sketch_count_min", "sketch_hll_merge",
    "sketch_cms_checked", "text_pii_scrub", "mm_frame_sample",
    "sim_crossencoder_rerank", "dedup_exact_groups",
    "etl_partitioned_bulk_load", "etl_partition_pruning", "etl_file_sizing",
    "etl_dynamic_partition_overwrite",
]


def _ordered(d: dict) -> dict:
    """Priority names first (those present), then the rest in insertion order."""
    out = {n: d[n] for n in _PRIORITY if n in d}
    out.update((n, v) for n, v in d.items() if n not in out)
    return out


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a named query and (optionally) its DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module so their @query decorators run."""
    global _loaded
    if _loaded:
        return
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    _loaded = True


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return _ordered(QUERIES)


def all_oracles() -> dict[str, str]:
    load_all()
    return _ordered(ORACLES)
