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
#      check (now: every oracled embedding query built on the shared
#      cosine steps in similarity.py — the pair join, per-vector norm,
#      top-n window, candidate lists and mutual-kNN edges, with the oracle
#      CTEs recomposed to match — plus the dedup_embedding_cosine*,
#      k-means and vector-norm names whose vector load or oracle scan
#      moved to tables.load_vectors / vectors.EMB_SQL; then the three
#      file-source streams that moved onto the one availableNow runner,
#      windows.run_available_now; then every oracled dedup_* query built
#      on the shared near-dup steps or oracle CTEs in dedup.py, and the
#      leakage-safe split and training-mix pipelines that reuse them; then
#      the two Python-UDF quality queries, now sorted before the UDF);
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
    # -- changed by the one cosine-pair kernel (similarity.py's shared steps,
    # tables.load_vectors, vectors.EMB_SQL) ---------------------------------
    "sim_topk_bruteforce", "sim_topk_hyperplane_lsh", "sim_topk_blas",
    "sim_knn_graph", "sim_pagerank_knn", "sim_knn_triangles",
    "sim_mmr_rerank", "sim_crossencoder_rerank", "sim_vector_quantize",
    "sim_label_centroids", "dedup_embedding_cosine",
    "dedup_embedding_cosine_banded", "dedup_embedding_cosine_banded_pruned",
    "dedup_semantic_representative", "q_kmeans_assign", "q_kmeans_refine",
    "q_vector_norms",
    # -- changed by the one availableNow runner (windows.run_available_now) --
    "stream_late_data_policy", "stream_microbatch_progress",
    "stream_upsert_compaction",
    # -- changed by the one near-dup kernel (shared shingle rows, signature
    # builders, band join, verification and oracle CTEs in dedup.py) -------
    "dedup_simhash_checked", "dedup_minhash_checked", "dedup_minhash_eval",
    "dedup_prefix_filter", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_incremental_shard", "dedup_edit_distance",
    "dedup_cross_source_matrix", "dedup_keep_list", "dedup_keep_list_weighted",
    "dedup_cluster_sizes", "dedup_pairs_materialized", "q_split_leakage_safe",
    "pipe_training_mix", "pipe_output_manifest",
    # -- changed earlier, not yet checked externally -------------------------
    "text_quality_arrow_udf", "text_quality_pandas_udf",
    # -- fill to 50 with the stalest (r09) hash-green names ------------------
    "q5_region_revenue", "q_anti_join",
    "q_count_distinct", "q_cube_returnflag_status", "q_date_funcs",
    "q_except_custkeys", "q_filter_project", "q_having",
    "q_intersect_custkeys", "q_json_extract", "q_math_funcs",
    "q_percentiles",
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
