"""Registry hygiene: the external driver checks the FIRST 50 entries of
the ordered registry, so a typo in _PRIORITY would silently burn a window
slot on a rotated-out query. These tests make that failure loud. Building
a registered batch query starts no Spark job beyond its named eager
actions (test_build_jobs_bounded)."""

from __future__ import annotations

from sqload_spark import registry
from tests.conftest import SF_DIR

registry.load_all()


def test_priority_names_all_registered():
    unknown = [n for n in registry._PRIORITY if n not in registry.QUERIES]
    assert not unknown, f"_PRIORITY names not in registry: {unknown}"


def test_priority_has_no_duplicates():
    assert len(registry._PRIORITY) == len(set(registry._PRIORITY))


def test_driver_window_is_fully_hash_checkable():
    """Round-5 window policy: all 50 window slots carry DuckDB oracles —
    rows-only entries give the weaker check and belong after the fold.
    (The round-9 staged exception for the two generator tables was unwound
    at the round-10 rotation once CORRECTNESS_r09 recorded their first
    driver rows; the policy is back in force with no whitelist.)"""
    window = list(registry.all_queries())[:50]
    rows_only = [n for n in window if n not in registry.ORACLES]
    assert not rows_only, f"rows-only queries occupying window slots: {rows_only}"


# Spark jobs a registered batch query may start while its plan is built, at
# sf0.01: 0 unless listed here with the eager action that starts them. Table
# loads start none (tables.load_table reads with an explicit schema). The
# streams (stream_*, gen_stream_table) run their whole replay during build
# and are not bounded here.
_CC = "_labels_from_pairs' edge count (6: the LSH mine's AQE stages) + CC convergence counts (8)"
_BUILD_JOBS = {
    # the connected-components loop (dedup._labels_iterate) and its consumers
    "dedup_cluster_sizes": (14, _CC),
    "dedup_keep_list": (14, _CC),
    "dedup_keep_list_weighted": (14, _CC),
    "pipe_output_manifest": (14, _CC),
    "pipe_training_mix": (14, _CC),
    "q_split_leakage_safe": (14, _CC),
    "dedup_pairs_materialized": (
        16,
        "pairs_materialized's parquet write (4) + the artifact's schema read (1) + "
        "edge count of the read-back pairs + CC convergence counts (11)",
    ),
    # corpus counts that pick the plan
    "dedup_embedding_cosine_banded": (4, "embedding_cosine_banded's band_rows.count() picks the tier (4)"),
    "sim_pagerank_knn": (6, "pagerank_knn's n_nodes count over the persisted edges, a literal (6)"),
    "sim_topk_blas": (1, "topk_blas' query-set collect"),
    "etl_jdbc_bulk_load": (4, "the Derby JDBC write + the partition bounds' min/max, literals (4)"),
    # write-then-read-back ETL and source round trips: the artifact is written
    # during build; a parquet read-back infers the written artifact's schema
    "etl_dynamic_partition_overwrite": (3, "two partitioned parquet writes (2) + read-back schema (1)"),
    "etl_file_sizing": (2, "the sorted parquet write (1) + read-back schema (1)"),
    "etl_partition_pruning": (2, "the partitioned parquet write (1) + read-back schema (1)"),
    "etl_partitioned_bulk_load": (4, "range-partition sampling and write (3) + read-back schema (1)"),
    "etl_zorder_cluster": (4, "range-partition sampling and write (3) + read-back schema (1)"),
    "q_join_bucketed_colocated": (2, "the two bucketed saveAsTable writes"),
    "src_schema_evolution": (3, "two parquet writes (2) + the merged-schema read (1)"),
    "src_csv_corrupt_tolerant": (1, "the text write"),
    "src_csv_roundtrip": (1, "the CSV write"),
    "src_json_roundtrip": (1, "the JSON write"),
    "src_orc_roundtrip": (1, "the ORC write"),
    "src_text_logparse": (1, "the text write"),
}


def _is_stream(name: str) -> bool:
    return name.startswith("stream_") or name == "gen_stream_table"


def test_build_jobs_bounded(spark):
    """Building a registered batch query starts no more Spark jobs than
    _BUILD_JOBS lists (0 where it names none): a refactor that adds an
    eager action to plan build, or a table load that infers its schema,
    fails here. Counted per query under its own job group, as
    tools/profile_queries.py counts build_jobs."""
    assert not [n for n in _BUILD_JOBS if n not in registry.QUERIES or _is_stream(n)]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    over = {}
    for name in sorted(n for n in registry.QUERIES if not _is_stream(n)):
        group = f"build_jobs:{name}"
        sc.setJobGroup(group, group)
        try:
            registry.QUERIES[name](spark, SF_DIR)
        finally:
            sc.setJobGroup("", "")
        n_jobs = len(tracker.getJobIdsForGroup(group))
        bound = _BUILD_JOBS.get(name, (0, ""))[0]
        if n_jobs > bound:
            over[name] = (n_jobs, bound)
    assert not over, f"build-time jobs over their bound (jobs, bound): {over}"
