"""Law tests for the event-analytics operators (funnel / retention /
transition matrix / PageRank) — invariants the oracle hash can't state."""

from __future__ import annotations

from pyspark.sql import functions as F

from sqload_spark import registry
from tests.conftest import SF_DIR

registry.load_all()


def test_funnel_stages_monotone(spark):
    rows = registry.QUERIES["ts_funnel_stages"](spark, SF_DIR).orderBy("stage").collect()
    counts = [r["n_users"] for r in rows]
    assert len(counts) == 3
    assert counts[0] >= counts[1] >= counts[2] >= 0


def test_transition_matrix_rows_normalize(spark):
    df = registry.QUERIES["ts_transition_matrix"](spark, SF_DIR)
    sums = (
        df.groupBy("prev_type").agg(F.sum("p").alias("s")).collect()
    )
    # per-source probabilities sum to 1 up to the 4dp per-cell rounding
    assert all(abs(r["s"] - 1.0) < 5e-4 * 5 for r in sums)


def test_retention_cohort_week0_equals_cohort_size(spark):
    from sqload_spark.operators.timeseries import WEEK_US
    from sqload_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    firsts = ev.groupBy("user_id").agg(
        F.expr(f"min(ts_us) div {WEEK_US}").alias("cohort_wk")
    )
    cohort_sizes = {
        r["cohort_wk"]: r["n"]
        for r in firsts.groupBy("cohort_wk").agg(F.count("*").alias("n")).collect()
    }
    wk0 = {
        r["cohort_wk"]: r["n_active"]
        for r in registry.QUERIES["ts_retention_cohorts"](spark, SF_DIR)
        .filter(F.col("wk_offset") == 0)
        .collect()
    }
    assert wk0 == cohort_sizes


def test_pagerank_mass_positive_and_node_complete(spark):
    rows = registry.QUERIES["sim_pagerank_knn"](spark, SF_DIR).collect()
    assert len(rows) > 0
    assert all(r["pr"] > 0 for r in rows)
    assert all(r["outdeg"] >= 1 for r in rows)
