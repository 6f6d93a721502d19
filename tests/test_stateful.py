"""applyInPandasWithState equivalence: the stateful streaming profile after
a full replay must equal the batch aggregation."""

from __future__ import annotations

from pyspark.sql import functions as F

from sqload_spark import registry
from sqload_spark.sources.tables import load_table
from tests.conftest import SF_DIR

registry.load_all()


def test_stateful_profile_equals_batch(spark):
    stream = registry.QUERIES["stream_stateful_profile"](spark, SF_DIR).toPandas()
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("value_sum"),
            F.max("ts_us").alias("last_seen_us"),
        )
        .orderBy("user_id")
        .toPandas()
    )
    assert len(stream) == len(batch)
    merged = stream.merge(batch, on="user_id", suffixes=("_s", "_b"))
    assert (merged.n_events_s == merged.n_events_b).all()
    assert (merged.last_seen_us_s == merged.last_seen_us_b).all()
    assert ((merged.value_sum_s - merged.value_sum_b).abs() < 1e-6).all()
