"""Streaming joins — the two join shapes Structured Streaming supports and
a production feed actually needs:

* ``stream_static_enrich`` — stream ⋈ static dimension (the enrich step of
  every ingest pipeline: events arrive, a slowly-changing profile table
  sits in the lakehouse). Spark broadcasts the static side per micro-batch;
  no stream state is kept for the join itself.
* ``stream_stream_interval_join`` — stream ⋈ stream with watermarks on both
  sides and an event-time range condition (click → purchase attribution
  within 30 minutes). The time bound + watermarks let Spark expire join
  state: per-key state holds only the last watermark-delay + interval of
  events, which is what makes the operator runnable forever at 100 TB/day.

Both run to completion with ``availableNow`` replay, so the result contract
is exactly the batch join — each shares a plain-SQL oracle, making the
streaming operators themselves hash-checked rather than rows-only.
All time comparisons are whole microseconds on both engines (Spark
TimestampType and DuckDB TIMESTAMP are both µs), so interval arithmetic is
bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqload_spark.functions.rounding import round_half_up, sql_round_half_up
from sqload_spark.registry import query
from sqload_spark.sources.tables import load_table
from sqload_spark.streaming.windows import (
    events_source_bytes,
    replay_files,
    run_to_memory,
    stream_events,
)

# Split users into activity segments on total batch event count. The
# threshold sits near the per-user mean so both segments are populated at
# every SF.
HEAVY_MIN_EVENTS = 60

ATTRIB_WINDOW_MIN = 30


@query(
    "stream_static_enrich",
    oracle=f"""
    WITH profile AS (
      SELECT user_id,
             CASE WHEN count(*) >= {HEAVY_MIN_EVENTS} THEN 'heavy' ELSE 'light' END AS segment
      FROM events GROUP BY user_id
    )
    SELECT p.segment, e.event_type,
           count(*) AS n_events,
           {sql_round_half_up("sum(e.value)", 2)} AS sum_value
    FROM events e JOIN profile p ON e.user_id = p.user_id
    GROUP BY p.segment, e.event_type
    ORDER BY segment, event_type
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static-dimension enrich, then aggregate per (segment, type).

    The profile is a batch DataFrame (at scale: a dimension table in the
    lakehouse, re-read each micro-batch — that is Spark's slowly-changing
    static-join semantics). The stream side joins against it with no join
    state, then a complete-mode aggregation proves the enriched pipeline
    end-to-end equals the batch join+agg (shared oracle)."""
    profile = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_user_events"))
        .select(
            "user_id",
            F.when(F.col("n_user_events") >= HEAVY_MIN_EVENTS, "heavy")
            .otherwise("light")
            .alias("segment"),
        )
    )
    ev = stream_events(spark, sf_dir)
    enriched = ev.join(profile, "user_id")
    agg = enriched.groupBy("segment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value_raw"),
    )
    out = run_to_memory(agg, output_mode="complete", src_bytes=events_source_bytes(sf_dir))
    return out.select(
        "segment",
        "event_type",
        "n_events",
        round_half_up(F.col("sum_value_raw"), 2).alias("sum_value"),
    ).orderBy("segment", "event_type")


@query(
    "stream_stream_interval_join",
    oracle=f"""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL {ATTRIB_WINDOW_MIN} MINUTE
    ORDER BY click_id, purchase_id
    """,
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution: stream-stream inner join, both sides
    watermarked, range condition on event time. The watermarks + the
    30-minute bound tell Spark exactly how long click state must be
    retained (watermark delay + interval), so join state is bounded no
    matter how long the streams run. Replayed to completion the result is
    the batch interval join — shared oracle, hash-checked."""
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
            F.col("ts_us").alias("c_ts_us"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.col("ts_us").alias("p_ts_us"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (clicks["user_id"] == purchases["user_id"])
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {ATTRIB_WINDOW_MIN} MINUTES")),
    ).select(
        clicks["user_id"],
        "click_id",
        "purchase_id",
        (F.col("p_ts_us") - F.col("c_ts_us")).alias("gap_us"),
    )
    out = run_to_memory(
        joined, output_mode="append", src_bytes=events_source_bytes(sf_dir)
    )
    return out.orderBy("click_id", "purchase_id")


# Left-outer stream-stream join: watermark delay chosen SHORT (10 min) so
# the final watermark evicts most unmatched click state and the
# null-extended rows actually appear in the replayed result.
LO_DELAY_MIN = 10


@query(
    "stream_stream_left_outer",
    oracle=f"""
    WITH c AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    ), fwm AS (
      SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
             - INTERVAL {LO_DELAY_MIN} MINUTE AS wm
    )
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL {ATTRIB_WINDOW_MIN} MINUTE
    UNION ALL
    SELECT c.user_id, c.event_id AS click_id,
           CAST(NULL AS BIGINT) AS purchase_id,
           CAST(NULL AS BIGINT) AS gap_us
    FROM c, fwm
    WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = c.user_id
          AND p.ts >= c.ts
          AND p.ts <= c.ts + INTERVAL {ATTRIB_WINDOW_MIN} MINUTE)
      AND c.ts + INTERVAL {ATTRIB_WINDOW_MIN} MINUTE < fwm.wm
    ORDER BY click_id, purchase_id
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution as a LEFT OUTER stream-stream join — the
    shape that reports *unconverted* clicks as null-extended rows.

    Outer results cannot be emitted eagerly (a matching purchase may still
    arrive); Spark holds click state until the joint watermark passes the
    click's last possible match time (c_ts + 30 min) and only then emits
    the null row. The replay therefore yields: the full inner join, PLUS a
    null row for every unmatched click whose expiry lies strictly below
    the FINAL watermark = min(max click ts, max purchase ts) − 10 min
    (the trailing no-data micro-batch performs the last eviction; clicks
    closer than delay+interval to stream end stay in state forever — the
    price of outer-join correctness on an unbounded stream). The oracle
    encodes exactly that contract, so the eviction semantics themselves
    are hash-checked.

    The events table is replayed as TWO time-ordered files
    (maxFilesPerTrigger=1), so mid-run eviction happens too — the final
    result is watermark-timing-independent because eviction is monotone
    in the watermark.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    ).select("user_id", "event_id", "event_type", "ts", "ts_us")
    split = ev.agg(
        F.expr("percentile_approx(ts_us, 0.5, 10000)").alias("m")
    ).first()[0]
    # half 0 up to the median, then half 1; a NULL ts is in neither
    halves = ev.filter(F.col("ts_us").isNotNull()).withColumn(
        "half", (F.col("ts_us") > split).cast("int")
    )
    stream, src_bytes = replay_files(halves, "half", "sqload_lo_in_")

    def side(event_type: str, prefix: str) -> DataFrame:
        return (
            stream.load()
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user_id"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("ts_us").alias(f"{prefix}_ts_us"),
            )
            .withWatermark(f"{prefix}_ts", f"{LO_DELAY_MIN} minutes")
        )

    clicks = side("click", "c")
    purchases = side("purchase", "p")
    joined = clicks.join(
        purchases,
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {ATTRIB_WINDOW_MIN} MINUTES")),
        "left_outer",
    ).select(
        F.col("c_user_id").alias("user_id"),
        F.col("c_id").alias("click_id"),
        F.col("p_id").alias("purchase_id"),
        (F.col("p_ts_us") - F.col("c_ts_us")).alias("gap_us"),
    )
    out = run_to_memory(joined, output_mode="append", src_bytes=src_bytes)
    return out.orderBy("click_id", "purchase_id")
