"""Time-series operators over the `events` stream table: tumbling/sliding
windows, sessionization, as-of join, per-entity first/last, moving frames.

Precision note (see sources/tables.py): events.ts is stored either as
nanoseconds or as microseconds in parquet. Spark's TimestampType is
microseconds — and DuckDB likewise truncates TIMESTAMP(NANOS) to its native
microsecond TIMESTAMP on read — so the exact cross-engine currency is int64
EPOCH MICROSECONDS: Spark reads the loader's ``ts_us`` (integer math on the
stored long; double math would lose precision at 1e18) and oracles use
``epoch_us(ts)``.
All bucket/gap/order arithmetic is integer µs on both sides → bit-identical.

Scale notes: window aggregations shuffle on (bucket, key) — bounded
cardinality, map-side partials first. Sessionization and as-of join
shuffle once on user_id and then window within partitions; skew is handled
by AQE. No driver-side collection anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sqload_spark.functions.rounding import round_half_up, sql_round_half_up
from sqload_spark.registry import query
from sqload_spark.sources.tables import load_table

US_PER_SEC = 1_000_000
TEN_MIN_US = 600 * US_PER_SEC
FIVE_MIN_US = 300 * US_PER_SEC
DAY_US = 86_400 * US_PER_SEC
SESSION_GAP_US = 12 * 3600 * US_PER_SEC  # 12 h — matches the per-user event density


# Shared with stream_tumbling_counts, whose stream runs to the same result.
TUMBLING_ORACLE = f"""
    SELECT (epoch_us(ts) // {TEN_MIN_US}) * 600 AS ws_sec,
           event_type,
           count(*) AS n_events,
           {sql_round_half_up("sum(value)", 2)} AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY ws_sec, event_type
    """


@query("ts_tumbling_window", oracle=TUMBLING_ORACLE)
def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling windows per event type (integer bucket math;
    ws_sec = window start in epoch seconds)."""
    ev = load_table(spark, sf_dir, "events")
    ws = F.expr(f"(ts_us div {TEN_MIN_US}) * 600")
    return (
        ev.groupBy(ws.alias("ws_sec"), "event_type")
        .agg(F.count("*").alias("n_events"), round_half_up(F.sum("value"), 2).alias("sum_value"))
        .orderBy("ws_sec", "event_type")
    )


# Shared with stream_sliding_counts.
SLIDING_ORACLE = f"""
    WITH assigned AS (
      SELECT (epoch_us(ts) // {FIVE_MIN_US}) * 300 AS ws_sec, value FROM events
      UNION ALL
      SELECT (epoch_us(ts) // {FIVE_MIN_US}) * 300 - 300 AS ws_sec, value FROM events
    )
    SELECT ws_sec, count(*) AS n_events,
           {sql_round_half_up("sum(value)", 2)} AS sum_value
    FROM assigned
    GROUP BY ws_sec
    ORDER BY ws_sec
    """


@query("ts_sliding_window", oracle=SLIDING_ORACLE)
def sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes: each event lands in two
    windows (its 5-min bucket and the one 5 min earlier) — the explicit
    window-assignment expansion Spark's window() does internally."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.expr(f"(ts_us div {FIVE_MIN_US}) * 300")
    assigned = ev.select(
        F.explode(F.array(bucket, bucket - F.lit(300))).alias("ws_sec"), "value"
    )
    return (
        assigned.groupBy("ws_sec")
        .agg(F.count("*").alias("n_events"), round_half_up(F.sum("value"), 2).alias("sum_value"))
        .orderBy("ws_sec")
    )


@query(
    "ts_sessionize",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, epoch_us(ts) AS t, value,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_t
      FROM events
    ), flagged AS (
      SELECT user_id, t, value,
             CASE WHEN prev_t IS NULL OR t - prev_t > {SESSION_GAP_US} THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), numbered AS (
      SELECT user_id, t, value,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY t
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, min(t) AS session_start_us, max(t) AS session_end_us,
           count(*) AS n_events, {sql_round_half_up("sum(value)", 2)} AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (12 h), the classic lag + cumulative-sum
    formulation — batch twin of streaming session_window."""
    ev = load_table(spark, sf_dir, "events")
    w_order = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_run = W.partitionBy("user_id").orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    flagged = ev.select(
        "user_id",
        F.col("ts_us").alias("t"),
        "value",
        F.when(
            F.lag("ts_us").over(w_order).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(w_order)) > SESSION_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    numbered = flagged.withColumn("session_id", F.sum("is_new").over(w_run))
    return (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.min("t").alias("session_start_us"),
            F.max("t").alias("session_end_us"),
            F.count("*").alias("n_events"),
            round_half_up(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "ts_asof_join",
    oracle="""
    SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
           coalesce(epoch_us(v.ts), -1) AS last_view_us,
           coalesce(epoch_us(p.ts) - epoch_us(v.ts), -1) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts > v.ts
    ORDER BY p.event_id
    """,
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest strictly-prior view
    by the same user. Spark has no ASOF JOIN operator; the scalable
    formulation is a tagged union + last(ignorenulls) window — one shuffle
    on user_id, no range-join explosion. (DuckDB's native ASOF JOIN is the
    oracle.)"""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("purchase", "view")).select(
        "event_id", "user_id", "ts_us", "event_type"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    view_ts = F.when(F.col("event_type") == "view", F.col("ts_us"))
    enriched = tagged.withColumn("last_view_us_raw", F.last(view_ts, ignorenulls=True).over(w))
    return (
        enriched.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts_us",
            F.coalesce(F.col("last_view_us_raw"), F.lit(-1)).alias("last_view_us"),
            F.coalesce(F.col("ts_us") - F.col("last_view_us_raw"), F.lit(-1)).alias("gap_us"),
        )
        .orderBy("event_id")
    )


@query(
    "ts_daily_rate",
    oracle=f"""
    SELECT (epoch_us(ts) // {DAY_US}) AS epoch_day, event_type, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    ORDER BY epoch_day, event_type
    """,
)
def daily_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.expr(f"ts_us div {DAY_US}").alias("epoch_day"), "event_type")
        .agg(F.count("*").alias("n_events"), F.countDistinct("user_id").alias("n_users"))
        .orderBy("epoch_day", "event_type")
    )


@query(
    "ts_moving_avg",
    oracle=f"""
    SELECT event_id, user_id,
           {sql_round_half_up(
               "avg(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id "
               "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)", 4)} AS value_ma5
    FROM events
    WHERE user_id < 20
    ORDER BY event_id
    """,
)
def moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-row moving average per user (frame-based window)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(-4, 0)
    return (
        ev.filter(F.col("user_id") < 20)
        .select("event_id", "user_id", round_half_up(F.avg("value").over(w), 4).alias("value_ma5"))
        .orderBy("event_id")
    )


@query(
    "ts_first_last_per_user",
    oracle="""
    SELECT user_id,
           min(epoch_us(ts)) AS first_us,
           max(epoch_us(ts)) AS last_us,
           arg_min(event_type, epoch_us(ts)) AS first_type,
           arg_max(event_type, epoch_us(ts)) AS last_type,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def first_last_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.min("ts_us").alias("first_us"),
            F.max("ts_us").alias("last_us"),
            F.min_by("event_type", "ts_us").alias("first_type"),
            F.max_by("event_type", "ts_us").alias("last_type"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


@query(
    "ts_gap_fill",
    oracle=f"""
    WITH b AS (
      SELECT user_id, epoch_us(ts) // {DAY_US} AS bucket, count(*) AS n
      FROM events WHERE user_id <= 20 GROUP BY 1, 2
    ), spans AS (
      SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY user_id
    ), filled AS (
      SELECT user_id, unnest(generate_series(lo, hi)) AS bucket FROM spans
    )
    SELECT f.user_id, f.bucket * 86400 AS bucket_sec,
           coalesce(b.n, 0) AS n_events,
           CASE WHEN b.n IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM filled f LEFT JOIN b USING (user_id, bucket)
    ORDER BY f.user_id, bucket_sec
    """,
)
def gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling — the interpolation prerequisite: materialize EVERY
    daily bucket between each entity's first and last observation, zero
    where no events landed. The dense axis comes from
    ``explode(sequence(lo, hi))`` per entity — generated where the entity
    lives, so the fill adds no shuffle beyond the bucket aggregation
    itself and parallelizes by entity at any scale. (A calendar dimension
    join — the other classic shape — costs a broadcast instead; sequence
    wins when spans differ wildly per entity.)"""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    b = ev.groupBy(
        "user_id", F.expr(f"ts_us div {DAY_US}").alias("bucket")
    ).agg(F.count("*").alias("n"))
    spans = b.groupBy("user_id").agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    filled = spans.select(
        "user_id", F.explode(F.sequence("lo", "hi")).alias("bucket")
    )
    return (
        filled.join(b, ["user_id", "bucket"], "left")
        .select(
            "user_id",
            (F.col("bucket") * 86400).alias("bucket_sec"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
            F.when(F.col("n").isNull(), 1).otherwise(0).cast("bigint").alias("is_gap"),
        )
        .orderBy("user_id", "bucket_sec")
    )


# ---------------------------------------------------------------------------
# Event-sequence analytics: conversion funnel + retention cohorts.
# ---------------------------------------------------------------------------

WEEK_US = 7 * DAY_US


@query(
    "ts_funnel_stages",
    oracle=f"""
    WITH s AS (
      SELECT user_id, min(epoch_us(ts)) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS c_ts
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > s.s_ts
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.c_ts
      GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT 1 AS stage, 'signup' AS stage_name, count(*) AS n_users FROM s
      UNION ALL
      SELECT 2, 'click_after_signup', count(*) FROM c
      UNION ALL
      SELECT 3, 'purchase_after_click', count(*) FROM p
    ) ORDER BY stage
    """,
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → click → purchase: a user counts
    for stage k only with a stage-k event STRICTLY AFTER their stage-(k-1)
    entry time. Each stage is one filtered aggregation joined to the
    previous stage's (user, ts) frontier — k shuffles on user_id total,
    never a per-user sort or event collection, so the funnel holds at
    billions of events. Integer-µs comparisons end to end."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("s_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts_us") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts_us") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("p_ts"))
    )

    def stage(df: DataFrame, k: int, name: str) -> DataFrame:
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(k).alias("stage"), F.lit(name).alias("stage_name"), "n_users"
        )

    return (
        stage(s, 1, "signup")
        .unionAll(stage(c, 2, "click_after_signup"))
        .unionAll(stage(p, 3, "purchase_after_click"))
        .orderBy("stage")
    )


@query(
    "ts_retention_cohorts",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id, min(epoch_us(ts)) // {WEEK_US} AS cohort_wk
      FROM events GROUP BY user_id
    )
    SELECT f.cohort_wk,
           epoch_us(e.ts) // {WEEK_US} - f.cohort_wk AS wk_offset,
           count(DISTINCT e.user_id) AS n_active
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY 1, 2
    ORDER BY cohort_wk, wk_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle: users cohorted by first-activity week, activity
    counted per week offset. Two aggregations (per-user first week, then
    distinct users per (cohort, offset)) + one shuffle-join on user_id —
    the cohort table a growth dashboard recomputes daily over the full
    event history, so the bounded-shuffle shape is the point at scale."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.expr(f"min(ts_us) div {WEEK_US}").alias("cohort_wk")
    )
    return (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_wk",
            (F.expr(f"ts_us div {WEEK_US}") - F.col("cohort_wk")).alias("wk_offset"),
        )
        .groupBy("cohort_wk", "wk_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_wk", "wk_offset")
    )


EWMA_WINDOW = 16


@query(
    "ts_ewma",
    oracle=f"""
    WITH lagged AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             list_filter(list(value) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN {EWMA_WINDOW - 1} PRECEDING AND CURRENT ROW),
               x -> x IS NOT NULL) AS lst
      FROM events WHERE user_id <= 20
    )
    SELECT user_id, ts_us, event_id,
           {sql_round_half_up(
               "list_sum(list_transform(lst, (x, i) -> x * 2.0 ** (i - len(lst))))"
               " / list_sum(list_transform(lst, (x, i) -> 2.0 ** (i - len(lst))))", 4)} AS ewma
    FROM lagged
    ORDER BY user_id, ts_us, event_id
    """,
)
def ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α = 1/2) over each user's
    trailing {EWMA_WINDOW} events. The weights are exact powers of two, so
    the weighted terms are bit-identical across engines and the 4dp-rounded
    result hash-checks — the trick that makes an 'exponential' operator
    oracle-safe. Shape: one shuffle on user_id, then a bounded window frame
    (collect of ≤{EWMA_WINDOW} doubles per row) — no per-user sort beyond
    the window, state bounded by the frame length at any scale."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-(EWMA_WINDOW - 1), 0)
    )
    lst = F.collect_list("value").over(w)
    weighted = F.aggregate(
        F.transform(lst, lambda x, i: x * F.pow(F.lit(2.0), i + 1 - F.size(lst))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wsum = F.aggregate(
        F.transform(lst, lambda x, i: F.pow(F.lit(2.0), i + 1 - F.size(lst))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # collect_list SKIPS NULL measurements (the standard missing-data
    # semantics for an EWMA) while DuckDB's list() keeps them — the oracle
    # list_filters NULLs out so both engines weight the identical non-null
    # sequence. The size guard covers an all-NULL frame, where the raw
    # 0.0/0.0 would raise under ANSI (Spark 4 default) instead of giving
    # the oracle's NULL.
    return (
        ev.select(
            "user_id",
            "ts_us",
            "event_id",
            F.when(F.size(lst) > 0, round_half_up(weighted / wsum, 4)).alias("ewma"),
        )
        .orderBy("user_id", "ts_us", "event_id")
    )


@query(
    "ts_transition_matrix",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
      FROM events
    ), trans AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           {sql_round_half_up(
               "n::DOUBLE / sum(n) OVER (PARTITION BY prev_type)", 4)} AS p
    FROM trans
    ORDER BY prev_type, next_type
    """,
)
def transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: count (prev → next) pairs, normalize per source state. The
    behavioral fingerprint a product-analytics pipeline recomputes over
    the full history — one shuffle on user_id for the lag, one bounded
    (|types|²) aggregation; the normalizing window runs on the tiny
    transition table, never the events."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    trans = (
        ev.select("user_id", "event_type", F.lag("event_type").over(w).alias("prev_type"))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    wp = W.partitionBy("prev_type")
    return (
        trans.select(
            "prev_type",
            "next_type",
            "n",
            round_half_up(F.col("n").cast("double") / F.sum("n").over(wp), 4).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


@query(
    "ts_window_unique_users",
    oracle=f"""
    SELECT (epoch_us(ts) // {TEN_MIN_US}) * 600 AS ws_sec,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1
    ORDER BY ws_sec
    """,
)
def window_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique actives per tumbling window — the other classic windowed
    metric: count-distinct inside each bucket. Exact here (the oracle can
    check it); at 100 TB the distinct forces a (window, user) pre-shuffle,
    so production dashboards swap in approx_count_distinct / HLL-merge
    (sketch_hll_merge shows the mergeable form) — same plan shape."""
    ev = load_table(spark, sf_dir, "events")
    ws = F.expr(f"(ts_us div {TEN_MIN_US}) * 600")
    return (
        ev.groupBy(ws.alias("ws_sec"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("ws_sec")
    )


ANOMALY_SIGMA = 2.0


@query(
    "ts_anomaly_days",
    oracle=f"""
    WITH daily AS (
      SELECT user_id, epoch_us(ts) // {DAY_US} AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT user_id,
             count(*) AS n_days,
             CAST(sum(n) AS BIGINT) AS s1,
             CAST(sum(n * n) AS BIGINT) AS s2
      FROM daily GROUP BY user_id
    ), scored AS (
      SELECT d.user_id, d.day, d.n,
             s.s1 / (1.0 * s.n_days) AS mean_n,
             sqrt((s.n_days * s.s2 - s.s1 * s.s1) / (1.0 * s.n_days * (s.n_days - 1))) AS std_n
      FROM daily d JOIN stats s ON d.user_id = s.user_id
      WHERE s.n_days >= 2
    )
    SELECT user_id, day * 86400 AS day_sec, n AS n_events,
           {sql_round_half_up("(n - mean_n) / std_n", 4)} AS z
    FROM scored
    WHERE std_n > 0 AND n > mean_n + {ANOMALY_SIGMA} * std_n
    ORDER BY user_id, day_sec
    """,
)
def anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily-volume anomaly detection: flag days more than
    {ANOMALY_SIGMA}σ above the user's own mean. The variance comes from
    INTEGER power sums (n·Σx² − (Σx)² over n(n−1)), so mean/std are exact
    identical doubles in both engines and even the σ-threshold comparison
    is deterministic — no Welford-order ambiguity. Two bounded
    aggregations; the daily table, not the events, crosses the second
    shuffle."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.expr(f"ts_us div {DAY_US}").alias("day")
    ).agg(F.count("*").alias("n"))
    stats = daily.groupBy("user_id").agg(
        F.count("*").alias("n_days"),
        F.sum("n").cast("bigint").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("s2"),
    )
    mean_n = F.col("s1") / (F.lit(1.0) * F.col("n_days"))
    std_n = F.sqrt(
        (F.col("n_days") * F.col("s2") - F.col("s1") * F.col("s1"))
        / (F.lit(1.0) * F.col("n_days") * (F.col("n_days") - 1))
    )
    return (
        daily.join(stats, "user_id")
        .filter(F.col("n_days") >= 2)
        .withColumn("mean_n", mean_n)
        .withColumn("std_n", std_n)
        .filter((F.col("std_n") > 0) & (F.col("n") > F.col("mean_n") + ANOMALY_SIGMA * F.col("std_n")))
        .select(
            "user_id",
            (F.col("day") * 86400).alias("day_sec"),
            F.col("n").alias("n_events"),
            round_half_up((F.col("n") - F.col("mean_n")) / F.col("std_n"), 4).alias("z"),
        )
        .orderBy("user_id", "day_sec")
    )


@query(
    "ts_ohlc_bars",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, epoch_us(ts) // {DAY_US} AS day, value,
             row_number() OVER (PARTITION BY user_id, epoch_us(ts) // {DAY_US}
                                ORDER BY epoch_us(ts), event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id, epoch_us(ts) // {DAY_US}
                                ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT user_id, day * 86400 AS day_sec,
           {sql_round_half_up("max(CASE WHEN rn_a = 1 THEN value END)", 2)} AS open_v,
           {sql_round_half_up("max(value)", 2)} AS high_v,
           {sql_round_half_up("min(value)", 2)} AS low_v,
           {sql_round_half_up("max(CASE WHEN rn_d = 1 THEN value END)", 2)} AS close_v,
           count(*) AS n_events
    FROM ranked
    GROUP BY user_id, day
    ORDER BY user_id, day_sec
    """,
)
def ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling — the financial-bar aggregation: per (user, day),
    the first/last value by event time (open/close, total tie-break on
    event id) plus min/max. One shuffle on (user, day); open/close come
    from two row_number windows over the same partition — no per-group
    sort materialization, and the formulation is engine-identical, so the
    bars hash-check. The canonical example of order-sensitive aggregation
    done with order-free shuffles."""
    ev = load_table(spark, sf_dir, "events")
    day = F.expr(f"ts_us div {DAY_US}")
    wa = W.partitionBy("user_id", "day").orderBy("ts_us", "event_id")
    wd = W.partitionBy("user_id", "day").orderBy(F.col("ts_us").desc(), F.col("event_id").desc())
    ranked = (
        ev.withColumn("day", day)
        .withColumn("rn_a", F.row_number().over(wa))
        .withColumn("rn_d", F.row_number().over(wd))
    )
    return (
        ranked.groupBy("user_id", "day")
        .agg(
            round_half_up(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 2).alias("open_v"),
            round_half_up(F.max("value"), 2).alias("high_v"),
            round_half_up(F.min("value"), 2).alias("low_v"),
            round_half_up(F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 2).alias("close_v"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            (F.col("day") * 86400).alias("day_sec"),
            "open_v",
            "high_v",
            "low_v",
            "close_v",
            "n_events",
        )
        .orderBy("user_id", "day_sec")
    )


@query(
    "ts_resample_interp",
    oracle=f"""
    WITH daily AS (
      SELECT user_id, epoch_us(ts) // {DAY_US} AS day, max(value) AS v
      FROM events WHERE user_id <= 20 GROUP BY 1, 2
    ), spans AS (
      SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily GROUP BY user_id
    ), axis AS (
      SELECT s.user_id, unnest(range(s.lo, s.hi + 1)) AS day FROM spans s
    ), joined AS (
      SELECT a.user_id, a.day, d.v,
             last_value(d.v IGNORE NULLS) OVER w_prev AS v_p,
             last_value(CASE WHEN d.v IS NOT NULL THEN a.day END IGNORE NULLS) OVER w_prev AS d_p,
             first_value(d.v IGNORE NULLS) OVER w_next AS v_n,
             first_value(CASE WHEN d.v IS NOT NULL THEN a.day END IGNORE NULLS) OVER w_next AS d_n
      FROM axis a LEFT JOIN daily d ON a.user_id = d.user_id AND a.day = d.day
      WINDOW w_prev AS (PARTITION BY a.user_id ORDER BY a.day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w_next AS (PARTITION BY a.user_id ORDER BY a.day
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day * 86400 AS day_sec,
           CASE WHEN v IS NULL THEN 1 ELSE 0 END AS interpolated,
           {sql_round_half_up(
               "CASE WHEN v IS NOT NULL THEN v"
               " ELSE v_p + (v_n - v_p) * (day - d_p) / (d_n - d_p) END", 4)} AS v_out
    FROM joined
    ORDER BY user_id, day_sec
    """,
)
def resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resampling with LINEAR INTERPOLATION onto a dense daily grid — the
    other half of gap handling (ts_gap_fill zero-fills; this estimates).
    Missing days get v_p + (v_n − v_p)·Δ/span from the surrounding
    observed days via two IGNORE NULLS windows — no self-join, one
    shuffle on user_id. The weights are exact integer day ratios, so the
    interpolated values hash-check. Dashboards and feature pipelines use
    exactly this before feeding models that can't see gaps."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    daily = ev.groupBy(
        "user_id", F.expr(f"ts_us div {DAY_US}").alias("day")
    ).agg(F.max("value").alias("v"))
    spans = daily.groupBy("user_id").agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    axis = spans.select("user_id", F.explode(F.sequence("lo", "hi")).alias("day"))
    j = axis.join(daily, ["user_id", "day"], "left")
    w_prev = W.partitionBy("user_id").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    w_next = W.partitionBy("user_id").orderBy("day").rowsBetween(0, W.unboundedFollowing)
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    j = (
        j.withColumn("v_p", F.last("v", ignorenulls=True).over(w_prev))
        .withColumn("d_p", F.last(obs_day, ignorenulls=True).over(w_prev))
        .withColumn("v_n", F.first("v", ignorenulls=True).over(w_next))
        .withColumn("d_n", F.first(obs_day, ignorenulls=True).over(w_next))
    )
    interp = F.col("v_p") + (F.col("v_n") - F.col("v_p")) * (F.col("day") - F.col("d_p")) / (
        F.col("d_n") - F.col("d_p")
    )
    return j.select(
        "user_id",
        (F.col("day") * 86400).alias("day_sec"),
        F.when(F.col("v").isNull(), 1).otherwise(0).alias("interpolated"),
        round_half_up(F.when(F.col("v").isNotNull(), F.col("v")).otherwise(interp), 4).alias(
            "v_out"
        ),
    ).orderBy("user_id", "day_sec")


# --- nearest-event join with tolerance --------------------------------------
# The bidirectional cousin of the as-of join (ts_asof_join matches the
# latest PRIOR event): each error event matches its NEAREST click by the
# same user within ±5 minutes, either direction — sensor-fusion /
# incident-correlation semantics an as-of can't express. Candidates come
# from a banded time-bucket equi-join (each error probes its own bucket
# ±1), so the join is never events × events; the argmin is the min-struct
# aggregate with (abs_gap, click_id) as the total order.

NEAREST_TOL_US = 300_000_000  # ±5 minutes


@query(
    "ts_asof_nearest_tolerance",
    oracle=f"""
    WITH errors AS (
      SELECT event_id AS err_id, user_id, epoch_us(ts) AS e_us
      FROM events WHERE event_type = 'error'
    ), clicks AS (
      SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
      FROM events WHERE event_type = 'click'
    ), matched AS (
      SELECT e.err_id, e.user_id,
             min(struct_pack(g := abs(c.c_us - e.e_us), cid := c.click_id,
                             sgn := CAST(c.c_us - e.e_us AS BIGINT))) AS best
      FROM errors e JOIN clicks c
        ON e.user_id = c.user_id
       AND abs(c.c_us - e.e_us) <= {NEAREST_TOL_US}
      GROUP BY e.err_id, e.user_id
    )
    SELECT err_id, user_id,
           best.cid AS click_id,
           best.sgn AS gap_us
    FROM matched
    ORDER BY err_id
    """,
)
def asof_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest click within ±5 min of each error (either direction) — see
    the block comment for the banded candidate join and argmin shape."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts_us").alias("e_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts_us").alias("c_us"),
    )
    # banded candidates: equi-join on (user, bucket) with the error probing
    # its bucket and both neighbors — bounds candidates without a range join
    bucket = lambda c: (c / NEAREST_TOL_US).cast("long")  # noqa: E731
    cb = clicks.withColumn("bkt", bucket(F.col("c_us")))
    eb = errors.withColumn(
        "probe", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    ).withColumn("bkt", bucket(F.col("e_us")) + F.col("probe"))
    gap = F.col("c_us") - F.col("e_us")
    matched = (
        eb.join(cb, (F.col("e_user") == F.col("c_user")) & (eb.bkt == cb.bkt))
        .filter(F.abs(gap) <= NEAREST_TOL_US)
        .groupBy("err_id", F.col("e_user").alias("user_id"))
        .agg(
            F.min(
                F.struct(
                    F.abs(gap).alias("g"),
                    F.col("click_id").alias("cid"),
                    gap.cast("bigint").alias("sgn"),
                )
            ).alias("best")
        )
    )
    return matched.select(
        "err_id",
        "user_id",
        F.col("best.cid").alias("click_id"),
        F.col("best.sgn").alias("gap_us"),
    ).orderBy("err_id")
