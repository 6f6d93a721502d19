"""Scale-technique operators: bucketed co-located joins and a two-level
deterministic global ordering — the two shuffle-elimination patterns a
100 TB pipeline leans on that the rest of the surface didn't yet
demonstrate.

Staged for the round-5 driver window (registered below the 50-query
cutoff this round); both are fully oracle-checked by the local suite
(tests/test_correctness.py parametrizes over ALL registered queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sqload_spark.functions import hashing
from sqload_spark.functions.rounding import round_half_up, sql_round_half_up
from sqload_spark.registry import query
from sqload_spark.sources.tables import load_table
from sqload_spark.session import scratch_dir

N_BUCKETS = 8

_BUCKETED_ORACLE = f"""
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           {sql_round_half_up("sum(o.o_totalprice)", 2)} AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
"""


@query("q_join_bucketed_colocated", oracle=_BUCKETED_ORACLE)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides written `bucketBy(8, custkey)`
    + sortBy, then sort-merge-joined WITHOUT a shuffle — the plan has no
    Exchange between the two scans and the join (asserted in
    tests/test_plans.py). This is the pattern that turns a daily
    fact-to-dim join at 100 TB from the dominant shuffle into a local
    merge: pay the partitioning once at write time, reuse it every query.
    Broadcast is hinted OFF for the join so the bucketing, not the
    small-SF optimizer shortcut, carries the plan; the price sum rounds
    2dp after aggregating (the repo-standard cross-engine float rule)."""

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    base = scratch_dir(prefix="sqload_bucketed_")
    for name, df, key in (
        ("orders_b", orders, "o_custkey"),
        ("customer_b", customer, "c_custkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", f"{base}/{name}")
            .saveAsTable(name)
        )
    ob, cb = spark.table("orders_b"), spark.table("customer_b")
    joined = ob.hint("merge").join(
        cb, ob.o_custkey == cb.c_custkey
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            round_half_up(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


_ORDER_ORACLE = """
    WITH u AS (
      SELECT doc_id, md5('ord|' || CAST(doc_id AS VARCHAR)) AS u FROM documents
    )
    SELECT doc_id, substr(u, 1, 2) AS shard,
           CAST(row_number() OVER (ORDER BY u, doc_id) - 1 AS BIGINT) AS global_pos
    FROM u ORDER BY global_pos
"""


@query("q_training_order", oracle=_ORDER_ORACLE)
def training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training order WITHOUT a global sort: every doc
    gets u = md5(salt|doc_id); shard = u's first two hex chars; position =
    rank within shard + the summed counts of all earlier shards. Because
    the shard key is a PREFIX of the sort key, (shard, rest-of-u) order
    equals total u order, so the result is bit-identical to a global
    row_number — but the only wide operations are a 256-row count
    aggregate and per-shard ranks, each bounded, instead of a single
    total-order sort of the corpus. The oracle IS the global row_number.
    Reproducible at any parallelism (pure function of doc_id), stable
    across reruns and corpus shards — the epoch-order contract a training
    job needs."""
    u = F.md5(F.concat(F.lit("ord|"), F.col("doc_id").cast("string")))
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", u.alias("u"), F.substring(u, 1, 2).alias("shard")
    )
    offsets = (
        d.groupBy("shard")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "offset",
            F.sum("n").over(W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)),
        )
        .select("shard", F.coalesce("offset", F.lit(0)).alias("offset"))
    )
    rank_in_shard = F.row_number().over(W.partitionBy("shard").orderBy("u", "doc_id"))
    return (
        d.withColumn("rn", rank_in_shard)
        .join(F.broadcast(offsets), "shard")
        .select(
            "doc_id",
            "shard",
            (F.col("offset") + F.col("rn") - 1).cast("bigint").alias("global_pos"),
        )
        .orderBy("global_pos")
    )


N_SHARDS = 8

_SHARD_SQL = hashing.duck_md5_bucket(hashing.duck_salted("shard", "l_orderkey"), N_SHARDS)


@query(
    "q_partial_agg_merge",
    oracle=f"""
    WITH shard_partials AS (
      SELECT {_SHARD_SQL} AS shard, l_returnflag,
             count(*) AS n, sum(l_quantity) AS s,
             min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag,
           CAST(sum(n) AS BIGINT) AS n_rows,
           floor((sum(s)) * 100.0 + 0.5) / 100.0 AS sum_qty,
           min(mn) AS min_price, max(mx) AS max_price,
           count(*) AS n_shards
    FROM shard_partials GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def partial_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level MERGEABLE aggregation — the algebra behind incremental /
    shard-at-a-time pipelines: each md5-bucketed shard computes partial
    states (count, sum, min, max), a second aggregation merges them.
    count/sum/min/max are the algebraic aggregates whose merge is exact,
    so the result equals a single global pass — which is what the oracle
    computes through the same two levels. At 100 TB this is how nightly
    shards fold into a running total without rescanning history;
    n_shards per group proves every shard contributed."""
    li = load_table(spark, sf_dir, "lineitem")
    shard = F.expr(hashing.spark_md5_bucket(hashing.spark_salted("shard", "l_orderkey"), N_SHARDS))
    partials = (
        li.withColumn("shard", shard)
        .groupBy("shard", "l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").alias("s"),
            F.min("l_extendedprice").alias("mn"),
            F.max("l_extendedprice").alias("mx"),
        )
    )
    return (
        partials.groupBy("l_returnflag")
        .agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            round_half_up(F.sum("s"), 2).alias("sum_qty"),
            F.min("mn").alias("min_price"),
            F.max("mx").alias("max_price"),
            F.count("*").alias("n_shards"),
        )
        .orderBy("l_returnflag")
    )
