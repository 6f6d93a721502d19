"""Source/sink ETL surface: CSV and JSON scans with explicit schemas, and
the partitioned bulk-load round trip the sqload generator exists to feed.

Each query materializes a derived copy of a test table in a scratch
directory through the format under test, reads it back, and aggregates —
so the oracle (running on the original parquet) proves the full
write→scan→query path is lossless. Explicit schemas everywhere: schema
inference is a second scan at scale and non-deterministic under dirty data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sqload_spark.functions.rounding import round_half_up
from sqload_spark.registry import query
from sqload_spark.session import conf_scope, scratch_subdir
from sqload_spark.sources.sinks import read_back_parquet, write_partitioned_parquet
from sqload_spark.sources.tables import load_table

# Under the process-wide scratch root (session.scratch_subdir): unique per
# process so concurrent driver/test runs never collide, re-invocations
# overwrite in place during the session, and the root's single exit hook
# removes the residue when the process does (VERDICT r6 #4 — one code path
# for all scratch artifacts). Resolved LAZILY, not at module level: the
# registry imports every operator module, and creating the mkdtemp root as
# an import side effect would make `import sqload_spark` itself write to
# the filesystem (round-7 review).
def _scratch() -> str:
    return scratch_subdir("etl")

ORDERS_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
)

_ORDERS_AGG_ORACLE = """
    SELECT o_orderstatus, count(*) AS n_orders,
           floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0 AS total
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


def _agg_orders(df: DataFrame) -> DataFrame:
    return (
        df.groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"), round_half_up(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("o_orderstatus")
    )


@query("src_csv_roundtrip", oracle=_ORDERS_AGG_ORACLE)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → CSV (ISO timestamps) → explicit-schema CSV scan → aggregate.
    Proves the CSV source/sink pair preserves values exactly.

    NULL vs '' (adversarial part 4): a bare CSV field cannot carry the
    difference — Spark's default options serialize both to an empty field
    and read both back as NULL, silently merging two groups (the textual
    twin of the hive-partition collapse). The engine's CSV round-trip
    contract is an explicit null token: NULL → \\N, '' → \"\" (quoted),
    symmetric on write and read."""
    od = load_table(spark, sf_dir, "orders")
    path = os.path.join(_scratch(), "orders_csv")
    (
        od.write.mode("overwrite")
        .option("header", "true")
        .option("nullValue", "\\N")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(path)
    )
    back = (
        spark.read.schema(ORDERS_SCHEMA)
        .option("header", "true")
        .option("nullValue", "\\N")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(path)
    )
    return _agg_orders(back)


@query("src_json_roundtrip", oracle=_ORDERS_AGG_ORACLE)
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → JSON lines → explicit-schema JSON scan → aggregate."""
    od = load_table(spark, sf_dir, "orders")
    path = os.path.join(_scratch(), "orders_json")
    od.write.mode("overwrite").json(path)
    back = spark.read.schema(ORDERS_SCHEMA).json(path)
    return _agg_orders(back)


@query(
    "etl_partitioned_bulk_load",
    oracle="""
    SELECT l_returnflag, count(*) AS n_rows,
           count(DISTINCT l_orderkey) AS n_orders,
           floor((sum(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS total_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def partitioned_bulk_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sqload ETL shape end-to-end: lineitem range-partitioned on the
    order key (balanced, sorted part files — what a partitioned DB bulk
    loader ingests) + hive-style directory partitioning on l_returnflag,
    then a partition-pruned read-back aggregation. The oracle on the
    original table proves the load is lossless.

    Hive-style directory partitioning is NOT value-faithful for string
    keys (adversarial part 3): both NULL and '' land in
    __HIVE_DEFAULT_PARTITION__, so a round trip silently merges them —
    one group vanished versus the oracle. The sink owns the fix:
    write_partitioned_parquet directory-names string keys by an escaped
    twin (sinks.partition_escape — sentinel collisions raise at write
    time) while the raw column rides in the data files, so the read-back
    answers group-bys losslessly and a pruning filter on flag F maps to
    __part_l_returnflag = escape(F)."""
    li = load_table(spark, sf_dir, "lineitem")
    path = os.path.join(_scratch(), "lineitem_load")
    write_partitioned_parquet(
        li,
        path,
        range_key="l_orderkey",
        partition_by=["l_returnflag"],
    )
    back = read_back_parquet(spark, path, li.schema, ["l_returnflag"])
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            round_half_up(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "etl_jdbc_bulk_load",
    oracle="""
    SELECT o_orderstatus, count(*) AS n_orders,
           count(DISTINCT o_custkey) AS n_custkeys,
           floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0 AS total
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def jdbc_bulk_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL-database bulk-load round trip: orders → JDBC batched insert
    into embedded Derby (4 writer partitions — a bulk load opens O(loader
    slots) connections, not O(cores)) → partitioned JDBC read-back
    (parallel range queries on o_orderkey) → aggregate. The oracle on the
    original parquet proves the database round trip is lossless. Against a
    server RDBMS (MySQL/OceanBase/Postgres) only the url/driver change;
    Derby is what this container has.

    The string column rides as the dialect's native CLOB mapping, NOT a
    createTableColumnTypes VARCHAR pin (adversarial part 3): Spark's
    writer takes the JDBC type for setNull() from the DIALECT
    (StringType → Types.CLOB on Derby) regardless of the created column
    type, and Derby rejects the cross-type setNull — so a VARCHAR-pinned
    load works on clean data and dies on the FIRST NULL string. All
    comparisons/grouping happen Spark-side after read-back, so CLOB
    storage costs nothing here; a server RDBMS whose dialect maps strings
    to VARCHAR/TEXT has no such split-brain to begin with."""
    from sqload_spark.sources.sinks import read_jdbc_partitioned, write_jdbc

    # keep derby.log in the scratch dir, not the caller's CWD (no-op once
    # the Derby engine has booted in this JVM)
    spark._jvm.System.setProperty("derby.system.home", _scratch())
    url = f"jdbc:derby:{_scratch()}/derby_db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    write_jdbc(
        od,
        url,
        "orders_load",
        mode="overwrite",
        num_partitions=4,
        **props,
    )
    lo, hi = od.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    back = read_jdbc_partitioned(
        spark, url, "orders_load", "o_orderkey", lo, hi + 1, 8, **props
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_custkeys"),
            round_half_up(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "etl_partition_pruning",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders,
           floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0 AS total
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition PRUNING end-to-end: orders written hive-partitioned on
    o_orderstatus, read back with an equality filter on the partition
    column — the scan lists and reads ONLY the `o_orderstatus=F`
    directory (PartitionFilters in the plan, asserted in
    tests/test_plans.py). At 100 TB this is the difference between
    reading one partition and reading the lake; the oracle (filtered
    query on the original table) proves pruning loses nothing."""
    od = load_table(spark, sf_dir, "orders")
    path = os.path.join(_scratch(), "orders_pruned")
    # through the sink so the string partition key gets its escaped twin
    # (NULL/'' directory collapse, see write_partitioned_parquet); the
    # pruning filter targets the twin DIRECTORY column — escape('F') = 'F'
    write_partitioned_parquet(od, path, partition_by=["o_orderstatus"])
    back = read_back_parquet(spark, path, od.schema, ["o_orderstatus"]).filter(
        F.col("__part_o_orderstatus") == "F"
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"), round_half_up(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("o_orderpriority")
    )


# Shared with stream_upsert_compaction, whose delta fold must equal it.
UPSERT_LATEST_ORACLE = """
    SELECT user_id, event_type AS last_type, last_us, n_versions FROM (
      SELECT user_id, event_type, epoch_us(ts) AS last_us,
             count(*) OVER (PARTITION BY user_id) AS n_versions,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    ORDER BY user_id
    """


@query("etl_upsert_latest", oracle=UPSERT_LATEST_ORACLE)
def upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/upsert compaction — the MERGE half of every bulk-load pipeline:
    collapse an append-only change stream to the LATEST row per key
    (order by event time, tie-break by event id). One shuffle on the key,
    then a per-partition window — no global sort. At scale this is the
    nightly compaction that turns a log of updates into a snapshot
    table; n_versions is the per-key log depth the compaction removed."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts_us").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("n_versions", F.count("*").over(W.partitionBy("user_id")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.col("ts_us").alias("last_us"),
            "n_versions",
        )
        .orderBy("user_id")
    )


@query("src_orc_roundtrip", oracle=_ORDERS_AGG_ORACLE)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → ORC → scan → aggregate: the third columnar format in the
    source matrix (parquet everywhere, CSV/JSON above). ORC carries the
    schema itself; predicate pushdown and column pruning apply as with
    parquet."""
    od = load_table(spark, sf_dir, "orders")
    path = os.path.join(_scratch(), "orders_orc")
    od.write.mode("overwrite").orc(path)
    return _agg_orders(spark.read.orc(path))


# ---------------------------------------------------------------------------
# Z-order (Morton) clustered layout.
# ---------------------------------------------------------------------------

_HOUR_US = 3_600_000_000
# interleave16 magic masks (standard Morton spread; each step doubles the
# gap between the value's bits — same constants every z-order writer uses)
_SPREAD_STEPS = ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555))


def _spread16(c: F.Column) -> F.Column:
    for shift, mask in _SPREAD_STEPS:
        c = c.bitwiseOR(F.shiftleft(c, shift)).bitwiseAND(F.lit(mask))
    return c


def _sql_spread16(e: str) -> str:
    for shift, mask in _SPREAD_STEPS:
        e = f"(({e} | ({e} << {shift})) & {mask})"
    return e


def _zvalue(x: F.Column, y: F.Column) -> F.Column:
    return _spread16(x).bitwiseOR(F.shiftleft(_spread16(y), 1))


def _sql_zvalue(x: str, y: str) -> str:
    return f"({_sql_spread16(x)} | ({_sql_spread16(y)} << 1))"


_Z_X = "user_id % 65536"
_Z_Y_SQL = "(epoch_us(ts) // {h}) % 65536".format(h=_HOUR_US)
_ZBOX_SQL = """
    SELECT event_id, user_id,
           epoch_us(ts) // {h} AS hr,
           {z} AS zval
    FROM events
    WHERE user_id BETWEEN 10 AND 49
      AND ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    ORDER BY event_id
""".format(h=_HOUR_US, z=_sql_zvalue(f"({_Z_X})", f"({_Z_Y_SQL})"))


@query("etl_zorder_cluster", oracle=_ZBOX_SQL)
def zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered layout + 2-dimensional box read-back.

    The multi-dim data-skipping technique hive partitioning can't provide:
    interleave the bits of (user_id, event-hour) into one Morton key, range-
    partition and sort the write on it, and rows close in BOTH dimensions
    land in the same files — so a (user, time) box query touches a small,
    contiguous subset of files via plain parquet min/max stats instead of
    scanning either full dimension. The z math is pure integer bit
    expressions (identical formula on the oracle side, so the interleave is
    hash-checked); file-level locality of the box is asserted in
    tests/test_plans.py. At 100 TB this replaces one-dimensional layout
    with bounded-file box scans — the OPTIMIZE ZORDER of lakehouse tables,
    expressed as repartitionByRange + sortWithinPartitions."""
    ev = load_table(spark, sf_dir, "events")
    hr = F.expr(f"ts_us div {_HOUR_US}")
    clustered = (
        ev.withColumn("hr", hr)
        .withColumn(
            "zval",
            _zvalue(
                F.pmod(F.col("user_id"), F.lit(65536)),
                F.pmod(F.col("hr"), F.lit(65536)),
            ),
        )
        .select("event_id", "user_id", "hr", "ts", "zval")
    )
    path = os.path.join(_scratch(), "events_zorder")
    (
        clustered.repartitionByRange(8, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = read_back_parquet(spark, path, clustered.schema)
    return (
        back.filter(
            (F.col("user_id").between(10, 49))
            & (F.col("ts") >= F.lit("2024-01-05").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
        )
        .select("event_id", "user_id", "hr", "zval")
        .orderBy("event_id")
    )


@query(
    "src_schema_evolution",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice, NULL AS o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0
    ), v2 AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 1
    ), unioned AS (
      SELECT * FROM v1 UNION ALL SELECT * FROM v2
    )
    SELECT coalesce(o_orderstatus, '<missing>') AS status,
           count(*) AS n_orders,
           floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0 AS total
    FROM unioned
    GROUP BY 1
    ORDER BY status
    """,
)
def schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: a table written in two generations (v1 lacks
    a column that v2 added) read back as ONE DataFrame with mergeSchema —
    the v1 files surface the new column as NULL. This is how a 100 TB
    lakehouse table evolves in place: no rewrite of old files, the footer
    union is computed once at planning, and per-file projection adapts.
    The oracle replays the same evolution as a UNION ALL with a NULL
    literal, proving no rows or values are disturbed by the merge."""
    od = load_table(spark, sf_dir, "orders")
    path = os.path.join(_scratch(), "orders_evolving")
    (
        od.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(path)
    )
    (
        od.filter(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.mode("append")
        .parquet(path)
    )
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        back.groupBy(F.coalesce(F.col("o_orderstatus"), F.lit("<missing>")).alias("status"))
        .agg(
            F.count("*").alias("n_orders"),
            round_half_up(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("status")
    )


FILE_SIZE_ROWS = 4096


@query(
    "etl_file_sizing",
    oracle=f"""
    WITH ranked AS (
      SELECT o_orderkey,
             (row_number() OVER (ORDER BY o_orderkey) - 1) // {FILE_SIZE_ROWS} AS f
      FROM orders
    )
    SELECT f + 1 AS file_seq,
           count(*) AS n_rows,
           min(o_orderkey) AS lo_key,
           max(o_orderkey) AS hi_key
    FROM ranked
    GROUP BY f
    ORDER BY file_seq
    """,
)
def file_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-size control: write orders sorted by key with
    maxRecordsPerFile={FILE_SIZE_ROWS} and verify from the READ-BACK (one
    row per physical file via input_file_name) that every file holds
    exactly the expected contiguous key chunk. Small-file management is a
    first-class 100 TB concern — unbounded tiny files destroy scan and
    listing performance, oversized files break parallelism — and this
    proves the knob produces the planned layout, file for file. Single
    output partition here so chunking is total-order-deterministic; in
    production the same option applies per partition."""
    od = load_table(spark, sf_dir, "orders")
    path = os.path.join(_scratch(), "orders_sized")
    keys = od.select("o_orderkey")
    (
        keys.coalesce(1)
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", FILE_SIZE_ROWS)
        .parquet(path)
    )
    per_file = (
        read_back_parquet(spark, path, keys.schema)
        .groupBy(F.input_file_name().alias("fname"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_orderkey").alias("lo_key"),
            F.max("o_orderkey").alias("hi_key"),
        )
    )
    w = W.orderBy("lo_key")
    return (
        per_file.select(
            F.row_number().over(w).cast("bigint").alias("file_seq"),
            "n_rows",
            "lo_key",
            "hi_key",
        )
        .orderBy("file_seq")
    )


@query(
    "etl_dynamic_partition_overwrite",
    oracle="""
    WITH merged AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
    )
    SELECT o_orderstatus,
           count(*) AS n_orders,
           floor((sum(o_totalprice)) * 100.0 + 0.5) / 100.0 AS total
    FROM merged
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the lakehouse write mode that makes
    partition-grain reprocessing safe: rewrite ONLY the partitions present
    in the incoming batch (here the F partition, with repriced rows) and
    leave every other partition's files untouched. Static overwrite would
    have dropped O and P. The oracle replays the merge logically
    (CASE-modified union), so the read-back proves the selective rewrite
    disturbed nothing else. At 100 TB this is how dailies restate one day
    in a thousand-day table."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = os.path.join(_scratch(), "orders_dyn")
    # both writes go through the sink: partitioning on the raw string key
    # would collapse NULL and '' statuses into __HIVE_DEFAULT_PARTITION__
    # and the read-back group-by would merge them (the adversarial-corpus
    # '' status row caught exactly this); the escaped twin keeps the raw
    # column in the data files, and dynamic overwrite restates only the
    # twin directories present in the batch ('F' → '__part_…=F')
    write_partitioned_parquet(od, path, partition_by=["o_orderstatus"])
    restated = (
        od.filter(F.col("o_orderstatus") == "F")
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
    )
    with conf_scope(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        write_partitioned_parquet(restated, path, partition_by=["o_orderstatus"])
    back = read_back_parquet(spark, path, od.schema, ["o_orderstatus"])
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            round_half_up(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "etl_constraint_check",
    oracle="""
    SELECT 'lineitem_orphan_orderkey' AS rule,
           (SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_violations
    UNION ALL
    SELECT 'orders_orphan_custkey',
           (SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'lineitem_null_qty',
           (SELECT count(*) FROM lineitem WHERE l_quantity IS NULL)
    UNION ALL
    SELECT 'lineitem_qty_range',
           (SELECT count(*) FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50)
    UNION ALL
    SELECT 'lineitem_discount_range',
           (SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 0.1)
    UNION ALL
    SELECT 'orders_status_domain',
           (SELECT count(*) FROM orders WHERE o_orderstatus NOT IN ('F','O','P'))
    ORDER BY rule
    """,
)
def constraint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation — the expectation suite an ingest runs
    before publishing a partition: referential integrity (anti-join orphan
    counts), null checks, range checks, domain checks, one row of violation
    counts per rule. Each rule is a map-side filter count except the two
    FK rules, which are left-anti joins against the parent key column.
    The parent sides (orders keys, customer keys) are FACT-scale, so they
    are deliberately NOT hint-broadcast — the anti-join shuffles on the
    key, stats/AQE still broadcast when a parent is genuinely small, and
    Spark's runtime bloom-filter injection prunes the probe side at
    scale. A publish gate asserts every count is zero."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")

    def rule(name: str, cnt_df: DataFrame) -> DataFrame:
        return cnt_df.select(F.lit(name).alias("rule"), F.col("n").alias("n_violations"))

    orphan_li = li.join(
        od.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    ).agg(F.count("*").alias("n"))
    orphan_od = od.join(
        cu.select("c_custkey"),
        od.o_custkey == F.col("c_custkey"),
        "left_anti",
    ).agg(F.count("*").alias("n"))
    checks = [
        rule("lineitem_orphan_orderkey", orphan_li),
        rule("orders_orphan_custkey", orphan_od),
        rule("lineitem_null_qty", li.filter(F.col("l_quantity").isNull()).agg(F.count("*").alias("n"))),
        rule(
            "lineitem_qty_range",
            li.filter((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).agg(
                F.count("*").alias("n")
            ),
        ),
        rule(
            "lineitem_discount_range",
            li.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).agg(
                F.count("*").alias("n")
            ),
        ),
        rule(
            "orders_status_domain",
            od.filter(~F.col("o_orderstatus").isin("F", "O", "P")).agg(
                F.count("*").alias("n")
            ),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("rule")


# --- SCD type-2 dimension build ---------------------------------------------
# The warehouse-classic slowly-changing-dimension history: collapse each
# user's event-type stream into validity intervals (one row per
# consecutive run of the same state, with valid_from/valid_to and a
# current flag). Complements etl_upsert_latest (SCD1 "keep latest") with
# the full-history variant.
#
# Shape at 100 TB: everything is ONE shuffle on user_id — the change
# detector (lag), the run numbering (running count of changes) and the
# run collapse (groupBy user_id, run) all share the same partitioning, so
# Catalyst plans a single Exchange followed by sorts. Order within a user
# is made total with (ts_us, event_id) so duplicate timestamps cannot
# flip runs between engines.


@query(
    "etl_scd2_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, epoch_us(ts) AS t_us, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), runs AS (
      SELECT user_id, event_type, t_us, event_id,
             sum(chg) OVER (PARTITION BY user_id
                            ORDER BY t_us, event_id
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM ordered
    ), collapsed AS (
      SELECT user_id, run_id,
             min(event_type) AS state,
             min(t_us) AS valid_from_us,
             count(*) AS n_events
      FROM runs GROUP BY user_id, run_id
    )
    SELECT user_id, CAST(run_id AS BIGINT) AS version, state, valid_from_us,
           lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run_id)
             AS valid_to_us,
           n_events,
           (lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run_id)
             IS NULL) AS is_current
    FROM collapsed
    ORDER BY user_id, version
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history of each user's event-type state — see block
    comment for the one-shuffle plan shape and the total-order rule."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts_us").alias("t_us"),
        "event_id",
    )
    w = W.partitionBy("user_id").orderBy("t_us", "event_id")
    chg = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    runs = ev.withColumn("chg", chg).withColumn(
        "run_id", F.sum("chg").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    collapsed = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("state"),
        F.min("t_us").alias("valid_from_us"),
        F.count("*").alias("n_events"),
    )
    wv = W.partitionBy("user_id").orderBy("run_id")
    valid_to = F.lead("valid_from_us").over(wv)
    return (
        collapsed.select(
            "user_id",
            F.col("run_id").cast("bigint").alias("version"),
            "state",
            "valid_from_us",
            valid_to.alias("valid_to_us"),
            "n_events",
            valid_to.isNull().alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


# --- unstructured text-log ingestion ----------------------------------------
# The log-parsing shape: structured rows rendered to an Apache-style text
# log, ingested back via spark.read.text + regexp_extract per field. The
# oracle aggregates the ORIGINAL events table, so the hash-match proves
# the render→parse cycle is lossless — including doubles, which survive
# because Spark's double→string is shortest-round-trip and the parse
# casts it straight back. At 100 TB this is the classic raw-ingest ELT
# step: schema-on-read, one narrow map per line, no shuffle until the
# aggregation.

_LOG_RE = r"^\[(-?[0-9]+)\] user=([0-9]+) type=([a-z]+) value=([^ ]+) id=([0-9]+)$"


@query(
    "src_text_logparse",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(user_id AS BIGINT)) AS BIGINT) AS sum_users,
           floor((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)) * 100.0 + 0.5) / 100.0 AS sum_value
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
      AND event_id IS NOT NULL AND regexp_matches(event_type, '^[a-z]+$')
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def text_logparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render events to text log lines, re-ingest with regexp schema-on-
    read, aggregate — hash-checked against the pre-render table.

    Dead-letter contract for dirty rows, identical in both engines: a row
    with any NULL field cannot render (concat null-propagates), and a
    rendered line whose event_type is not ^[a-z]+$ fails the parse regex;
    both are dropped, not crashed on — the oracle models the same
    predicate over the original table. The regexp-group casts are safe
    under ANSI only BECAUSE the rlike gate guarantees numeric groups."""
    ev = load_table(spark, sf_dir, "events")
    line = F.concat(
        F.lit("["), F.col("ts_us").cast("string"), F.lit("] user="),
        F.col("user_id").cast("string"), F.lit(" type="), F.col("event_type"),
        F.lit(" value="), F.col("value").cast("string"), F.lit(" id="),
        F.col("event_id").cast("string"),
    )
    path = os.path.join(_scratch(), "events_textlog")
    ev.select(line.alias("value")).filter(F.col("value").isNotNull()).write.mode(
        "overwrite"
    ).text(path)
    raw = spark.read.text(path)
    parsed = raw.filter(F.col("value").rlike(_LOG_RE)).select(
        F.regexp_extract("value", _LOG_RE, 2).cast("bigint").alias("user_id"),
        F.regexp_extract("value", _LOG_RE, 3).alias("event_type"),
        F.regexp_extract("value", _LOG_RE, 4).cast("double").alias("value"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("user_id").cast("bigint").alias("sum_users"),
            round_half_up(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2
            ).alias("sum_value"),
        )
        .orderBy("event_type")
    )


# --- corrupt-tolerant CSV ingestion -----------------------------------------
# Production CSV feeds are dirty. This query renders events to CSV,
# CORRUPTS a deterministic subset of rows (event_id % 97 == 0 → the
# numeric value field becomes "###"), reads the feed back in PERMISSIVE
# mode with a columnNameOfCorruptRecord sink column, and reports good/bad
# row counts plus per-class aggregates. The corruption rule is pure
# SQL, so the oracle derives the same partition from the ORIGINAL table —
# hash-matching proves PERMISSIVE's exact contract: malformed rows are
# quarantined with their PARSEABLE fields recovered (user_id still sums)
# while only the malformed field nulls out, and every clean row survives
# ingestion losslessly. Schema-on-read with an explicit schema, one narrow pass; at
# 100 TB the corrupt column routes to a dead-letter sink instead of a
# count.


@query(
    "src_csv_corrupt_tolerant",
    oracle="""
    SELECT (event_id % 97 = 0) AS is_corrupt,
           count(*) AS n_rows,
           CAST(sum(user_id) AS BIGINT) AS sum_users,
           floor((CAST(sum(CASE WHEN event_id % 97 = 0 THEN CAST(0 AS DECIMAL(18,6))
                                ELSE CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)) * 100.0 + 0.5) / 100.0
             AS sum_value
    FROM events
    GROUP BY 1
    ORDER BY is_corrupt
    """,
)
def csv_corrupt_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingestion with corrupt-record quarantine — see the
    block comment for the deterministic corruption rule and the oracle
    contract."""
    ev = load_table(spark, sf_dir, "events")
    corrupt = F.col("event_id") % 97 == 0

    # NULL fields must render as EMPTY cells, keeping column positions.
    # concat_ws SKIPS NULL arguments, so a NULL user_id used to shift the
    # value into the user column ("100004,1.5") and PERMISSIVE quarantined
    # a row the corruption rule never touched (tools/adversarial_run.py).
    def cell(c):
        return F.coalesce(c.cast("string"), F.lit(""))

    line = F.concat(
        cell(F.col("event_id")),
        F.lit(","),
        cell(F.col("user_id")),
        F.lit(","),
        # corrupted rows emit a non-numeric value field
        F.when(corrupt, F.lit("###")).otherwise(cell(F.col("value"))),
    )
    path = os.path.join(_scratch(), "events_dirty_csv")
    ev.select(line.alias("value")).write.mode("overwrite").text(path)
    schema = "event_id bigint, user_id bigint, value double, _bad string"
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(path)
    )
    return (
        back.groupBy(F.col("_bad").isNotNull().alias("is_corrupt"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.coalesce("user_id", F.lit(0))).cast("bigint").alias("sum_users"),
            round_half_up(
                F.sum(
                    F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,6)")
                ).cast("double"),
                2,
            ).alias("sum_value"),
        )
        .orderBy("is_corrupt")
    )
