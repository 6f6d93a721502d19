"""Custom operator shapes Spark has no single primitive for, composed from
built-ins: range (interval) join, hypertable-style multi-resolution rollup,
and a hand-rolled Count-Min sketch as a groupBy composition.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sqload_spark.functions import hashing
from sqload_spark.functions.rounding import round_half_up, sql_round_half_up
from sqload_spark.operators.timeseries import US_PER_SEC
from sqload_spark.registry import query
from sqload_spark.sources.tables import load_table

# price bands for the range join — a literal dimension, broadcast by nature
PRICE_BANDS = [
    ("budget", 0.0, 10_000.0),
    ("mid", 10_000.0, 50_000.0),
    ("premium", 50_000.0, 90_000.0),
    ("luxury", 90_000.0, 1e12),
]


@query(
    "q_range_join_bands",
    oracle=f"""
    WITH bands(band, lo, hi) AS (
      VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in PRICE_BANDS)}
    )
    SELECT band, count(*) AS n_items,
           {sql_round_half_up("avg(l_quantity)", 4)} AS avg_qty
    FROM lineitem JOIN bands ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY band
    ORDER BY band
    """,
)
def range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join: fact rows against a banded
    dimension on a non-equi predicate. Spark plans this as
    BroadcastNestedLoopJoin when the band side is broadcast — the right
    physical shape, since every fact row matches exactly one band and the
    band table is tiny. (For two LARGE interval sets the composition is
    bucketized overlap-join: assign both sides to fixed-width buckets,
    equi-join on bucket, post-filter — same pattern as the IVF search.)"""
    li = load_table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(PRICE_BANDS, "band string, lo double, hi double")
    return (
        li.join(
            F.broadcast(bands),
            (F.col("l_extendedprice") >= F.col("lo")) & (F.col("l_extendedprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n_items"), round_half_up(F.avg("l_quantity"), 4).alias("avg_qty"))
        .orderBy("band")
    )


@query(
    "ts_multires_rollup",
    oracle=f"""
    WITH res(resolution, bucket_s) AS (VALUES ('1m', 60), ('10m', 600), ('1h', 3600))
    SELECT resolution,
           (epoch_us(ts) // (bucket_s::BIGINT * {US_PER_SEC})) * bucket_s AS ws_sec,
           count(*) AS n_events,
           {sql_round_half_up("sum(value)", 2)} AS sum_value
    FROM events CROSS JOIN res
    GROUP BY 1, 2
    ORDER BY resolution, ws_sec
    """,
)
def multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate shape: one pass produces the
    1-minute, 10-minute and 1-hour rollups together (explode the resolution
    dimension, bucket, aggregate). At scale this materializes the rollup
    hierarchy in a single shuffle instead of three scans; finer levels can
    also be re-aggregated into coarser ones without touching raw data."""
    ev = load_table(spark, sf_dir, "events")
    res = spark.createDataFrame([("1m", 60), ("10m", 600), ("1h", 3600)], "resolution string, bucket_s long")
    return (
        ev.crossJoin(F.broadcast(res))
        .groupBy(
            "resolution",
            (F.expr(f"ts_us div (bucket_s * {US_PER_SEC})") * F.col("bucket_s")).alias("ws_sec"),
        )
        .agg(F.count("*").alias("n_events"), round_half_up(F.sum("value"), 2).alias("sum_value"))
        .orderBy("resolution", "ws_sec")
    )


CMS_DEPTH = 4
CMS_WIDTH = 256


def _xxhash_cell(key: str) -> Column:
    """The (d, key) Count-Min cell of sketch_count_min: xxhash64, mod width."""
    return F.pmod(F.xxhash64(key, "d"), F.lit(CMS_WIDTH))


def _md5_cell(key: str) -> Column:
    """sketch_cms_checked's cell: the md5 bucket of 'd|key', which DuckDB
    recomputes (``_duck_md5_cell``)."""
    key = f"concat(CAST(d AS STRING), '|', CAST({key} AS STRING))"
    return F.expr(hashing.spark_md5_bucket(key, CMS_WIDTH))


def _duck_md5_cell(key: str) -> str:
    return hashing.duck_md5_bucket(f"CAST(d AS VARCHAR) || '|' || CAST({key} AS VARCHAR)", CMS_WIDTH)


def _depths() -> Column:
    return F.explode(F.array(*[F.lit(j) for j in range(CMS_DEPTH)])).alias("d")


def count_min_table(df: DataFrame, key: str, cell: Callable[[str], Column] = _xxhash_cell) -> DataFrame:
    """Build a Count-Min sketch as a (depth × width) counts table: one
    explode to depth rows per input, one groupBy. Mergeable (sum cells),
    constant size, one pass — the sketch-as-composition pattern. ``cell``
    places a key column's value in row ``d``."""
    # Count per DISTINCT key first, then hash each key depth times and sum
    # (r11, guide §2.3): the (d, w) cell count is the sum of per-key counts
    # over keys hashing there, so the explode runs over |keys| rows instead
    # of |rows| — the depth-fold shuffle shrinks from rows × depth to
    # keys × depth with bit-identical cells (the per-key count aggregation
    # is map-side partial).
    key_counts = df.groupBy(F.col(key).alias("k")).agg(F.count("*").alias("kc"))
    rows = key_counts.select(_depths(), "k", "kc").select("d", cell("k").alias("w"), "kc")
    return rows.groupBy("d", "w").agg(F.sum("kc").alias("c"))


def _cms_probes(li: DataFrame, cell: Callable[[str], Column]) -> DataFrame:
    """(probe_key, cms_estimate, exact_count) for the supplier keys 1..10:
    the min-over-depth estimate of lineitem's l_suppkey sketch under
    ``cell``, next to the exact count (0 for an absent key)."""
    cms = count_min_table(li, "l_suppkey", cell)
    probes = li.sparkSession.range(1, 11).select(F.col("id").alias("probe_key"))
    probe_cells = probes.select("probe_key", _depths()).select(
        "probe_key", "d", cell("probe_key").alias("w")
    )
    estimates = (
        probe_cells.join(cms, ["d", "w"], "left")
        .fillna(0, subset=["c"])
        .groupBy("probe_key")
        .agg(F.min("c").alias("cms_estimate"))
    )
    exact = (
        li.filter(F.col("l_suppkey").between(1, 10))
        .groupBy(F.col("l_suppkey").alias("probe_key"))
        .agg(F.count("*").alias("exact_count"))
    )
    return estimates.join(exact, "probe_key", "left").fillna(0, subset=["exact_count"])


@query(
    "sketch_count_min",
    oracle="""
    WITH probes AS (SELECT range AS probe_key FROM range(1, 11)),
         exact AS (
           SELECT l_suppkey AS probe_key, CAST(count(*) AS BIGINT) AS exact_count
           FROM lineitem WHERE l_suppkey BETWEEN 1 AND 10 GROUP BY l_suppkey
         )
    SELECT p.probe_key,
           CAST(COALESCE(e.exact_count, 0) AS BIGINT) AS exact_count,
           TRUE AS never_underestimates,
           TRUE AS within_eps
    FROM probes p LEFT JOIN exact e USING (probe_key)
    ORDER BY probe_key
    """,
)
def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min estimates for the supplier keys 1..10 over lineitem, as a
    CHECKED twin (the q_approx_count_distinct recipe): the raw estimate is
    xxhash64-placed so it has no DuckDB twin, but the CMS CONTRACT does —
    `never_underestimates` (exact ≤ estimate, a deterministic property of
    the structure, not a probabilistic one) and `within_eps`
    (estimate ≤ exact + (e/width)·N, deterministic on fixed data). The
    oracle asserts both booleans hold by construction; any sketch
    regression flips one to a hash mismatch. The raw-estimate law stays in
    tests/test_sketches.py. The md5-placed fully-hash-checked variant is
    sketch_cms_checked below."""
    li = load_table(spark, sf_dir, "lineitem")
    n_total = li.agg(F.count("*").alias("n_total"))
    return (
        _cms_probes(li, _xxhash_cell)
        .crossJoin(F.broadcast(n_total))
        .select(
            "probe_key",
            "exact_count",
            (F.col("cms_estimate") >= F.col("exact_count")).alias("never_underestimates"),
            (
                F.col("cms_estimate") - F.col("exact_count")
                <= 2.72 / CMS_WIDTH * F.col("n_total")
            ).alias("within_eps"),
        )
        .orderBy("probe_key")
    )


@query(
    "sketch_hll_merge",
    oracle=f"""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(count(DISTINCT
             {hashing.duck_md5_bucket(hashing.duck_salted("hll", "l_orderkey"), 8)}
           ) AS BIGINT) AS n_shards,
           TRUE AS merge_consistent,
           TRUE AS merged_within_bound,
           TRUE AS direct_within_bound
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (DataSketches HLL via
    hll_sketch_agg / hll_union_agg): each md5-bucketed shard of lineitem
    builds an HLL sketch of its order keys; a second level unions the
    shard sketches per return flag. The union of HLL registers is the
    sketch of the union, so merging loses nothing structurally — but the
    ESTIMATOR differs: an un-merged sketch answers with the HIP estimator,
    a union must fall back to the composite estimator, so the merged and
    direct estimates differ by a fraction of a percent while BOTH sit
    inside the lgK=12 error bound of the exact count (measured at sf0.01:
    merged ≤1.7% off, direct ≤1.1%; tests/test_sketches.py asserts the
    raw-estimate bounds). This is the 100 TB distinct-count shape: shards
    stream in, bytes-sized states merge, history is never rescanned.

    CHECKED twin (the q_approx_count_distinct recipe): the raw estimates
    are engine-specific so the result carries the exact count, the shard
    fan-out (md5-placed, so DuckDB recomputes it bit-for-bit), and three
    deterministic contract booleans — merged≈direct within 3%, each within
    5% of exact — that the oracle asserts hold by construction."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    shard = F.expr(hashing.spark_md5_bucket(hashing.spark_salted("hll", "l_orderkey"), 8))
    partials = (
        li.withColumn("shard", shard)
        .groupBy("l_returnflag", "shard")
        .agg(F.hll_sketch_agg("l_orderkey", F.lit(12)).alias("sk"))
    )
    # count("shard"), not count("*"): a NULL l_orderkey hashes to a NULL
    # shard, and the oracle's count(DISTINCT shard_expr) ignores NULL —
    # count("*") over the per-shard groups would count the NULL-shard group
    # and drift off by one on any corpus with NULL keys (ADVICE r6).
    merged = partials.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_estimate"),
        F.count("shard").alias("n_shards"),
    )
    direct = li.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_orderkey", F.lit(12))).alias("direct_estimate"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    # Null-safe rekey (adversarial part 3): the merged and direct halves
    # are re-joined on the GROUP key, and group keys can be NULL — a plain
    # equi-join silently drops the NULL-flag group (NULL != NULL) that the
    # single-scan oracle keeps. Any aggregate-then-rejoin-on-group-key
    # pattern needs <=> on the key.
    direct = direct.withColumnRenamed("l_returnflag", "rf_direct")
    return (
        merged.join(direct, F.col("l_returnflag").eqNullSafe(F.col("rf_direct")))
        .drop("rf_direct")
        .select(
            "l_returnflag",
            "exact_orders",
            "n_shards",
            (
                F.abs(F.col("merged_estimate") - F.col("direct_estimate"))
                <= 0.03 * F.col("direct_estimate")
            ).alias("merge_consistent"),
            (
                F.abs(F.col("merged_estimate") - F.col("exact_orders"))
                <= 0.05 * F.col("exact_orders")
            ).alias("merged_within_bound"),
            (
                F.abs(F.col("direct_estimate") - F.col("exact_orders"))
                <= 0.05 * F.col("exact_orders")
            ).alias("direct_within_bound"),
        )
        .orderBy("l_returnflag")
    )


# Exact mergeable histogram sketch: equi-width bin counts are an algebraic
# aggregate — shard sketches merge by vector addition with NO approximation,
# unlike CMS/HLL. The three-way oracle (shard → merge ≡ direct) is exact.
HIST_MERGE_BINS = 20
HIST_MERGE_SHARDS = 4


@query(
    "sketch_histogram_merge",
    oracle=f"""
    WITH lo_hi AS (
      SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
    ), binned AS (
      SELECT o_orderkey % {HIST_MERGE_SHARDS} AS shard,
             least({HIST_MERGE_BINS} - 1,
                   CAST(floor((o_totalprice - l.lo) / ((l.hi - l.lo) / {HIST_MERGE_BINS})) AS BIGINT)
             ) AS bin
      FROM orders, lo_hi l
    ), shard_sketch AS (
      SELECT shard, bin, count(*) AS n FROM binned GROUP BY shard, bin
    )
    SELECT bin,
           CAST(sum(n) AS BIGINT) AS merged_n,
           count(*) AS n_shards_present
    FROM shard_sketch
    GROUP BY bin
    ORDER BY bin
    """,
)
def histogram_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram sketch: each shard builds an equi-width bin
    vector, the coordinator merges by addition — the EXACT member of the
    mergeable-summaries family (CMS and HLL trade exactness for space;
    bin counts don't have to). The oracle replays shard → merge and the
    merged counts must equal the direct histogram bit-for-bit. At 100 TB
    this is the two-level aggregation every distributed profiler runs; the
    bin range comes from one broadcast min/max frame."""
    od = load_table(spark, sf_dir, "orders")
    lo_hi = od.agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
    binned = od.crossJoin(F.broadcast(lo_hi)).select(
        (F.col("o_orderkey") % HIST_MERGE_SHARDS).alias("shard"),
        F.least(
            F.lit(HIST_MERGE_BINS - 1),
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / HIST_MERGE_BINS)
            ).cast("bigint"),
        ).alias("bin"),
    )
    shard_sketch = binned.groupBy("shard", "bin").agg(F.count("*").alias("n"))
    return (
        shard_sketch.groupBy("bin")
        .agg(
            F.sum("n").cast("bigint").alias("merged_n"),
            F.count("*").alias("n_shards_present"),
        )
        .orderBy("bin")
    )


# md5-based CMS twin: same construction as sketch_count_min but the cell
# hash is md5-derived, which DuckDB can replicate — so the ENTIRE sketch
# (table build, point queries, min-over-depth estimator, and its
# overestimate vs the exact counts) is hash-checked, not just law-tested.
@query(
    "sketch_cms_checked",
    oracle=f"""
    WITH cells AS (
      SELECT t.d, {_duck_md5_cell("l.l_suppkey")} AS w, count(*) AS c
      FROM lineitem l, range(0, {CMS_DEPTH}) t(d)
      GROUP BY 1, 2
    ), probes AS (
      SELECT p.probe_key, t.d, {_duck_md5_cell("p.probe_key")} AS w
      FROM range(1, 11) p(probe_key), range(0, {CMS_DEPTH}) t(d)
    ), est AS (
      SELECT p.probe_key, min(coalesce(c.c, 0)) AS cms_estimate
      FROM probes p LEFT JOIN cells c ON p.d = c.d AND p.w = c.w
      GROUP BY p.probe_key
    ), exact AS (
      SELECT l_suppkey AS probe_key, count(*) AS exact_count
      FROM lineitem WHERE l_suppkey BETWEEN 1 AND 10 GROUP BY 1
    )
    SELECT e.probe_key AS probe_key, CAST(e.cms_estimate AS BIGINT) AS cms_estimate,
           CAST(coalesce(x.exact_count, 0) AS BIGINT) AS exact_count
    FROM est e LEFT JOIN exact x ON e.probe_key = x.probe_key
    ORDER BY e.probe_key
    """,
)
def sketch_cms_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch with md5 cell hashing — the exact cross-engine
    twin of sketch_count_min. Both engines build the identical
    (depth × width) counts table and answer identical point queries, so
    the sketch's overestimation behavior itself is part of the checked
    contract (estimate ≥ exact always; the gap is the collision mass).
    Same scale shape: one explode to depth rows, one bounded groupBy,
    probes join the broadcast-sized sketch."""
    li = load_table(spark, sf_dir, "lineitem")
    return _cms_probes(li, _md5_cell).orderBy("probe_key")
