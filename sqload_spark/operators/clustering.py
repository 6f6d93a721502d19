"""Embedding clustering — the semantic-dedup / corpus-organization layer
of an LLM data pipeline (cluster the corpus, then dedup/curate per
cluster instead of globally).

Three queries over `embeddings` (64-dim float vectors, k = 10 clusters
seeded from the `label` column so everything is deterministic and
DuckDB-oracle-checkable):

* ``q_kmeans_assign`` — the k-means ASSIGNMENT step: nearest-centroid by
  squared L2. The centroid model is k×64 doubles computed in-plan
  (posexplode + groupBy — one bounded shuffle of k×dim cells regardless
  of corpus size), folded into ONE array-of-structs row and
  **broadcast**; assignment is then an `array_min` over per-centroid
  distance structs — pure map-side, no k× row expansion, no window, no
  shuffle of the corpus (measured 4.8× over the expand+window plan at
  sf0.1). No collect anywhere; at 100 TB the scan stays embarrassingly
  parallel — this is how Spark ML's own KMeans scores, re-expressed as
  pure Catalyst expressions.
* ``q_kmeans_refine`` — ONE full Lloyd iteration (assign → recompute
  centroids from the assignment → reassign), reporting per-cluster size
  and exact within-cluster cost. Shows the iterative-algorithm shape:
  each iteration is one bounded (k×dim) shuffle + one broadcast join;
  nothing driver-side grows with the data.
* ``dedup_semantic_representative`` — semantic dedup's pick step: keep
  the single member closest to its centroid per cluster (the
  representative), reporting cluster size. Downstream, "drop all but
  the representative" is the cluster-level analogue of the MinHash
  keep-list (dedup.py).

Float discipline (the repo-standard rules): float32 inputs upcast to
double before any math; centroid cells rounded half-up to 6dp in BOTH
engines before distances (so distance inputs are bit-identical);
distance ORDER BY on 6dp-rounded values with the cluster id as a total
tie-break; sums of distances go through the exact-decimal trick so
partial-aggregation order can't flip a rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sqload_spark.functions.rounding import (
    exact_decimal_sum,
    round_half_up,
    sql_exact_decimal_sum,
    sql_round_half_up,
)
from sqload_spark.functions.vectors import EMB_SQL
from sqload_spark.registry import query
from sqload_spark.sources.tables import load_embeddings, load_vectors

DIM = 64


def _sq_l2(v: Column, c: Column) -> Column:
    """Σ (vᵢ-cᵢ)² — left-to-right fold, deterministic."""
    return F.aggregate(
        F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _centroids_from(df: DataFrame, cluster_col: str) -> DataFrame:
    """(cluster, cvec): mean vector per cluster, cells rounded to 6dp.

    posexplode → groupBy(cluster, pos) is one shuffle of k×DIM cells —
    the only shuffle in the centroid update, independent of corpus size.
    The k×DIM result is small enough to broadcast at any k we'd run."""
    cells = (
        df.select(F.col(cluster_col).alias("cluster"), F.posexplode("v").alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(round_half_up(F.avg("val"), 6).alias("cval"))
    )
    return cells.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))), lambda s: s["cval"]
        ).alias("cvec")
    )


def _assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, cluster, d2): nearest centroid per vector — MAP-SIDE.

    The k-row centroid table is folded into ONE array-of-structs row and
    broadcast, so assignment is a single-row broadcast join plus an
    `array_min` over (round(d2,6), cluster, d2) structs per vector: no
    k× row expansion, no window, no shuffle of the corpus at all. Struct
    comparison is lexicographic, so the rounded-distance/cluster prefix
    is the same total order the oracle's ORDER BY uses — ties can't flip
    between engines."""
    model = cents.groupBy().agg(
        F.collect_list(F.struct("cluster", "cvec")).alias("model")
    )
    scored = F.transform(
        F.col("model"),
        lambda c: F.struct(
            _sq_l2(F.col("v"), c["cvec"]).alias("d2"), c["cluster"].alias("cluster")
        ),
    )
    best = F.array_min(
        F.transform(
            scored,
            lambda s: F.struct(
                round_half_up(s["d2"], 6).alias("d2r"),
                s["cluster"].alias("cluster"),
                s["d2"].alias("d2"),
            ),
        )
    )
    return vecs.join(F.broadcast(model)).select(
        "vec_id",
        "v",
        best["cluster"].alias("cluster"),
        best["d2"].alias("d2"),
    )


# Shared oracle CTEs: label-seeded centroids, then one assignment pass.
# embedding[dim] is 1-based in DuckDB; cells rounded 6dp to match Spark.
_ASSIGN_CTES = f"""
    vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, label FROM {EMB_SQL} AS embeddings
    ), cent_cell AS (
      SELECT label AS cluster, dim,
             {sql_round_half_up("avg(v[dim])", 6)} AS cval
      FROM vecs, range(1, {DIM + 1}) t(dim)
      GROUP BY label, dim
    ), cent AS (
      SELECT cluster, list(cval ORDER BY dim) AS cvec FROM cent_cell GROUP BY cluster
    ), scored AS (
      SELECT e.vec_id, e.v, c.cluster,
             list_sum(list_transform(list_zip(e.v, c.cvec),
                                     p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
      FROM vecs e CROSS JOIN cent c
    ), assigned AS (
      SELECT * FROM (
        SELECT vec_id, v, cluster, d2,
               row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY {sql_round_half_up("d2", 6)}, cluster) AS rn
        FROM scored)
      WHERE rn = 1
    )
"""


@query(
    "q_kmeans_assign",
    oracle=f"""
    WITH {_ASSIGN_CTES}
    SELECT vec_id, cluster, {sql_round_half_up("d2", 4)} AS dist2
    FROM assigned ORDER BY vec_id
    """,
)
def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means assignment: every vector → nearest label-seeded centroid."""
    vecs = load_vectors(spark, sf_dir, "label")
    cents = _centroids_from(
        vecs.select(F.col("label").alias("cluster"), "v"), "cluster"
    )
    return (
        _assign(vecs.select("vec_id", "v"), cents)
        .select("vec_id", "cluster", round_half_up(F.col("d2"), 4).alias("dist2"))
        .orderBy("vec_id")
    )


@query(
    "q_kmeans_refine",
    oracle=f"""
    WITH {_ASSIGN_CTES}, cent_cell2 AS (
      SELECT a.cluster, dim, {sql_round_half_up("avg(a.v[dim])", 6)} AS cval
      FROM assigned a, range(1, {DIM + 1}) t(dim)
      GROUP BY a.cluster, dim
    ), cent2 AS (
      SELECT cluster, list(cval ORDER BY dim) AS cvec FROM cent_cell2 GROUP BY cluster
    ), scored2 AS (
      SELECT e.vec_id, c.cluster,
             list_sum(list_transform(list_zip(e.v, c.cvec),
                                     p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
      FROM vecs e CROSS JOIN cent2 c
    ), assigned2 AS (
      SELECT * FROM (
        SELECT vec_id, cluster, d2,
               row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY {sql_round_half_up("d2", 6)}, cluster) AS rn
        FROM scored2)
      WHERE rn = 1
    )
    SELECT cluster, count(*) AS n_vecs,
           {sql_round_half_up(sql_exact_decimal_sum(sql_round_half_up("d2", 6), 6), 4)} AS cost
    FROM assigned2 GROUP BY cluster ORDER BY cluster
    """,
)
def kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration: assign, recompute centroids, reassign; report
    per-cluster size and within-cluster cost (Σ d2, exact-decimal sum)."""
    vecs = load_vectors(spark, sf_dir, "label")
    cents0 = _centroids_from(
        vecs.select(F.col("label").alias("cluster"), "v"), "cluster"
    )
    a1 = _assign(vecs.select("vec_id", "v"), cents0).select("vec_id", "v", "cluster")
    cents1 = _centroids_from(a1, "cluster")
    a2 = _assign(a1.select("vec_id", "v"), cents1)
    return (
        a2.groupBy("cluster")
        .agg(
            F.count("*").alias("n_vecs"),
            round_half_up(exact_decimal_sum(round_half_up(F.col("d2"), 6), scale=6), 4).alias("cost"),
        )
        .orderBy("cluster")
    )


@query(
    "dedup_semantic_representative",
    oracle=f"""
    WITH {_ASSIGN_CTES}
    SELECT cluster, vec_id AS rep_vec_id, n_members FROM (
      SELECT cluster, vec_id, count(*) OVER (PARTITION BY cluster) AS n_members,
             row_number() OVER (
               PARTITION BY cluster
               ORDER BY {sql_round_half_up("d2", 6)}, vec_id) AS rn
      FROM assigned)
    WHERE rn = 1 ORDER BY cluster
    """,
)
def semantic_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, pick step: the member nearest its centroid is the
    cluster's representative; everything else is a candidate to drop."""
    vecs = load_vectors(spark, sf_dir, "label")
    cents = _centroids_from(
        vecs.select(F.col("label").alias("cluster"), "v"), "cluster"
    )
    a = _assign(vecs.select("vec_id", "v"), cents)
    # argmin per cluster as min(struct(...)) — an ALGEBRAIC aggregate with
    # map-side partials (one k-row shuffle), where a window over the
    # cluster key would shuffle the whole corpus onto k reducers
    return (
        a.groupBy("cluster")
        .agg(
            F.min(
                F.struct(round_half_up(F.col("d2"), 6).alias("d2r"), F.col("vec_id").alias("vec_id"))
            ).alias("best"),
            F.count("*").alias("n_members"),
        )
        .select("cluster", F.col("best.vec_id").alias("rep_vec_id"), "n_members")
        .orderBy("cluster")
    )


# --- distributed Gram matrix (the PCA / linear-probe building block) -------
#
# Covariance-style second-moment computation G = Xᵀ X over the embedding
# corpus. The scalable shape is MAP-SIDE MATRIX PARTIALS: each Arrow batch
# computes its local 64×64 outer-product sum with one BLAS matmul
# (numpy), emits the matrix as dim² cells, and one tiny groupBy merges the
# partials — shuffle volume is partitions × dim² cells, independent of
# corpus size. This is exactly how distributed PCA / linear probes / whitening
# matrices are computed over a 100 TB embedding table.
#
# Float discipline: per-ROW products are rounded to fixed-point 1e-12
# int64 before ANY summation (numpy does it vectorized per batch), so the
# partial sums are exact integers and the merged total is independent of
# partitioning and summation order — that is what makes an oracle hash
# possible for a mapInPandas matrix kernel. Headroom (ADVICE r4 fix): at
# |x| < 1 each per-row cell is < 1e12, so n rows sum to < n·1e12 — int64
# (9.2e18) overflows only past ~9M worst-case rows; beyond that, drop the
# fixed point to 1e-9 (headroom to ~9G rows) or accumulate two-level
# (int64 within a partition, arbitrary-precision across partials). The
# sums can exceed double's 2^53 long before int64 overflows, but both
# engines apply the identical cast-to-double only at display, after the
# exact integer merge, so the 6-decimal hash still matches.
GRAM_FP = 1_000_000_000_000  # 1e12 fixed-point


@query(
    "q_embedding_gram",
    oracle=f"""
    SELECT CAST(i.i AS INTEGER) AS i, CAST(j.j AS INTEGER) AS j,
           {sql_round_half_up(
               "CAST(sum(CAST(floor(CAST(embedding[i.i] AS DOUBLE) * "
               "CAST(embedding[j.j] AS DOUBLE) * "
               f"{GRAM_FP} + 0.5) AS BIGINT)) AS DOUBLE) / {GRAM_FP}", 6)} AS gram
    FROM {EMB_SQL} AS embeddings,
         generate_series(1, {DIM}) i(i),
         generate_series(1, {DIM}) j(j)
    WHERE j.j >= i.i
    GROUP BY 1, 2
    ORDER BY i, j
    """,
)
def embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix Xᵀ X (upper triangle) via mapInPandas
    BLAS partials + exact fixed-point merge; the DuckDB oracle expands
    the same cells relationally. See the block comment above for the
    100 TB design and the float discipline that makes this hash-checkable."""
    import numpy as np
    import pandas as pd

    iu, ju = np.triu_indices(DIM)
    cells = len(iu)

    def _partial_gram(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            # per-row fixed-point rounding BEFORE the sum (exactness);
            # floor(x+0.5) == the repo's cross-engine half-up rule
            prods = x[:, iu] * x[:, ju]                       # n × cells
            ints = np.floor(prods * GRAM_FP + 0.5).astype(np.int64)
            sums = ints.sum(axis=0)                           # exact int64
            yield pd.DataFrame(
                {"i": (iu + 1).astype(np.int32), "j": (ju + 1).astype(np.int32),
                 "cell": sums}
            )

    emb = load_embeddings(spark, sf_dir).select("embedding")
    partials = emb.mapInPandas(_partial_gram, schema="i int, j int, cell long")
    return (
        partials.groupBy("i", "j")
        .agg(F.sum("cell").alias("cell_total"))
        .select(
            "i", "j",
            round_half_up(
                F.col("cell_total").cast("double") / F.lit(float(GRAM_FP)), 6
            ).alias("gram"),
        )
        .orderBy("i", "j")
    )
