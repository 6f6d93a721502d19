"""TF-IDF without MLlib: term/document frequencies as plain aggregations,
idf = ln((N+1)/(df+1)) + 1 (smoothed), top-3 terms per doc by tf·idf —
fully SQL-expressible, so oracle-checked. Also ntile/percent_rank/cume_dist
window functions and vector-norm arithmetic over the embedding arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sqload_spark.functions.rounding import round_half_up, sql_round_half_up
from sqload_spark.functions.text_funcs import tokens
from sqload_spark.functions.vectors import EMB_SQL, norm, to_double_array
from sqload_spark.registry import query
from sqload_spark.sources.tables import load_embeddings, load_table, load_vectors


@query(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE doc_id < 100
    ), tfc AS (
      SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tfc GROUP BY term
    ), n AS (
      SELECT count(*) AS n_docs FROM documents WHERE doc_id < 100
    ), scored AS (
      SELECT tfc.doc_id, tfc.term,
             tfc.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS tfidf
      FROM tfc JOIN df USING (term) CROSS JOIN n
    ), ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    )
    SELECT doc_id, term, {sql_round_half_up("tfidf", 4)} AS tfidf, rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic two-aggregation TF-IDF: both tf and df are map-side-partial
    hash aggs; df (vocabulary-sized) broadcasts back onto tf."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    terms = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))  # stays a lazy 1-row plan
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0)).alias(
                "tfidf_raw"
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf_raw").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", round_half_up(F.col("tfidf_raw"), 4).alias("tfidf"), "rnk")
        .orderBy("doc_id", "rnk")
    )


@query(
    "q_window_distribution",
    oracle=f"""
    SELECT o_orderkey,
           ntile(4)       OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice NULLS LAST, o_orderkey) AS price_quartile,
           {sql_round_half_up(
               "percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice NULLS LAST, o_orderkey)", 6)} AS pct_rank,
           {sql_round_half_up(
               "cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice NULLS LAST, o_orderkey)", 6)} AS cume
    FROM orders
    WHERE o_custkey <= 50
    ORDER BY o_orderkey
    """,
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows (ntile / percent_rank / cume_dist) per
    priority. NULLS LAST on the ascending price key — the engine's window
    NULL-ordering contract (see window_running_revenue in relational.py)."""
    od = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.asc_nulls_last("o_totalprice"), "o_orderkey"
    )
    return (
        od.filter(F.col("o_custkey") <= 50)
        .select(
            "o_orderkey",
            F.ntile(4).over(w).alias("price_quartile"),
            round_half_up(F.percent_rank().over(w), 6).alias("pct_rank"),
            round_half_up(F.cume_dist().over(w), 6).alias("cume"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q_vector_norms",
    oracle=f"""
    SELECT label,
           count(*) AS n_vecs,
           {sql_round_half_up(
               "avg(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))))", 4)} AS avg_norm,
           {sql_round_half_up(
               "max(list_sum(list_transform(embedding::DOUBLE[], x -> abs(x))))", 4)} AS max_l1
    FROM {EMB_SQL} AS embeddings
    GROUP BY label
    ORDER BY label
    """,
)
def vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector arithmetic over array<float>: L2/L1 norms per label — array
    fold expressions, no UDFs."""
    emb = load_vectors(spark, sf_dir, "label")
    l1 = F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + F.abs(x))
    return (
        emb.select("label", norm(F.col("v")).alias("l2"), l1.alias("l1"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            round_half_up(F.avg("l2"), 4).alias("avg_norm"),
            round_half_up(F.max("l1"), 4).alias("max_l1"),
        )
        .orderBy("label")
    )


@query(
    "q_array_higher_order",
    oracle=f"""
    SELECT vec_id,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           {sql_round_half_up("list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))", 6)} AS linf,
           CASE WHEN length(list_filter(embedding, x -> abs(x) > 2.5)) > 0
                THEN 1 ELSE 0 END AS has_extreme,
           {sql_round_half_up(
               "list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b)", 6)} AS sq_norm
    FROM {EMB_SQL} AS embeddings
    WHERE vec_id < 100
    ORDER BY vec_id
    """,
)
def array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The higher-order array-function surface in one query: filter /
    transform / exists / aggregate over the embedding arrays (positive
    count, L∞ norm, extreme-value flag, squared norm via a left fold that
    matches DuckDB's list_reduce order). These run per-row with no
    shuffle; the fold order is left-to-right in both engines, so even the
    floating reduction hash-checks."""
    emb = load_embeddings(spark, sf_dir).filter(F.col("vec_id") < 100)
    v = to_double_array("embedding")
    return (
        emb.select(
            "vec_id",
            F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_pos"),
            round_half_up(F.array_max(F.transform(v, lambda x: F.abs(x))), 6).alias("linf"),
            F.when(F.exists(F.col("embedding"), lambda x: F.abs(x) > 2.5), 1)
            .otherwise(0)
            .alias("has_extreme"),
            round_half_up(
                F.aggregate(
                    F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, b: a + b
                ),
                6,
            ).alias("sq_norm"),
        )
        .orderBy("vec_id")
    )
