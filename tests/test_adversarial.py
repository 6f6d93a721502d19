"""Dirty-data robustness laws (the fast half of tools/adversarial_run.py).

The full tool rebuilds a dirty corpus and re-runs all 193 oracles (~10
min); these tests lock the individual guard behaviors at unit cost so a
regression shows up in CI, not only in the heavy geometry. Every law here
was a real stage-killing failure or silent cross-engine divergence on the
first adversarial run (BASELINE.md round-6 hardening section) — Spark 4
runs ANSI mode by default, where division by zero and out-of-range
element_at raise instead of returning NULL.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from sqload_spark.functions.text_funcs import shingles, rolling_fingerprints, tokens
from sqload_spark.functions.vectors import EMB_VALID_SQL, valid_embedding


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_shingles_empty_for_short_and_null_docs(spark):
    """Sub-n-token docs (and NULL text) yield an EMPTY shingle set — the
    DuckDB oracle comprehension semantics — and never raise under ANSI."""
    df = _docs(
        spark,
        [
            (1, "a"),
            (2, "a b"),
            (3, "a b c"),
            (4, ""),
            (5, None),
            (6, "w x y z"),
        ],
    )
    out = {
        r.doc_id: r.sh
        for r in df.select("doc_id", shingles("text", 3).alias("sh")).collect()
    }
    assert out[1] == [] and out[2] == [] and out[4] == []
    assert out[5] == []  # NULL text → empty, not NULL/raise
    assert out[3] == ["a b c"]
    assert sorted(out[6]) == ["w x y z"[0:5], "x y z"]  # "w x y", "x y z"


def test_rolling_fingerprints_short_doc_fallback(spark):
    """The winnowing fingerprint keeps the oracle's short-doc fallback
    (one partial span, concat_ws skipping past-the-end NULLs) instead of
    raising under ANSI."""
    df = _docs(spark, [(1, "a b"), (2, None), (3, "a b c d e")])
    out = {
        r.doc_id: r.fp
        for r in df.select(
            "doc_id", rolling_fingerprints("text").alias("fp")
        ).collect()
    }
    assert len(out[1]) == 1  # one partial-span hash, no crash
    assert len(out[2]) == 1  # NULL text → md5("") span, same in DuckDB
    assert len(out[3]) == 2  # two full 4-token spans


def _padded(*head: float) -> list[float]:
    """A contract-width (EMB_DIM) vector starting with the given values."""
    from sqload_spark.functions.vectors import EMB_DIM

    return list(head) + [0.0] * (EMB_DIM - len(head))


def test_valid_embedding_contract(spark):
    """Zero-norm, NULL, >1e6-magnitude, NaN, and WRONG-WIDTH vectors are
    excluded; tiny, negative, duplicate and one-hot vectors are kept. The
    width conjunct is part of the contract (round-7 review): the hot paths
    are flat EMB_DIM-term expanded sums, so a short vector would raise
    under ANSI and a long one would silently truncate — the filter drops
    both instead."""
    rows = [
        (1, _padded()),               # zero norm
        (2, None),                    # NULL
        (3, _padded(2e6)),            # over-magnitude
        (4, _padded(1e-30)),          # denormal-tiny: kept
        (5, _padded(-1.0, -1.0)),     # negative: kept
        (6, _padded(1.0)),            # one-hot: kept
        (7, _padded(float("nan"), 1.0)),  # NaN
        (8, [1.0, 0.0]),              # too short (wrong width)
        (9, _padded(1.0) + [0.0]),    # too long (wrong width)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    kept = sorted(
        r.vec_id for r in df.filter(valid_embedding("embedding")).collect()
    )
    assert kept == [4, 5, 6]


def test_valid_embedding_sql_twin_matches():
    """The DuckDB predicate keeps exactly the same vectors (including the
    NULL-first-conjunct guard that shields list_dot_product and the
    EMB_DIM width conjunct)."""
    import duckdb

    def lit(vec):
        if vec is None:
            return "NULL"
        vals = ", ".join("'nan'::FLOAT" if v != v else repr(v) for v in vec)
        return f"[{vals}]"

    rows = [
        (1, _padded()),
        (2, None),
        (3, _padded(2e6)),
        (4, _padded(1e-30)),
        (5, _padded(-1.0, -1.0)),
        (6, _padded(1.0)),
        (7, _padded(float("nan"), 1.0)),
        (8, [1.0, 0.0]),
        (9, _padded(1.0) + [0.0]),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (vec_id BIGINT, embedding FLOAT[])")
    con.execute(
        "INSERT INTO t VALUES "
        + ", ".join(f"({i}, {lit(v)})" for i, v in rows)
    )
    kept = [r[0] for r in con.execute(f"SELECT vec_id FROM t WHERE {EMB_VALID_SQL} ORDER BY vec_id").fetchall()]
    assert kept == [4, 5, 6]


def test_quality_udfs_null_text_row():
    """The pandas UDF feature builder emits the oracle's all-NULL row for
    NULL text instead of crashing the Arrow batch."""
    from sqload_spark.operators.udf_variants import _quality_features

    # call the wrapped python function directly on a pandas Series
    fn = _quality_features.func
    out = fn(pd.Series(["a b a", None, ""]))
    assert out.iloc[1].isna().all()
    assert out.iloc[0]["n_tokens"] == 3
    assert out.iloc[2]["n_tokens"] == 1  # "".split(" ") == [""] in all engines


def test_decode_features_null_payload_row():
    """mapInPandas decode: a NULL payload (NULL text upstream) yields its
    doc_id with an all-NULL feature row instead of killing the stage; an
    empty payload still decodes."""
    from sqload_spark.operators.multimodal import _extract_features

    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "payload": [b"abc", None, b""], "format": ["jpeg", "png", "webp"]}
    )
    out = pd.concat(list(_extract_features(iter([pdf]))), ignore_index=True)
    assert list(out.doc_id) == [1, 2, 3]
    assert out.iloc[1][["width", "height", "mean_byte", "n_frames"]].isna().all()
    assert out.iloc[0].mean_byte == 98.0 and 64 <= out.iloc[0].width < 576
    assert out.iloc[2].mean_byte == 0.0 and out.iloc[2].n_frames >= 1


# ---------------------------------------------------------------------------
# Part-3 guards: dirty TPC-H fact rows (NULL sort/group keys, hive partition
# collapse, dialect-split JDBC NULLs, off-domain math). Each law below was a
# real mismatch or stage kill on the first part-3 adversarial run.
# ---------------------------------------------------------------------------


def test_window_null_ordering_contract(spark):
    """The engine's window contract is NULLS LAST on ascending keys: a NULL
    sort key enters a running sum LAST (DuckDB's default placement), not
    first (Spark's ASC default, which silently shifts every running value
    in the partition)."""
    from pyspark.sql import Window as W

    df = spark.createDataFrame(
        [(1, None, 100.0), (1, "1995-01-02", 10.0), (1, "1995-01-01", 1.0)],
        "k bigint, d string, v double",
    )
    w = (
        W.partitionBy("k")
        .orderBy(F.asc_nulls_last("d"), "v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run = {
        (r.d or "<null>"): r.run
        for r in df.select("d", F.sum("v").over(w).alias("run")).collect()
    }
    assert run["1995-01-01"] == 1.0 and run["1995-01-02"] == 11.0
    assert run["<null>"] == 111.0  # the NULL row accumulates last


def test_duckdb_default_null_order_is_last():
    """The oracle side of the contract: DuckDB's default null ordering is
    NULLS LAST for ascending sorts (so the Spark-side asc_nulls_last
    modifier makes the engines agree without touching every oracle). If a
    DuckDB upgrade flipped this default, this canary fails before any
    oracle does."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT v FROM (VALUES (2), (NULL), (1)) t(v) ORDER BY v"
    ).fetchall()
    assert [r[0] for r in rows] == [1, 2, None]
    # the DESC half of the contract: the code relies on 'DESC keys already
    # agree' (both engines default NULLS LAST on descending sorts, where
    # Spark's default is desc_nulls_last too), so pin it — a DuckDB move to
    # the Postgres-style relative default (NULLS FIRST on DESC) would
    # silently diverge every DESC window tie-break over a nullable key
    # while the ASC canary above still passed
    rows = con.execute(
        "SELECT v FROM (VALUES (2), (NULL), (1)) t(v) ORDER BY v DESC"
    ).fetchall()
    assert [r[0] for r in rows] == [2, 1, None]


def test_aggregate_rejoin_keeps_null_group(spark):
    """Re-joining two aggregates of the same table on the GROUP key must be
    null-safe (<=>): a plain equi-join drops the NULL-key group that a
    single-scan GROUP BY keeps."""
    df = spark.createDataFrame(
        [("A", 1), ("A", 2), (None, 3), (None, 4)], "flag string, v int"
    )
    left = df.groupBy("flag").agg(F.sum("v").alias("s"))
    right = df.groupBy("flag").agg(F.count("*").alias("n")).withColumnRenamed("flag", "rf")
    plain = left.join(right, F.col("flag") == F.col("rf")).count()
    safe = left.join(right, F.col("flag").eqNullSafe(F.col("rf"))).count()
    assert plain == 1  # the NULL group silently vanished
    assert safe == 2   # <=> keeps it


def test_partition_escape_roundtrips_null_and_empty(spark, tmp_path):
    """Hive-style directory partitioning collapses NULL and '' into
    __HIVE_DEFAULT_PARTITION__; the sink's escaped-twin contract
    (directory-partition on escape(key), keep the raw column as data)
    round-trips both — implemented IN write_partitioned_parquet so every
    bulk load gets it, not one call site."""
    from sqload_spark.sources.sinks import write_partitioned_parquet

    df = spark.createDataFrame(
        [(1, "A"), (2, None), (3, ""), (4, "A")], "id bigint, flag string"
    )
    path = str(tmp_path / "esc")
    write_partitioned_parquet(df, path, partition_by=["flag"])
    back = spark.read.parquet(path)
    groups = {
        (r.flag if r.flag is not None else "<null>"): r.n
        for r in back.groupBy("flag").agg(F.count("*").alias("n")).collect()
    }
    assert groups == {"A": 2, "<null>": 1, "": 1}


def test_partition_escape_sentinel_collision_raises(spark, tmp_path):
    """The escape contract's precondition — real values must not collide
    with the sentinels — is ENFORCED at write time, not assumed: a feed row
    whose key is literally '__null__' would otherwise silently share a
    directory with the genuinely-NULL rows."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from sqload_spark.sources.sinks import write_partitioned_parquet

    df = spark.createDataFrame(
        [(1, "A"), (2, "__null__")], "id bigint, flag string"
    )
    with pytest.raises((Py4JJavaError, SparkRuntimeException), match="collides"):
        write_partitioned_parquet(
            df, str(tmp_path / "collide"), partition_by=["flag"]
        )


def test_csv_null_token_roundtrips_null_and_empty(spark, tmp_path):
    """A bare CSV field cannot carry NULL-vs-'' — Spark's default options
    write both as an empty field and read both back as NULL (the textual
    twin of the hive-partition collapse, caught by the extended dirty
    corpus's '' o_orderstatus row). The engine's CSV round-trip contract:
    an explicit null token (NULL → \\N, '' → quoted \"\"), symmetric on
    write and read."""
    df = spark.createDataFrame(
        [(1, "O"), (2, None), (3, ""), (4, "O")], "id bigint, s string"
    )
    path = str(tmp_path / "csv_null")
    df.write.option("header", "true").option("nullValue", "\\N").csv(path)
    back = spark.read.schema("id bigint, s string").option("header", "true").option(
        "nullValue", "\\N"
    ).csv(path)
    groups = {
        ("<null>" if r.s is None else r.s): r.n
        for r in back.groupBy("s").agg(F.count("*").alias("n")).collect()
    }
    assert groups == {"O": 2, "<null>": 1, "": 1}


def test_jdbc_null_string_survives_derby_roundtrip(spark, tmp_path):
    """Spark's JDBC writer takes the setNull() type from the DIALECT
    (StringType → CLOB on Derby), so a createTableColumnTypes VARCHAR pin
    makes the first NULL string raise 22005. Unpinned (native CLOB), the
    NULL round-trips."""
    from sqload_spark.sources.sinks import write_jdbc

    spark._jvm.System.setProperty("derby.system.home", str(tmp_path))
    url = f"jdbc:derby:{tmp_path}/unit_db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame([(1, "O"), (2, None)], "k bigint, s string")
    write_jdbc(df, url, "t_null_str", mode="overwrite", num_partitions=1, **props)
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "t_null_str")
        .option("driver", props["driver"])
        .load()
    )
    back = back.toDF(*[c.lower() for c in back.columns])
    rows = {r.k: r.s for r in back.collect()}
    assert rows == {1: "O", 2: None}


def test_math_domain_guards_null_not_nan(spark):
    """Off-domain math is NULL in both engines under the guard: Spark's
    bare sqrt(-5) is NaN (which DuckDB would RAISE on instead), so the
    guarded column must contain no NaN — only NULL."""
    df = spark.createDataFrame([(-5.0,), (4.0,), (None,)], "q double")
    guarded = df.select(
        F.when(F.col("q") >= 0, F.sqrt("q")).alias("s")
    ).collect()
    vals = [r.s for r in guarded]
    assert vals.count(None) == 2 and 2.0 in vals
    assert not any(v is not None and v != v for v in vals)  # no NaN


def test_frame_sampler_null_and_empty_payload():
    """mapInPandas frame sampling: NULL payload → all-NULL row; empty
    payload → zero frames with NULL checksum (DuckDB list_sum([]) is
    NULL, not 0)."""
    from sqload_spark.operators.multimodal import _sample_frames

    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "payload": [b"x" * 40, None, b""]})
    out = pd.concat(list(_sample_frames(iter([pdf]))), ignore_index=True)
    full = out[out.doc_id == 1].iloc[0]
    assert full.n_frames == 2 and full.n_sampled == 1 and full.sample_checksum > 0
    nul = out[out.doc_id == 2].iloc[0]
    assert pd.isna(nul.n_frames) and pd.isna(nul.sample_checksum)
    empty = out[out.doc_id == 3].iloc[0]
    assert empty.n_frames == 0 and empty.n_sampled == 0 and pd.isna(empty.sample_checksum)


def test_sql_text_builders_are_the_column_forms(spark):
    """The SQL-text builders compute what their former Column-API forms
    did: valid_embedding and to_double_array are the same relation (equal
    optimized plans up to expression ids), and shingles / shingle_hashes /
    rolling_fingerprints give the same rows over the sf0.01 documents plus
    the short, empty and NULL hazard docs (their arrays_zip fields are
    named "0".."n-1" rather than "t0".."tn-1", so only rows are compared)."""
    from sqload_spark.functions.hashing import spark_md5_int_column
    from sqload_spark.functions.text_funcs import shingle_hashes
    from sqload_spark.functions.vectors import EMB_DIM, EMB_MAX_ABS, dot, to_double_array
    from sqload_spark.sources.tables import load_table
    from tests.conftest import SF_DIR, row_digest

    def column_shingles(text, n=3):
        toks = tokens(text)
        m = F.size(toks) - F.lit(n - 1)
        zipped = F.arrays_zip(*[F.slice(toks, k + 1, m).alias(f"t{k}") for k in range(n)])
        grams = F.transform(zipped, lambda s: F.concat_ws(" ", *[s[f"t{k}"] for k in range(n)]))
        return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    def column_fingerprints(toks, window=4):
        base = F.coalesce(toks, F.array().cast("array<string>"))
        m = F.greatest(F.size(base) - F.lit(window - 1), F.lit(1))
        zipped = F.arrays_zip(*[F.slice(base, k + 1, m).alias(f"t{k}") for k in range(window)])
        spans = F.transform(zipped, lambda s: F.concat_ws(" ", *[s[f"t{k}"] for k in range(window)]))
        spans = F.when(F.size(base) == 0, F.array(F.lit(""))).otherwise(spans)
        hashes = F.transform(spans, lambda sp: spark_md5_int_column(sp, 12))
        return F.slice(F.array_sort(F.array_distinct(hashes)), 1, 8)

    def column_doubles(v):
        return F.transform(v, lambda x: x.cast("double"))

    def column_valid(v):
        dv = column_doubles(v)
        return (
            (F.size(dv) == EMB_DIM)
            & (dot(dv, dv) > 0)
            & F.forall(dv, lambda x: ~F.isnan(x))
            & F.forall(dv, lambda x: F.abs(x) <= F.lit(EMB_MAX_ABS))
        )

    plan = lambda df: df._jdf.queryExecution().optimizedPlan()  # noqa: E731
    emb = load_table(spark, SF_DIR, "embeddings")
    assert plan(emb.filter(valid_embedding("embedding"))).sameResult(
        plan(emb.filter(column_valid(F.col("embedding"))))
    )
    assert plan(emb.select(to_double_array("embedding"))).sameResult(
        plan(emb.select(column_doubles(F.col("embedding"))))
    )
    hazards = _docs(spark, [(-1, "a"), (-2, "a b"), (-3, ""), (-4, None), (-5, " a  b c a b c ")])
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").unionByName(hazards)
    col = column_shingles(F.col("text"))
    pairs = [
        (shingles("text", 3), col),
        (shingle_hashes("text", 3), F.transform(col, lambda s: F.xxhash64(s))),
        (rolling_fingerprints("text"), column_fingerprints(tokens(F.col("text")))),
    ]
    for text, column in pairs:
        assert row_digest(docs.select("doc_id", text.alias("sh"))) == row_digest(
            docs.select("doc_id", column.alias("sh"))
        )
