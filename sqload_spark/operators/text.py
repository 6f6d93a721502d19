"""Text-analysis operators over the `documents` table: tokenization stats,
top terms, language ID (stopword/marker heuristic), quality scoring, token
counting (whitespace + BPE-ish regex), md5 fingerprints.

Everything is array/string expressions over one scan — map-side until the
final (small-cardinality) aggregation, so each operator is one narrow
shuffle regardless of corpus size. All queries here are DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sqload_spark.functions.hashing import duck_md5_int, spark_md5_int
from sqload_spark.functions.rounding import round_half_up, sql_round_half_up
from sqload_spark.functions.text_funcs import (
    LANG_MARKERS,
    STOPWORDS,
    duck_max_frequency,
    duck_ngrams,
    duck_token_features,
    duck_word_windows,
    max_frequency_sql,
    ngrams_sql,
    rolling_fingerprints,
    token_features_sql,
    tokens,
    word_windows_sql,
)
from sqload_spark.registry import query
from sqload_spark.sources.tables import load_table


TOP_TERMS_ORACLE = """
    WITH terms AS (
      SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
    ), counted AS (
      SELECT lang, term, count(*) AS n FROM terms GROUP BY lang, term
    ), ranked AS (
      SELECT lang, term, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rnk
      FROM counted
    )
    SELECT lang, term, n, rnk FROM ranked WHERE rnk <= 5
    ORDER BY lang, rnk
"""


@query("text_top_terms_per_lang", oracle=TOP_TERMS_ORACLE)
def top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.col("n").desc(), "term")
    return (
        docs.select("lang", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("n"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .orderBy("lang", "rnk")
    )


@query(
    "text_token_stats",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           floor(avg(len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0 AS avg_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           count(DISTINCT lang) AS n_langs
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(tokens(F.col("text"))).cast("bigint")
    return (
        docs.select("source", "lang", "n_chars", n_toks.alias("n_toks"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            round_half_up(F.avg("n_toks"), 4).alias("avg_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


def _marker_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({words})))"


_LANG_ORDER = ("en", "de", "es", "fr", "zh")

_PREDICT_SQL = " ".join(
    [
        "CASE "
        + " ".join(
            f"WHEN s_{lang} >= greatest({', '.join('s_' + o for o in _LANG_ORDER)}) THEN '{lang}'"
            for lang in _LANG_ORDER
        )
        + " END"
    ]
)


@query(
    "text_langid_markers",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
             {_marker_sql('en')} AS s_en,
             {_marker_sql('de')} AS s_de,
             {_marker_sql('es')} AS s_es,
             {_marker_sql('fr')} AS s_fr,
             {_marker_sql('zh')} AS s_zh
      FROM documents
    )
    SELECT lang, {_PREDICT_SQL} AS predicted, count(*) AS n_docs
    FROM scored GROUP BY 1, 2 ORDER BY lang, predicted
    """,
)
def langid_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword/marker language-ID heuristic. (On this synthetic corpus the
    vocabulary is shared across language labels, so the interesting output
    is the machinery's agreement matrix, not real accuracy.) Ties resolve
    by fixed language priority — identical CASE order in both engines."""
    docs = load_table(spark, sf_dir, "documents")

    def marker_hits(words: tuple[str, ...]):
        return lambda t: t.isin(*words)

    # tokenize ONCE per row into a materialized column: five per-language
    # filters over the raw tokens() subtree would re-split the text five
    # times per row (constant-factor cousin of the round-7 HOF lesson)
    scored = docs.select("lang", tokens(F.col("text")).alias("t")).select(
        "lang",
        *[
            F.size(F.filter(F.col("t"), marker_hits(LANG_MARKERS[lang]))).alias(f"s_{lang}")
            for lang in _LANG_ORDER
        ],
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in _LANG_ORDER])
    expr = None
    for lang in _LANG_ORDER:
        cond = F.col(f"s_{lang}") >= best
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return (
        scored.select("lang", expr.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "predicted")
    )


QUALITY_ORACLE = f"""
    WITH feats AS (
      SELECT doc_id,
             {duck_token_features("string_split(text, ' ')")},
             len(list_filter(string_split(text, ' '),
                 t -> t IN ({", ".join("'" + w + "'" for w in STOPWORDS)}))) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_tokens,
           {sql_round_half_up("n_distinct::DOUBLE / n_tokens", 4)} AS type_token_ratio,
           {sql_round_half_up("n_stop::DOUBLE / n_tokens", 4)} AS stopword_ratio,
           {sql_round_half_up("tok_chars::DOUBLE / n_tokens", 4)} AS avg_token_len,
           {sql_round_half_up(
               "0.4 * (n_distinct::DOUBLE / n_tokens) "
               "+ 0.3 * (1 - n_stop::DOUBLE / n_tokens) "
               "+ 0.3 * least(n_tokens / 50.0, 1.0)", 4)} AS quality
    FROM feats
    ORDER BY doc_id
"""


@query("text_quality_score", oracle=QUALITY_ORACLE)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / stopword / lexical-diversity quality features + a combined
    score — the standard cheap pre-filter in LLM data pipelines."""
    docs = load_table(spark, sf_dir, "documents")
    # tokenize ONCE per row (four features over the raw tokens() subtree
    # would re-split the text four times per row)
    feats = docs.select("doc_id", tokens(F.col("text")).alias("t")).select(
        "doc_id",
        *map(F.expr, token_features_sql("t")),
        F.size(F.filter(F.col("t"), lambda t: t.isin(*STOPWORDS))).cast("bigint").alias("n_stop"),
    )
    ttr = F.col("n_distinct").cast("double") / F.col("n_tokens")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    return feats.select(
        "doc_id",
        "n_tokens",
        round_half_up(ttr, 4).alias("type_token_ratio"),
        round_half_up(stop_ratio, 4).alias("stopword_ratio"),
        round_half_up(F.col("tok_chars").cast("double") / F.col("n_tokens"), 4).alias("avg_token_len"),
        round_half_up(
            0.4 * ttr + 0.3 * (1 - stop_ratio) + 0.3 * F.least(F.col("n_tokens") / 50.0, F.lit(1.0)),
            4,
        ).alias("quality"),
    ).orderBy("doc_id")


@query(
    "text_token_counts",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
           n_chars
    FROM documents
    WHERE doc_id < 100
    ORDER BY doc_id
    """,
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs / digit runs / single non-alnum symbols)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.size(tokens(F.col("text"))).alias("ws_tokens"),
            F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0))).alias(
                "re_tokens"
            ),
            "n_chars",
        )
        .orderBy("doc_id")
    )


@query(
    "text_rolling_fingerprint",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), spans AS (
      SELECT doc_id,
             [{duck_md5_int("sp", 12)}
              for sp in (CASE WHEN len(t) >= 4 THEN {duck_ngrams("t", 4)}
                         ELSE [coalesce(array_to_string(t, ' '), '')] END)] AS hs
      FROM toks
    ), fps AS (
      SELECT doc_id, unnest(list_sort(list_distinct(hs))[1:8]) AS fp FROM spans
    )
    SELECT fp,
           count(*) AS n_docs,
           string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids
    FROM fps
    GROUP BY fp
    HAVING count(*) > 1
    ORDER BY fp
    """,
)
def rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprints: hash every 4-token span (md5 low 48
    bits — cross-engine reproducible), keep the 8 smallest span hashes per
    document. Near-duplicate documents share most fingerprints, so grouping
    by exploded fingerprint yields candidate clusters cheaply (constant
    output per doc → bounded shuffle at scale). The oracle repeats the
    identical construction in SQL (DuckDB list comprehension), so the whole
    pipeline is hash-checked, not rows-only."""
    docs = load_table(spark, sf_dir, "documents")
    fps = docs.select("doc_id", F.explode(rolling_fingerprints("text")).alias("fp"))
    return (
        fps.groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            # Scalar string, not array<bigint>: the correctness driver's pandas
            # canonicalizer cannot sort/hash list cells.
            F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("fp")
    )


@query(
    "text_md5_fingerprint",
    oracle="""
    SELECT doc_id, md5(text) AS fp, length(text) AS text_len
    FROM documents
    WHERE doc_id < 50
    ORDER BY doc_id
    """,
)
def md5_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-stable document fingerprint (md5 hex) — the exact-dedup key."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") < 50)
        .select("doc_id", F.md5("text").alias("fp"), F.length("text").cast("bigint").alias("text_len"))
        .orderBy("doc_id")
    )


# GPT-2-style pretokenizer, simplified to this corpus's charset: letter
# runs, digit runs, punctuation runs (whitespace delimits). Same regex
# engine semantics in Spark (Java regex) and DuckDB (RE2) for this class.
BPE_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]+"


@query(
    "text_bpe_regex_tokens",
    oracle=f"""
    WITH per_doc AS (
      SELECT source,
             len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS n_bpe,
             len(string_split(text, ' ')) AS n_ws
      FROM documents
    )
    SELECT source,
           CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(sum(n_ws) AS BIGINT) AS total_ws_tokens,
           floor(avg(CAST(n_bpe AS DOUBLE) / n_ws) * 10000.0 + 0.5) / 10000.0 AS bpe_per_ws
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
)
def bpe_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting under a BPE-ish pretokenizer regex (letter/digit/
    punctuation runs) vs plain whitespace — the cost model a training
    pipeline budgets sequences with. Expression-only: regexp_extract_all
    stays JVM-side; one aggregate shuffle on source."""
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_RE), 0))
    n_ws = F.size(tokens(F.col("text")))
    per = docs.select("source", n_bpe.alias("n_bpe"), n_ws.alias("n_ws"))
    return (
        per.groupBy("source")
        .agg(
            F.sum("n_bpe").cast("bigint").alias("total_bpe_tokens"),
            F.sum("n_ws").cast("bigint").alias("total_ws_tokens"),
            round_half_up(F.avg(F.col("n_bpe").cast("double") / F.col("n_ws")), 4).alias("bpe_per_ws"),
        )
        .orderBy("source")
    )


# --- benchmark-contamination check -----------------------------------------
# The eval "benchmark" is built in-query (every CONTAM_BENCH_MOD-th doc's
# leading 5-gram) so the check is self-contained and deterministic; in a
# real pipeline the bench table is an external KB-sized n-gram list — the
# plan is unchanged, and that asymmetry (tiny bench vs TB corpus) is what
# makes the broadcast semi-join the right 100 TB shape: the corpus side
# stays map-side, no corpus shuffle ever happens.
CONTAM_NGRAM = 5
CONTAM_BENCH_MOD = 37

_CONTAM_ORACLE = f"""
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
    bench AS (
      SELECT DISTINCT array_to_string(t[1:{CONTAM_NGRAM}], ' ') AS g
      FROM toks WHERE doc_id % {CONTAM_BENCH_MOD} = 0 AND len(t) >= {CONTAM_NGRAM}
    ),
    grams AS (
      SELECT doc_id, unnest({duck_ngrams("t", CONTAM_NGRAM)}) AS g
      FROM toks WHERE len(t) >= {CONTAM_NGRAM}
    ),
    hits AS (SELECT DISTINCT doc_id FROM grams WHERE g IN (SELECT g FROM bench))
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    GROUP BY d.source ORDER BY d.source
"""


@query("text_contamination_ngram", oracle=_CONTAM_ORACLE)
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: flag every training doc sharing any
    token 5-gram with the eval set. Corpus 5-grams are generated map-side
    (the word-window kernel, no UDF), matched against the broadcast benchmark
    with a semi-join, and only the (small) hit set of doc_ids shuffles;
    the per-source report is one narrow aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    long_docs = docs.select("doc_id", t.alias("t")).filter(F.size("t") >= CONTAM_NGRAM)
    bench = (
        long_docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
        .select(F.array_join(F.slice(F.col("t"), 1, CONTAM_NGRAM), " ").alias("g"))
        .distinct()
    )
    hits = (
        long_docs.select("doc_id", F.explode(F.expr(ngrams_sql("t", CONTAM_NGRAM))).alias("g"))
        .join(F.broadcast(bench), "g", "leftsemi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        docs.join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_contaminated"),
        )
        .orderBy("source")
    )


# --- Gopher-style repetition filter ----------------------------------------
# Thresholds picked against the corpus distribution (sf0.01: dup_frac p90 =
# 0.68, top-bigram p90 = 0.069) so the filter demonstrably drops a tail
# rather than nothing or everything.
REP_DUP_FRAC = 0.65
REP_TOP_BIGRAM_FRAC = 0.08

_REP_ORACLE = f"""
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
    feats0 AS (SELECT doc_id, source, t, {duck_ngrams("t", 2)} AS bg
               FROM toks WHERE len(t) >= 2),
    feats AS (
      SELECT doc_id, source,
             1.0 - len(list_distinct(t))::DOUBLE / len(t) AS dup_frac,
             {duck_max_frequency("bg")}::DOUBLE / len(bg) AS top_bigram_frac
      FROM feats0)
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN dup_frac > {REP_DUP_FRAC}
                          OR top_bigram_frac > {REP_TOP_BIGRAM_FRAC}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           {sql_round_half_up("avg(dup_frac)", 4)} AS avg_dup_frac,
           {sql_round_half_up("avg(top_bigram_frac)", 4)} AS avg_top_bigram_frac
    FROM feats GROUP BY source ORDER BY source
"""


@query("text_repetition_filter", oracle=_REP_ORACLE)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-quality filter (the Gopher/MassiveText family): flag docs
    whose duplicate-token fraction or most-frequent-bigram share exceeds a
    threshold. Both features are pure array expressions evaluated per doc
    map-side (no explode, no per-doc shuffle); the only shuffle in the
    whole plan is the final per-source aggregate, so the filter costs one
    corpus scan at any scale. The top-bigram count is the max-frequency
    fold (text_funcs.max_frequency_sql)."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    # select-then-filter: filtering on the raw tokens() subtree and THEN
    # aliasing it would split each text twice per row
    base = docs.select("doc_id", "source", t.alias("t")).filter(F.size("t") >= 2)
    run = F.expr(max_frequency_sql("bg"))
    feats = base.withColumn("bg", F.expr(ngrams_sql("t", 2))).select(
        "source",
        (F.lit(1.0) - F.size(F.array_distinct("t")).cast("double") / F.size("t")).alias(
            "dup_frac"
        ),
        (run.cast("double") / F.size("bg")).alias("top_bigram_frac"),
    )
    flagged = (F.col("dup_frac") > REP_DUP_FRAC) | (
        F.col("top_bigram_frac") > REP_TOP_BIGRAM_FRAC
    )
    return (
        feats.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(flagged, 1).otherwise(0)).cast("bigint").alias("n_flagged"),
            round_half_up(F.avg("dup_frac"), 4).alias("avg_dup_frac"),
            round_half_up(F.avg("top_bigram_frac"), 4).alias("avg_top_bigram_frac"),
        )
        .orderBy("source")
    )


# --- PII scrub (planted-email redaction) -----------------------------------
# The synthetic corpus contains no '@', so the emails are planted IN-QUERY
# on every 13th doc (same pattern as the pruned-cosine planted near-dups:
# deterministic, bit-identical in both engines) and then scrubbed. The
# per-source checksum sums md5-low-bits of every scrubbed text, so the
# oracle hash covers the full redacted CONTENT, not just the counts.
PII_MOD = 13
PII_RE = r"[a-z0-9]+@[a-z0-9]+\.[a-z]+"

_PII_ORACLE = rf"""
    WITH planted AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % {PII_MOD} = 0
                  THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
                       || '@mail.example now'
                  ELSE text END AS text2
      FROM documents)
    SELECT source, count(*) AS n_docs,
           CAST(sum(len(regexp_extract_all(text2, '{PII_RE}'))) AS BIGINT)
             AS n_redactions,
           CAST(sum({duck_md5_int(f"regexp_replace(text2, '{PII_RE}', '<EMAIL>', 'g')")})
             AS BIGINT) AS scrub_checksum
    FROM planted GROUP BY source ORDER BY source
"""


@query("text_pii_scrub", oracle=_PII_ORACLE)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: regex-scrub email-shaped spans, report per-source
    redaction counts plus a checksum over the scrubbed content. Pure
    map-side string expressions (regexp_extract_all / regexp_replace are
    JVM-side); one aggregate shuffle — a 100 TB scrub costs one scan.
    The [a-z0-9]+@[a-z0-9]+\\.[a-z]+ pattern class behaves identically in
    Java regex and DuckDB's RE2 (DuckDB needs the 'g' flag to match
    Spark's replace-all semantics)."""
    docs = load_table(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % PII_MOD == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example now"),
        ),
    ).otherwise(F.col("text"))
    per_doc = docs.select(
        "source",
        F.size(F.regexp_extract_all(planted, F.lit(PII_RE), 0)).alias("n_hits"),
        F.regexp_replace(planted, PII_RE, "<EMAIL>").alias("scrubbed"),
    ).select("source", "n_hits", F.expr(spark_md5_int("scrubbed")).alias("ck"))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_hits").cast("bigint").alias("n_redactions"),
            F.sum("ck").cast("bigint").alias("scrub_checksum"),
        )
        .orderBy("source")
    )


# Gopher-style rule thresholds (Rae et al. 2021's "quality rules" shape,
# re-parameterized for this corpus's vocabulary): docs fail on too-few/
# too-many tokens, too-short mean token length, low lexical diversity, or
# a dominant single token.
GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS = 15, 400
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MIN_TTR = 0.30
GOPHER_MAX_TOP_SHARE = 0.20

_GOPHER_ORACLE = f"""
    WITH feats AS (
      SELECT doc_id, source,
             {duck_token_features("string_split(text, ' ')")},
             {duck_max_frequency("string_split(text, ' ')")} AS top_tok
      FROM documents
    ), flagged AS (
      SELECT doc_id, source,
             CASE WHEN n_tokens < {GOPHER_MIN_TOKENS}
                    OR n_tokens > {GOPHER_MAX_TOKENS} THEN 1 ELSE 0 END AS f_len,
             CASE WHEN tok_chars::DOUBLE / n_tokens < {GOPHER_MIN_MEAN_LEN}
                  THEN 1 ELSE 0 END AS f_meanlen,
             CASE WHEN n_distinct::DOUBLE / n_tokens < {GOPHER_MIN_TTR}
                  THEN 1 ELSE 0 END AS f_ttr,
             CASE WHEN top_tok::DOUBLE / n_tokens > {GOPHER_MAX_TOP_SHARE}
                  THEN 1 ELSE 0 END AS f_top
      FROM feats)
    SELECT source, count(*) AS n_docs,
           CAST(sum(f_len) AS BIGINT) AS n_len_fail,
           CAST(sum(f_meanlen) AS BIGINT) AS n_meanlen_fail,
           CAST(sum(f_ttr) AS BIGINT) AS n_ttr_fail,
           CAST(sum(f_top) AS BIGINT) AS n_top_fail,
           CAST(sum(CASE WHEN f_len + f_meanlen + f_ttr + f_top = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
    FROM flagged GROUP BY source ORDER BY source
"""


@query("text_gopher_quality", oracle=_GOPHER_ORACLE)
def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style RULE filter (vs text_quality_score's soft score): each
    doc is tested against hard thresholds — token-count bounds, mean
    token length, type-token ratio, single-token dominance — and the
    per-source pass/fail census is reported. All four rules are array
    expressions over one scan (the dominance rule sorts the token
    frequency map per doc — array ops, no extra shuffle); only the
    census aggregate shuffles. The standard first gate of a web-scale
    curation pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    # The dominance rule is the max-frequency fold (NULL text keeps a NULL
    # top_tok, as the oracle's list_max over NULL does).
    feats = docs.select("doc_id", "source", tokens(F.col("text")).alias("t")).select(
        "doc_id",
        "source",
        *map(F.expr, token_features_sql("t")),
        F.expr(f"CAST({max_frequency_sql('t')} AS BIGINT) AS top_tok"),
    )
    f_len = F.when(
        (F.col("n_tokens") < GOPHER_MIN_TOKENS) | (F.col("n_tokens") > GOPHER_MAX_TOKENS), 1
    ).otherwise(0)
    f_meanlen = F.when(
        F.col("tok_chars").cast("double") / F.col("n_tokens") < GOPHER_MIN_MEAN_LEN, 1
    ).otherwise(0)
    f_ttr = F.when(
        F.col("n_distinct").cast("double") / F.col("n_tokens") < GOPHER_MIN_TTR, 1
    ).otherwise(0)
    f_top = F.when(
        F.col("top_tok").cast("double") / F.col("n_tokens") > GOPHER_MAX_TOP_SHARE, 1
    ).otherwise(0)
    flagged = feats.select(
        "source",
        f_len.alias("f_len"),
        f_meanlen.alias("f_meanlen"),
        f_ttr.alias("f_ttr"),
        f_top.alias("f_top"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("f_len").cast("bigint").alias("n_len_fail"),
            F.sum("f_meanlen").cast("bigint").alias("n_meanlen_fail"),
            F.sum("f_ttr").cast("bigint").alias("n_ttr_fail"),
            F.sum("f_top").cast("bigint").alias("n_top_fail"),
            F.sum(
                F.when(
                    F.col("f_len") + F.col("f_meanlen") + F.col("f_ttr") + F.col("f_top") == 0, 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_pass"),
        )
        .orderBy("source")
    )


HIST_BIN_TOKENS = 10


@query(
    "q_token_histogram",
    oracle=f"""
    SELECT lang,
           (len(string_split(text, ' ')) // {HIST_BIN_TOKENS}) * {HIST_BIN_TOKENS} AS bin_lo,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS bin_tokens
    FROM documents
    GROUP BY 1, 2
    ORDER BY lang, bin_lo
    """,
)
def token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram per language (fixed-width bins) — the
    length-distribution profile that sizes chunking and packing
    decisions. Integer bucket math, one bounded-cardinality shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens(F.col("text"))).cast("bigint")
    bin_lo = (n_tokens - n_tokens % HIST_BIN_TOKENS).alias("bin_lo")
    return (
        docs.select("lang", bin_lo, n_tokens.alias("n_tokens"))
        .groupBy("lang", "bin_lo")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").cast("bigint").alias("bin_tokens"))
        .orderBy("lang", "bin_lo")
    )


# --- unigram language-model quality score ----------------------------------
# The CCNet/Dolma-style LM quality gate, with the KenLM model replaced by
# the corpus's own unigram distribution (nothing external to ship): train =
# one token-count aggregation, score = average negative log-likelihood per
# document. Docs full of rare tokens (high avg_nll) are the "surprising"
# tail a quality filter inspects; docs of pure boilerplate score low.

_UNIGRAM_ORACLE = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
    ), vocab AS (
      SELECT term, count(*) AS c FROM tok GROUP BY term
    ), total AS (
      SELECT count(*) AS t FROM tok
    )
    SELECT tf.doc_id,
           CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
           {score} AS avg_nll
    FROM tf JOIN vocab USING (term) CROSS JOIN total
    GROUP BY tf.doc_id
    ORDER BY doc_id
""".format(
    score=sql_round_half_up("sum(tf.tf * -ln(vocab.c / total.t)) / sum(tf.tf)", 4)
)


@query("text_unigram_logprob", oracle=_UNIGRAM_ORACLE)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-likelihood under the corpus's own
    unigram LM.

    Two-pass shape that holds at 100 TB: pass 1 trains the model (token →
    count), a groupBy whose output is the VOCABULARY — Zipf-bounded, tiny
    relative to the corpus — so it broadcasts back; pass 2 re-joins term
    frequencies to the broadcast model and aggregates per doc (one shuffle
    on doc_id for the tf groupBy, one for the score agg). The corpus total
    is a scalar literal-free broadcast cross join, never a collect."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    vocab = tok.groupBy("term").agg(F.count("*").alias("c"))
    total = tok.agg(F.count("*").alias("t"))
    nll = -F.log(F.col("c") / F.col("t"))
    return (
        tf.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            (F.sum(F.col("tf") * nll) / F.sum("tf")).alias("nll_raw"),
        )
        .select(
            "doc_id",
            "n_tokens",
            round_half_up(F.col("nll_raw"), 4).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


# --- inverted index ---------------------------------------------------------

IDX_MIN_DF = 200  # index only corpus-common terms so postings stay printable


@query(
    "text_inverted_index",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), df AS (
      SELECT term, count(*) AS doc_freq FROM tok GROUP BY term
    )
    SELECT t.term AS term,
           d.doc_freq,
           array_to_string(list(t.doc_id ORDER BY t.doc_id)[1:20], ',') AS postings_head
    FROM tok t JOIN df d ON t.term = d.term
    WHERE d.doc_freq >= {IDX_MIN_DF}
    GROUP BY t.term, d.doc_freq
    ORDER BY t.term
    """,
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term → sorted posting list of doc_ids (head
    shown as a string so the oracle hash covers list content AND order).
    The search-index construction pass: explode to (doc, term), distinct,
    then ONE groupBy(term) collecting sorted postings — at 100 TB the
    posting lists for frequent terms are the skew hazard, which is why
    real indexes shard postings by (term, doc_id range); the df filter
    here bounds the output, not the build."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("term")
    ).distinct()
    grouped = tok.groupBy("term").agg(
        F.count("*").alias("doc_freq"),
        F.slice(F.array_sort(F.collect_list("doc_id")), 1, 20).alias("head"),
    )
    return (
        grouped.filter(F.col("doc_freq") >= IDX_MIN_DF)
        .select(
            "term",
            "doc_freq",
            F.array_join(F.col("head"), ",").alias("postings_head"),
        )
        .orderBy("term")
    )


# --- BM25 ranked retrieval ---------------------------------------------------
# The lexical half of a hybrid retrieval stack (BM25 + embedding cosine):
# Okapi BM25 with the standard k1=1.2, b=0.75 over the whitespace corpus,
# scoring a fixed conjunctive term query. Everything is two bounded
# aggregations + broadcasts; the fact table shuffles once on doc_id.
#
# Float discipline: per-(doc,term) contributions are rounded to 1e-9
# fixed-point int64 BEFORE the per-doc sum, so partial-aggregation order
# cannot flip the final rounding (same trick as q_embedding_gram). The ln
# in the idf is evaluated once per TERM (3 rows), where a cross-engine ulp
# difference is visible only if a contribution lands within an ulp of a
# 0.5e-9 boundary — the same accepted exposure as text_unigram_logprob.

BM25_TERMS = ("key", "order", "scan")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_FP = 1_000_000_000  # 1e9 fixed-point for per-term contributions
BM25_TOPK = 20

_BM25_TERMS_SQL = "('" + "', '".join(BM25_TERMS) + "')"

_BM25_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      FROM tok WHERE term IN {_BM25_TERMS_SQL} GROUP BY doc_id, term
    ), df AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
      FROM tok WHERE term IN {_BM25_TERMS_SQL} GROUP BY term
    ), contrib AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * {BM25_K1 + 1.0})
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl))
               * {BM25_FP} + 0.5) AS BIGINT) AS c
      FROM tf
      JOIN df USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
    )
    SELECT doc_id,
           {{score}} AS bm25,
           count(*) AS n_terms
    FROM contrib
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOPK}
""".format(score=sql_round_half_up(f"CAST(sum(c) AS DOUBLE) / {BM25_FP}", 6))


@query("text_bm25_topk", oracle=_BM25_ORACLE)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k for a fixed term query — see the block comment for
    the scoring formula and the fixed-point float discipline.

    100 TB shape: document lengths and term frequencies are each ONE
    map-side-combined aggregation; the df table (|query| rows) and the
    corpus stats (1 row) broadcast; the final top-k is
    TakeOrderedAndProject, never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    qtok = tok.filter(F.col("term").isin(*BM25_TERMS))
    tf = qtok.groupBy("doc_id", "term").agg(F.count("*").cast("double").alias("tf"))
    df_t = qtok.groupBy("term").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    contrib = F.floor(
        idf * (F.col("tf") * (BM25_K1 + 1.0)) / denom * BM25_FP + 0.5
    ).cast("bigint")
    return (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", contrib.alias("c"))
        .groupBy("doc_id")
        .agg(
            round_half_up(F.sum("c").cast("double") / F.lit(float(BM25_FP)), 6).alias("bm25"),
            F.count("*").alias("n_terms"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


# --- held-out bigram LM quality score ---------------------------------------
# The upgrade of text_unigram_logprob to a proper held-out evaluation: the
# bigram model trains on the EVEN doc_ids and scores the ODD ones, so
# unseen bigrams genuinely occur and the backoff path is exercised (a
# same-corpus unigram score never triggers backoff). Scoring rule per
# bigram (w1,w2): seen → C(w1,w2)/C(w1); unseen → stupid-backoff 0.4 ×
# Laplace unigram (C(w2)+1)/(T+V). avg NLL per document.
#
# 100 TB shape identical to the unigram query: the trained model is the
# vocabulary/bigram table — Zipf-bounded, broadcast back — and the scored
# side shuffles once on doc_id. ln() exposure same as text_unigram_logprob.

BIGRAM_ALPHA = 0.4

_BIGRAM_ORACLE = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), big_all AS (
      SELECT doc_id, w[1] AS w1, w[2] AS w2
      FROM (SELECT doc_id, unnest({windows}) AS w FROM toks)
    ), train_uni AS (
      SELECT w, count(*) AS c FROM (
        SELECT unnest(t) AS w FROM toks WHERE doc_id % 2 = 0) GROUP BY w
    ), train_big AS (
      SELECT w1, w2, count(*) AS c FROM big_all WHERE doc_id % 2 = 0
      GROUP BY w1, w2
    ), consts AS (
      SELECT CAST(sum(c) AS DOUBLE) AS t_total,
             CAST(count(*) AS DOUBLE) AS v_size
      FROM train_uni
    ), scored AS (
      SELECT s.doc_id,
             CASE WHEN b.c IS NOT NULL
                  THEN CAST(b.c AS DOUBLE) / u1.c
                  ELSE {alpha} * (COALESCE(u2.c, 0) + 1.0) / (consts.t_total + consts.v_size)
             END AS p
      FROM big_all s
      LEFT JOIN train_big b ON s.w1 = b.w1 AND s.w2 = b.w2
      LEFT JOIN train_uni u1 ON s.w1 = u1.w
      LEFT JOIN train_uni u2 ON s.w2 = u2.w
      CROSS JOIN consts
      WHERE s.doc_id % 2 = 1
    )
    SELECT doc_id, count(*) AS n_bigrams,
           {score} AS avg_nll
    FROM scored GROUP BY doc_id ORDER BY doc_id
""".format(
    windows=duck_word_windows("t", 2),
    alpha=BIGRAM_ALPHA,
    score=sql_round_half_up("sum(-ln(p)) / count(*)", 4),
)


@query("text_bigram_logprob", oracle=_BIGRAM_ORACLE)
def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram LM scoring with stupid backoff — see block comment."""
    docs = load_table(spark, sf_dir, "documents")
    big_all = (
        docs.select("doc_id", tokens(F.col("text")).alias("t"))
        .filter(F.size("t") >= 2)
        .select("doc_id", F.explode(F.expr(word_windows_sql("t", 2))).alias("bg"))
        .select("doc_id", F.col("bg.`0`").alias("w1"), F.col("bg.`1`").alias("w2"))
    )
    train_docs = docs.filter(F.col("doc_id") % 2 == 0)
    train_uni = (
        train_docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    train_big = (
        big_all.filter(F.col("doc_id") % 2 == 0)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cb"))
    )
    consts = train_uni.agg(
        F.sum("c").cast("double").alias("t_total"),
        F.count("*").cast("double").alias("v_size"),
    )
    u1 = train_uni.select(F.col("w").alias("u1_w"), F.col("c").alias("c1"))
    u2 = train_uni.select(F.col("w").alias("u2_w"), F.col("c").alias("c2"))
    p = F.when(
        F.col("cb").isNotNull(), F.col("cb").cast("double") / F.col("c1")
    ).otherwise(
        BIGRAM_ALPHA
        * (F.coalesce(F.col("c2"), F.lit(0)) + 1.0)
        / (F.col("t_total") + F.col("v_size"))
    )
    # Broadcast discipline: the UNIGRAM tables are the broadcast model —
    # vocabulary-bounded (Heaps-law sublinear), the conventional LM
    # broadcast. The BIGRAM count table is NOT hinted: distinct bigrams
    # grow near-linearly with the training corpus, so scoring joins it on
    # (w1, w2) as a shuffle join at scale — stats/AQE still broadcast it
    # at test SF where it is tiny.
    return (
        big_all.filter(F.col("doc_id") % 2 == 1)
        .join(train_big, ["w1", "w2"], "left_outer")
        .join(F.broadcast(u1), F.col("w1") == F.col("u1_w"), "left_outer")
        .join(F.broadcast(u2), F.col("w2") == F.col("u2_w"), "left_outer")
        .crossJoin(F.broadcast(consts))
        .select("doc_id", p.alias("p"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            round_half_up(F.sum(-F.log(F.col("p"))) / F.count("*"), 4).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


# --- tokenizer vocabulary coverage ------------------------------------------
# The tokenizer-fit metric every corpus report carries: fix a vocabulary
# (here: the corpus's top-256 terms — stand-in for a tokenizer's word
# list), then measure per-language OOV rates and overall coverage. The
# vocabulary is Zipf-bounded and broadcasts; the corpus is scanned once.

VOCAB_SIZE = 256

_VOCAB_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents
    ), vocab AS (
      SELECT term FROM (
        SELECT term, count(*) AS c,
               row_number() OVER (ORDER BY count(*) DESC, term) AS rn
        FROM tok GROUP BY term) WHERE rn <= {VOCAB_SIZE}
    ), flagged AS (
      SELECT t.lang, t.doc_id,
             count(*) AS n_tokens,
             sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM tok t LEFT JOIN vocab v ON t.term = v.term
      GROUP BY t.lang, t.doc_id
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_oov) AS BIGINT) AS total_oov,
           {sql_round_half_up("1.0 - CAST(sum(n_oov) AS DOUBLE) / sum(n_tokens)", 6)} AS coverage
    FROM flagged
    GROUP BY lang
    ORDER BY lang
"""


@query("text_vocab_coverage", oracle=_VOCAB_ORACLE)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-256-term vocabulary coverage / OOV accounting per language —
    see block comment."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term")
    )
    # top-k via orderBy+limit → TakeOrderedAndProject (distributed heap
    # per partition + driver merge of k rows), never a one-partition
    # global window over the whole vocabulary
    vocab = (
        tok.groupBy("term")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "term")
        .limit(VOCAB_SIZE)
        .select(F.col("term").alias("v_term"))
    )
    flagged = (
        tok.join(F.broadcast(vocab), tok.term == F.col("v_term"), "left_outer")
        .groupBy("lang", "doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("v_term").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_oov").cast("bigint").alias("total_oov"),
            round_half_up(
                1.0 - F.sum("n_oov").cast("double") / F.sum("n_tokens"), 6
            ).alias("coverage"),
        )
        .orderBy("lang")
    )
