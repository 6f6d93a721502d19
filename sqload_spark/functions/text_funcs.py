"""Text primitives over the `documents` table: tokenization, shingling,
shingle hashes and rolling-hash fingerprints — all Catalyst array/hash
expressions, no Python in the row path. The MinHash and SimHash
signatures built from them live in operators/dedup.py as SQL text.

These are the building blocks for the dedup / text-analysis operators; at
100 TB every one of them is a narrow projection that runs map-side before
any shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from sqload_spark.functions.hashing import spark_md5_int_column

# Marker words for the stopword-based language-ID heuristic. The scored
# languages match the corpus labels {de, en, es, fr, zh}.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "is", "and", "of"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "y", "es"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("的", "了", "是", "在", "和"),
}

STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "has")


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the corpus is space-separated words)."""
    return F.split(text, " ")


def shingles_sql(text: str = "text", n: int = 3) -> str:
    """Distinct word n-gram shingles of the SQL expression ``text``, as SQL
    text for an array of strings.

    Documents with fewer than ``n`` tokens (including empty and NULL text
    — real corpora contain both) yield an EMPTY shingle set, matching the
    DuckDB oracles' list-comprehension semantics (`range(1, len(t)-1)` is
    empty for short lists). The CASE guard keeps the slice length
    non-negative, which under ANSI mode (Spark 4's default) is the
    difference between a clean empty result and a crash killing the whole
    stage on the first dirty shard (found by tools/adversarial_run.py).

    Shape note (dirty × scale gate, round 7): the n-gram assembly is
    ``arrays_zip`` of n SHIFTED SLICES of the token array, with the
    transform lambda touching ONLY its own struct argument. The obvious
    alternative — ``transform(sequence(...), i -> element_at(toks, i+k))``
    — re-inlines the whole ``split`` subtree for every ``element_at``
    inside the interpreted lambda (higher-order lambdas get no
    subexpression elimination), which is O(tokens²) PER DOCUMENT: one
    12 000-token hazard doc cost ~13 s alone, 22 pathological docs took a
    38.8 s flat tax on every shingle consumer (measured; same family as
    the 64×-re-inline note on dedup._minhash_bands_sql). The sliced shape
    is linear: ~0.3 s on the same docs.

    SQL text, not Column calls: one ``F.expr`` is one py4j round trip,
    where the Column form took one or more per node. dedup_minhash_lsh's
    warm build made 217 py4j calls with the Column form and an inferring
    table load, 96 with this and an explicit schema (sf0.1, 4 vCPUs)."""
    toks = f"split({text}, ' ')"
    slices = ", ".join(f"slice({toks}, {k + 1}, size({toks}) - {n - 1})" for k in range(n))
    # arrays_zip names the struct fields of unnamed children "0", "1", ...
    gram = ", ".join(f"s.`{k}`" for k in range(n))
    return (
        f"CASE WHEN size({toks}) >= {n}"
        f" THEN array_distinct(transform(arrays_zip({slices}), s -> concat_ws(' ', {gram})))"
        " ELSE CAST(array() AS array<string>) END"
    )


def shingles(text: str = "text", n: int = 3) -> Column:
    """``shingles_sql`` as a Column."""
    return F.expr(shingles_sql(text, n))


def shingle_hashes(text: str = "text", n: int = 3) -> Column:
    """Distinct shingles as 64-bit hashes (compact dedup signature input)."""
    return F.expr(f"transform({shingles_sql(text, n)}, g -> xxhash64(g))")


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def rolling_fingerprints(toks: Column, window: int = 4) -> Column:
    """Winnowing-style document fingerprints: hash every `window`-token
    span, keep the per-document minima set (here: the k smallest span
    hashes) as the fingerprint.

    Span hash = low 48 bits of md5 (first 12 hex chars, parsed base-16).
    md5 is bit-identical in Spark and DuckDB, so the whole construction has
    an exact SQL twin (see text_rolling_fingerprint's oracle) — unlike the
    earlier xxhash64 variant, which had no DuckDB counterpart. 48 bits keeps
    collisions negligible (~1e-7 at 1M distinct spans) and fits BIGINT in
    both engines."""
    # Spans are assembled by arrays_zip of `window` SHIFTED SLICES, with
    # the transform lambda touching only its own struct argument — the
    # element_at(toks, i+k) form re-inlines the token-construction subtree
    # for every span element inside the interpreted lambda (no
    # subexpression elimination in higher-order lambdas), which is
    # O(tokens²) per document (the round-7 shingles() lesson — one
    # 12 000-token hazard doc costs seconds by itself). Short-doc
    # semantics are preserved exactly: slices past the end come back
    # short, arrays_zip pads the zipped structs with NULL fields, and
    # concat_ws skips them — the same one-partial-span fallback the old
    # try_element_at form produced and the DuckDB oracle computes; plain
    # element_at would instead raise under ANSI mode (Spark 4's default)
    # and kill the stage on the first short/dirty document
    # (tools/adversarial_run.py). Empty or NULL token arrays yield the
    # single md5("") span both engines agree on.
    base = F.coalesce(toks, F.array().cast("array<string>"))
    m = F.greatest(F.size(base) - F.lit(window - 1), F.lit(1))
    zipped = F.arrays_zip(*[F.slice(base, k + 1, m).alias(f"t{k}") for k in range(window)])
    spans = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[f"t{k}"] for k in range(window)])
    )
    empty_span = F.array(F.lit(""))
    span_hashes = F.transform(
        F.when(F.size(base) == 0, empty_span).otherwise(spans),
        lambda sp: spark_md5_int_column(sp, 12),
    )
    return F.slice(F.array_sort(F.array_distinct(span_hashes)), 1, 8)
