"""Text primitives over the `documents` table: tokenization, the word-window
kernel (n-token windows and their n-gram strings), shingles, rolling-hash
fingerprints, per-document token features and the max-frequency fold —
Catalyst array/hash expressions, no Python in the row path. Each has one
Spark form (SQL text that callers wrap in ``F.expr``) and, where an oracle
computes the same thing, one DuckDB twin (``duck_*``). The MinHash and
SimHash signatures built from them live in operators/dedup.py as SQL text.

These are the building blocks for the dedup / text-analysis operators; at
100 TB every one of them is a narrow projection that runs map-side before
any shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from sqload_spark.functions.hashing import spark_md5_int

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


def tokens_sql(text: str) -> str:
    """``tokens`` as SQL text."""
    return f"split({text}, ' ')"


# --- the word-window kernel ------------------------------------------------
# Every n-gram operator (shingles, rolling fingerprints, contamination
# 5-grams, repetition bigrams, bigram-LM pairs) composes these: one Spark
# SQL text and one DuckDB text. A window is n consecutive tokens; an n-gram
# string is a window's tokens joined by one space. Both forms are defined
# for arrays of at least n tokens (Spark's negative slice length raises
# under ANSI mode), so each caller keeps its own short-doc and NULL rule.


def word_windows_sql(toks: str, n: int) -> str:
    """The n-token windows of the token array ``toks`` (SQL text), as SQL
    text for an array of structs whose fields are named "0".."n-1" (the
    names arrays_zip gives unnamed children).

    Shape note (dirty × scale gate, round 7): the windows are ``arrays_zip``
    of n SHIFTED SLICES of the token array, so a lambda over them touches
    only its own struct argument. The obvious alternative —
    ``transform(sequence(...), i -> element_at(toks, i+k))`` — re-inlines
    the whole token subtree for every ``element_at`` inside the
    interpreted lambda (higher-order lambdas get no subexpression
    elimination), which is O(tokens²) PER DOCUMENT: one 12 000-token
    hazard doc cost ~13 s alone, 22 pathological docs took a 38.8 s flat
    tax on every shingle consumer (measured; same family as the
    64×-re-inline note on dedup._minhash_bands_sql). The sliced shape is
    linear: ~0.3 s on the same docs."""
    slices = ", ".join(f"slice({toks}, {k + 1}, size({toks}) - {n - 1})" for k in range(n))
    return f"arrays_zip({slices})"


def ngrams_sql(toks: str, n: int) -> str:
    """The n-gram strings of ``word_windows_sql(toks, n)``, in order."""
    gram = ", ".join(f"s.`{k}`" for k in range(n))
    return f"transform({word_windows_sql(toks, n)}, s -> concat_ws(' ', {gram}))"


def duck_word_windows(t: str, n: int) -> str:
    """DuckDB twin of ``word_windows_sql``: a list of n-token lists. Each
    window lists its n elements, because a slice ``t[i:i + n - 1]`` per
    window costs O(len(t)) in DuckDB, O(tokens²) per document: the 3-gram
    step over tools/adversarial_run.py's corpus (10 001-token documents)
    took 6.6 s with slices and 0.05 s with element lookups."""
    elems = ", ".join(f"{t}[i + {k}]" if k else f"{t}[i]" for k in range(n))
    return f"[[{elems}] for i in generate_series(1, len({t}) - {n - 1})]"


def duck_ngrams(t: str, n: int) -> str:
    """DuckDB twin of ``ngrams_sql``."""
    return f"list_transform({duck_word_windows(t, n)}, w -> array_to_string(w, ' '))"


# --- per-document token features -------------------------------------------


def token_features_sql(t: str) -> list[str]:
    """``n_tokens``, ``n_distinct`` and ``tok_chars`` (total token
    characters) of the token array ``t``, as aliased SQL select items."""
    return [
        f"CAST(size({t}) AS BIGINT) AS n_tokens",
        f"CAST(size(array_distinct({t})) AS BIGINT) AS n_distinct",
        f"aggregate({t}, 0L, (acc, w) -> acc + length(w)) AS tok_chars",
    ]


def duck_token_features(t: str) -> str:
    """DuckDB twin of ``token_features_sql``."""
    return (
        f"len({t}) AS n_tokens, len(list_distinct({t})) AS n_distinct,"
        f" list_sum(list_transform({t}, w -> len(w))) AS tok_chars"
    )


def max_frequency_sql(arr: str) -> str:
    """The count of the most frequent element of the array ``arr``, as SQL
    text: the longest run in the SORTED array, one aggregate() pass,
    O(n log n) per doc. Counting each distinct element with a nested
    transform+filter is O(distinct × n) interpreted lambda evaluations per
    doc and re-inlines ``arr``'s subtree per distinct element (the
    word_windows_sql lesson): it measured 11 s at sf0.1 against 1.4 s for
    this fold on text_repetition_filter. A NULL array gives NULL."""
    step = "IF(x = acc.prev, acc.run + 1, 1)"
    return (
        f"aggregate(array_sort({arr}), named_struct('prev', '', 'run', 0, 'best', 0),"
        f" (acc, x) -> named_struct('prev', x, 'run', {step}, 'best', greatest(acc.best, {step})),"
        " acc -> acc.best)"
    )


def duck_max_frequency(arr: str) -> str:
    """DuckDB twin of ``max_frequency_sql``: the largest count of one
    ``list_histogram`` pass, O(n) per doc (NULL elements are not counted;
    an empty or NULL list gives NULL)."""
    return f"list_max(map_values(list_histogram({arr})))"


def shingles_sql(text: str = "text", n: int = 3) -> str:
    """Distinct word n-gram shingles of the SQL expression ``text``, as SQL
    text for an array of strings.

    Documents with fewer than ``n`` tokens (including empty and NULL text
    — real corpora contain both) yield an EMPTY shingle set, matching the
    DuckDB oracles' list-comprehension semantics (no window fits a short
    list). The CASE guard keeps the slice length non-negative, which under
    ANSI mode (Spark 4's default) is the difference between a clean empty
    result and a crash killing the whole stage on the first dirty shard
    (found by tools/adversarial_run.py).

    SQL text, not Column calls: one ``F.expr`` is one py4j round trip,
    where the Column form took one or more per node. dedup_minhash_lsh's
    warm build made 217 py4j calls with the Column form and an inferring
    table load, 96 with this and an explicit schema (sf0.1, 4 vCPUs)."""
    toks = tokens_sql(text)
    return (
        f"CASE WHEN size({toks}) >= {n}"
        f" THEN array_distinct({ngrams_sql(toks, n)})"
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


def rolling_fingerprints(text: str = "text", window: int = 4) -> Column:
    """Winnowing-style document fingerprints of the SQL expression
    ``text``: hash every `window`-token span, keep the per-document minima
    set (here: the 8 smallest span hashes) as the fingerprint.

    Span hash = low 48 bits of md5 (first 12 hex chars, parsed base-16).
    md5 is bit-identical in Spark and DuckDB, so the whole construction has
    an exact SQL twin (see text_rolling_fingerprint's oracle) — unlike the
    earlier xxhash64 variant, which had no DuckDB counterpart. 48 bits keeps
    collisions negligible (~1e-7 at 1M distinct spans) and fits BIGINT in
    both engines.

    A document shorter than `window` tokens is one partial span, its
    tokens joined, and NULL text is the one span "" — the rule the DuckDB
    oracle computes; the window kernel itself would raise on a short
    array under ANSI mode (tools/adversarial_run.py)."""
    toks = tokens_sql(text)
    spans = (
        f"CASE WHEN size({toks}) >= {window} THEN {ngrams_sql(toks, window)}"
        f" ELSE array(coalesce(array_join({toks}, ' '), '')) END"
    )
    return F.expr(
        f"slice(array_sort(array_distinct(transform({spans}, sp -> {spark_md5_int('sp', 12)}))), 1, 8)"
    )
