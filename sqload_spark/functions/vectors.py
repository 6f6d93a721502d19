"""Vector math over ``array<float>`` embedding columns — pure Catalyst
expressions (``zip_with`` / ``aggregate``), no UDFs, so similarity scans stay
inside whole-stage codegen and scale with partitions.

All arithmetic is done in double (the float32 inputs are upcast first) so
results are reproducible against the DuckDB oracle's DOUBLE[] math.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


EMB_DIM = 64  # the pipeline's fixed model width — single-sourced here


def to_double_array(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ — left-to-right fold, deterministic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def dot_fold_sql(a: str, b: str) -> str:
    """``dot`` (the zip_with/aggregate fold) as ONE SQL string over
    column/field names, for ``F.expr`` / ``selectExpr`` at construction
    sites: one server-side parse instead of a py4j round trip per
    Column call (r11: a 32-plane LSH signature built term by term
    measured 5-11 s of driver-side build per invocation). Same
    left-to-right association as ``dot``, so every IEEE result is
    bit-identical. Width-agnostic: the fold never indexes past the end,
    so it needs no fixed-dim contract.

    FORM CHOICE (re-measured r12): use this fold on ARRAY columns. The
    alternative, a flat ``element_at(a, i) * element_at(b, i)`` sum, wins
    only where the terms are already flat SCALAR columns (dedup's
    ``_cosine_dups`` over unpacked ``a{i} * b{i}``, ~2M pairs: it
    codegens compactly and beat the fold 4×). Over array columns its 64
    element_at calls generate a method past the whole-stage-codegen size
    limit: the stage falls back and the giant expression evaluates slowly
    EVERY run (profiled at sf0.1: a NO_CODEGEN session ran the same 80
    K-pair plan 2.6× faster, and the cost never amortizes across runs);
    the fold measured 1.3-2.5× faster per query across the seven sim
    entries, both A/B orders, rows identical. The two forms differ only
    by the fold's leading ``0.0 +``, IEEE-identical on every term
    sequence except an all-signed-zero dot."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


# Norm of the double-array column ``v`` (sources.tables.load_vectors'
# vector), computed once per vector: Spark has no cross-row CSE, so an
# in-pair norm recomputes both self-dots on every pair row.
NORM_SQL = f"sqrt({dot_fold_sql('v', 'v')})"


def cosine_sql(a: str, b: str, na: str, nb: str) -> str:
    """Cosine of array columns ``a`` and ``b`` given their norm columns
    ``na`` and ``nb`` (each ``NORM_SQL`` of its vector), as SQL text.
    ``sqrt(a·a) * sqrt(b·b)`` is the product an in-pair cosine divides
    by, so the value is the same IEEE double."""
    return f"({dot_fold_sql(a, b)}) / ({na} * {nb})"


# ---------------------------------------------------------------------------
# Embedding validity contract.
#
# A real 100 TB corpus contains degenerate vectors: all-zero (failed
# encoder call), NULL (missing row), NaN/inf or absurd magnitudes
# (serialization bugs). Cosine is UNDEFINED on a zero vector — under ANSI
# mode (Spark 4's default) the division even raises DIVIDE_BY_ZERO and
# kills the stage — and the fixed-point receipt paths (Gram matrix,
# centroid means) are exact only on bounded magnitudes. The engine's
# contract, applied identically in every embedding query AND its DuckDB
# oracle (so dirty corpora stay hash-comparable, see
# tools/adversarial_run.py): an embedding participates only if it is
# finite, |x| <= EMB_MAX_ABS on every coordinate, and has positive norm.
# Typical model embeddings are ~unit-norm, so on any sane corpus the
# filter keeps everything; on a dirty one both engines drop the same rows
# instead of crashing (Spark) or inventing cosine = -1 sentinels
# (DuckDB's list_cosine_similarity on a zero vector).
# ---------------------------------------------------------------------------
EMB_MAX_ABS = 1e6


def valid_embedding(v: Column) -> Column:
    """Contract predicate over a raw ``array<float>`` column. NULL input
    yields NULL (row dropped by ``filter``). NaN is excluded by the
    EXPLICIT ``isnan`` conjunct below — not by the magnitude bound: Spark
    orders NaN GREATER than every number (``NaN > 0`` is TRUE), so without
    the guard, NaN exclusion would ride on ``abs(NaN) <= EMB_MAX_ABS``
    happening to evaluate false, and a relaxed or reordered bound check
    could silently admit NaN vectors. DuckDB also sorts NaN above all
    numbers, so its oracle-side max-bound check rejects NaN the same way;
    inf fails the bound check in both engines.

    The EMB_DIM width check is part of the contract (round-7 review): the
    hot per-pair paths are flat EMB_DIM-term expanded sums, so a
    wrong-width vector that slipped past the filter would either raise
    INVALID_ARRAY_INDEX under ANSI (too short) or silently truncate the
    sum (too long) — the contract drops it on BOTH engines instead."""
    dv = to_double_array(v)
    return (
        (F.size(dv) == EMB_DIM)
        & (dot(dv, dv) > 0)
        & F.forall(dv, lambda x: ~F.isnan(x))
        & F.forall(dv, lambda x: F.abs(x) <= F.lit(EMB_MAX_ABS))
    )


# Same predicate for DuckDB oracles, over the raw `embedding` column. The
# leading IS NOT NULL must stay FIRST: DuckDB's list_dot_product raises on
# a NULL list when it is the first conjunct evaluated over a parquet scan
# (the AND mask shields it), while Spark's filter simply drops the NULL.
# The bound literal is interpolated from EMB_MAX_ABS so the Spark predicate
# and every DuckDB oracle share ONE constant (a hardcoded twin would let an
# edit to the Python constant silently desynchronize all oracles). NaN is
# rejected by the max-bound conjunct here (DuckDB sorts NaN above all
# numbers, so the list max of a NaN-bearing vector is NaN and NaN <= bound
# is false) — mirroring the Spark side's explicit isnan guard.
EMB_VALID_SQL = (
    "(embedding IS NOT NULL"
    f" AND len(embedding) = {EMB_DIM}"
    " AND list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0"
    " AND list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)), 'max')"
    f" <= {EMB_MAX_ABS!r})"
)

# The contract-filtered embeddings scan, for oracles: the DuckDB twin of
# sources.tables.load_embeddings.
EMB_SQL = f"(SELECT * FROM embeddings WHERE {EMB_VALID_SQL})"
