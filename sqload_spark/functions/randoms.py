"""Deterministic, distributed randomness as Spark SQL expression text.

The reference draws every value from ONE global sequential mt19937
(/root/reference/generate_csv.cpp:28-29) — non-deterministic (random_device
seed) and inherently single-threaded. At 100 TB that design is the
bottleneck, so we re-architect: every draw is a pure function of
``(row id, seed, column index, draw index)`` via ``xxhash64``:

* embarrassingly parallel — no coordination, no state, no shuffle;
* reproducible — the same seed yields the same table at ANY parallelism
  (unlike ``F.rand()``, which folds the partition id into its seed and so
  changes values when partitioning changes);
* codegen-friendly — everything stays inside whole-stage codegen; no UDFs.

The draw helpers take and return SQL text, which the planner hands to one
``F.expr`` per column. Built from ``pyspark.sql.Column`` calls instead, the
wide bulk-load spec cost about 1,500 py4j round trips per plan (PySpark 4
captures the call site of every Column call); the text parses to the same
optimized plan. Integer salts are bare SQL literals, which Spark types as
``F.lit`` does (int when it fits, else bigint); the type matters, because
``xxhash64`` hashes an int and a bigint of equal value differently.

Uniformity notes: ``pmod(hash, n)`` has modulo bias ≤ n/2^64 — immaterial
for every range here (the widest is 2^32). Full-width int64 draws use the
hash value directly.
"""

from __future__ import annotations

# 0-9 A-Z a-z — the reference's varchar charset (generate_csv.cpp:66-67).
ALNUM62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"

_MAX_LONG = (1 << 63) - 1


def _literal(v: int | str) -> str:
    """SQL literal for an int or a plain (quote-free) string salt."""
    return f"'{v}'" if isinstance(v, str) else str(v)


def hash64(x: str, *salts) -> str:
    """Full-width deterministic 64-bit hash of (x, salts...)."""
    return f"xxhash64({', '.join([x, *map(_literal, salts)])})"


def uniform_long(x: str, lo: int, hi: int, *salts) -> str:
    """Uniform integer in [lo, hi] (inclusive), as LongType."""
    n = hi - lo + 1
    if n <= 0:
        raise ValueError(f"empty range [{lo}, {hi}]")
    return f"(pmod({hash64(x, *salts)}, {n}) + {lo})"


def uniform_unit(x: str, *salts) -> str:
    """Uniform double in [0, 1)."""
    return f"(CAST(({hash64(x, *salts)} & {_MAX_LONG}) AS DOUBLE) / {float(1 << 63)!r}D)"


def _salt40(*salts) -> int:
    """Stable 40-bit constant from a salt tuple (md5-derived, python-side)."""
    import hashlib

    digest = hashlib.md5(repr(salts).encode()).digest()
    return int.from_bytes(digest[:8], "little") & ((1 << 40) - 1)


_ID_SPACING = 65536  # > max string length; rows < 2^47 stay overflow-free


def random_string(x: str, length: int | str, charset: str, *salts) -> str:
    """Random fixed- or variable-length string from `charset`.

    `length` may be an int or SQL text; a fixed length of 0 is the empty
    string (``sequence(1, 0)`` would count down to two positions).
    Per-character hashing is ``xxhash64(id*65536 + salt40 + pos)`` — a
    SINGLE long input, which measures ~1.5× faster than hashing (id,
    salts…, pos) as four values (the per-char hash dominates generation
    cost for varchar(50)). ANSI mode forbids wrapping multiplies, so the mix
    is bounded: id spacing 65536 (> any string length) plus a 40-bit
    md5-derived column salt — no overflow below 2^47 rows, and two columns
    only share a shifted character stream if their salts land within
    max-length of each other (P ≈ 2⁻³²)."""
    if length == 0:
        return "''"
    chars = f"array({', '.join(map(_literal, charset))})"
    base = f"({x}) * {_ID_SPACING} + {_salt40('str', charset[:8], *salts)}"
    pick = f"CAST(pmod(xxhash64({base} + pos), {len(charset)}) + 1 AS INT)"
    return f"array_join(transform(sequence(1, {length}), pos -> element_at({chars}, {pick})), '')"


# --- the rkey bijection (unique "random-looking" uint64) -------------------
#
# The reference guarantees global uniqueness WITHOUT coordination by pushing
# a counter through a bijection on uint64 (generate_csv.cpp:149-161,201-204):
# rotate-right-1, then segregate4 = three bit_permute_step rounds (a fixed
# bit shuffle from programming.sirrida.de/calcperm.php). Both are bijections,
# so distinct counters → distinct outputs. We reproduce the same bijection on
# Spark's signed longs (two's-complement bit patterns are identical) — a pure
# expression over `spark.range`'s id, so uniqueness is shuffle-free and scale-free.

_PERMUTE_STEPS = (
    (0x2222222222222222, 1),
    (0x0C0C0C0C0C0C0C0C, 2),
    (0x00F000F000F000F0, 4),
)

_MASK64 = (1 << 64) - 1


def rkey_py(counter: int) -> int:
    """Pure-Python model of the rkey bijection, step by step as the
    reference computes it (the definition the other forms derive from)."""
    x = ((counter << 63) | (counter >> 1)) & _MASK64

    def step(x: int, m: int, shift: int) -> int:
        t = ((x >> shift) ^ x) & m
        return (x ^ t ^ ((t << shift) & _MASK64)) & _MASK64

    for m, s in _PERMUTE_STEPS:
        x = step(x, m, s)
    return x


def _rkey_shifts() -> tuple[tuple[int, int], ...]:
    """``(mask, shift)`` pairs with ``rkey_py(x) == OR of (x & mask) << shift``
    (a negative shift moves right, unsigned).

    rotr1 and the permute steps only move bits, so the bijection sends input
    bit i to one fixed output bit; grouping the 64 input bits by how far
    they move gives one masked shift per distance. Evaluated this way the
    counter is read once per distance, where the step form nests its input
    three times per step (27 copies in an unfolded expression tree)."""
    by_shift: dict[int, int] = {}
    for i in range(64):
        out = rkey_py(1 << i)
        assert out & (out - 1) == 0, "rkey is not a bit permutation"
        d = out.bit_length() - 1 - i
        by_shift[d] = by_shift.get(d, 0) | (1 << i)
    return tuple((mask, d) for d, mask in sorted(by_shift.items()))


#: The rkey bijection as masked shifts; shared by rkey_long and the Arrow
#: backend's vectorized rkey.
RKEY_SHIFTS = _rkey_shifts()


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >> 63 else v


def rkey_long(counter: str) -> str:
    """segregate4(rotr1(counter)) as a signed long (same 64 bits as the ref's uint64)."""
    parts = []
    for mask, shift in RKEY_SHIFTS:
        bits = f"({counter} & {_signed64(mask)})"
        parts.append(f"shiftleft({bits}, {shift})" if shift >= 0 else f"shiftrightunsigned({bits}, {-shift})")
    return f"({' | '.join(parts)})"


def as_uint64_decimal(signed: str) -> str:
    """Reinterpret a signed long's bits as unsigned, printable as the
    reference prints uint64 (values ≥ 2^63 appear; Spark has no unsigned
    type, so DecimalType(20,0) carries the value)."""
    dec = f"CAST({signed} AS DECIMAL(20,0))"
    wrap = "CAST('18446744073709551616' AS DECIMAL(21,0))"
    return f"CASE WHEN {signed} >= 0 THEN {dec} ELSE CAST({dec} + {wrap} AS DECIMAL(20,0)) END"
