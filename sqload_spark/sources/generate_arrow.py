"""Arrow/numpy generator backend — the vectorized-Python alternative to the
Catalyst-expression planner (plans/planner.py).

Same semantics, same determinism law (every value a pure function of
(row id, seed, column, draw)), different execution: ``mapInArrow`` streams
id batches into numpy, where a vectorized SplitMix64 produces the draws,
and every column leaves as an Arrow array built straight from numpy
buffers — no per-row Python objects on the way out:

* strings are an offsets buffer over a (rows × length) byte matrix of
  charset bytes (variable-length rows keep the first ``length`` bytes);
* dates are ``date32`` day counts, ``datetime``/``timestamp`` are int64
  microseconds;
* decimals are assembled as Arrow decimals from their two integer draws.

Exists because the expression path's per-character cost goes through
Spark's interpreted higher-order-function machinery (~130 K rows/s/core
for varchar(50)); numpy does the same work ~3× faster per core, at the
price of Python workers in the pipeline. ``generate_table`` picks this
backend for string-heavy specs; pass ``impl="arrow"`` to force it.

The randomness differs numerically from the JVM path (SplitMix64 vs
xxhash64) — both satisfy the same distribution laws; outputs are not meant
to be bit-identical across backends (key/rkey ARE identical: key is the id,
rkey is the same bijection, from the same masked-shift table).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from sqload_spark.functions.randoms import RKEY_SHIFTS
from sqload_spark.plans.spec_parser import ColumnSpec

U64 = np.uint64
_CHARSET62 = np.frombuffer(
    b"0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz", dtype=np.uint8
)
_CHARSET26 = np.frombuffer(b"ABCDEFGHIJKLMNOPQRSTUVWXYZ", dtype=np.uint8)
_US_PER_S = 1_000_000


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = x + U64(0x9E3779B97F4A7C15)
    z = (x ^ (x >> U64(30))) * U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> U64(27))) * U64(0x94D049BB133111EB)
    return z ^ (z >> U64(31))


def _draw(ids: np.ndarray, seed: int, col: int, j: int) -> np.ndarray:
    """One uint64 draw per row for (seed, column, draw-index)."""
    salt = U64((seed * 1_000_003 + col * 1031 + j * 7919) & 0xFFFFFFFFFFFFFFFF)
    return _splitmix64(ids * U64(0x9E3779B97F4A7C15) + salt)


def _uniform(ids, lo: int, hi: int, seed, col, j=0) -> np.ndarray:
    span = U64(hi - lo + 1)
    return (_draw(ids, seed, col, j) % span).astype(np.int64) + lo


def _string_array(n: int, offsets: np.ndarray, data: np.ndarray) -> pa.Array:
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(np.ascontiguousarray(data))
    )


def _strings(ids, lengths, charset: np.ndarray, seed, col) -> pa.Array:
    """Random strings with per-row lengths (int or array)."""
    n = len(ids)
    max_len = int(lengths if np.isscalar(lengths) else lengths.max(initial=0))
    pos = np.arange(max_len, dtype=U64)
    salt = U64((seed * 1_000_003 + col * 1031 + 101) & 0xFFFFFFFFFFFFFFFF)
    h = _splitmix64((ids * U64(65536) + salt)[:, None] + pos[None, :])
    chars = charset[(h % U64(len(charset))).astype(np.uint8)]
    if np.isscalar(lengths):
        return _string_array(n, np.arange(n + 1) * max_len, chars)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    return _string_array(n, offsets, chars[pos[None, :] < lengths[:, None].astype(U64)])


def _rkey(counters: np.ndarray) -> np.ndarray:
    """The reference rkey bijection, vectorized (same bits as rkey_py)."""
    out = np.zeros_like(counters)
    for mask, shift in RKEY_SHIFTS:
        bits = counters & U64(mask)
        out |= bits << U64(shift) if shift >= 0 else bits >> U64(-shift)
    return out


def _days(ids, seed, col) -> np.ndarray:
    """Calendar date from three draws (year, month, day ≤ 28), as datetime64[D]."""
    y = _uniform(ids, 1900, 2021, seed, col, 0)
    m = _uniform(ids, 1, 12, seed, col, 1)
    d = _uniform(ids, 1, 28, seed, col, 2)
    months = ((y - 1970) * 12 + m - 1).astype("M8[M]")
    return months.astype("M8[D]") + (d - 1).astype("m8[D]")


def _decimal(ids, spec: ColumnSpec, seed, col) -> pa.Array:
    """Integer part plus fraction digits, summed as Arrow decimals.

    The unscaled value ipart·10^s + frac can pass 64 bits (p ≤ 36), so
    both parts enter decimal128(19 + s, s), wide enough for any int64 at
    scale s: ipart by cast, frac as its own unscaled value."""
    p, s = spec.precision, spec.scale
    if p - s > 18 or s > 18:
        raise ValueError(f"decimal({p},{s}) not supported")
    n = len(ids)
    ipart = _uniform(ids, 0, 10 ** (p - s) - 1, seed, col, 0) if p > s else np.zeros(n, np.int64)
    frac = _uniform(ids, 0, 10**s - 1, seed, col, 1) if s > 0 else np.zeros(n, np.int64)
    wide = pa.decimal128(19 + s, s)
    unscaled = np.stack([frac, np.zeros_like(frac)], axis=1)  # 128-bit little-endian words
    frac_dec = pa.Array.from_buffers(wide, n, [None, pa.py_buffer(unscaled)])
    return pc.add(pa.array(ipart).cast(wide), frac_dec).cast(pa.decimal128(p, s))


def _column(ids: np.ndarray, spec: ColumnSpec, seed: int, col: int, now_epoch: int) -> pa.Array:
    """Column ``col`` for these row ids, typed as ``generate._arrow_schema_type`` declares."""
    t = spec.type
    n = len(ids)
    if t == "key":
        return pa.array(ids.astype(np.int64))
    if t == "rkey":
        # gRKey is pre-incremented (generate_csv.cpp:202): row i uses counter i+1.
        return pa.array(_rkey(ids + U64(1))).cast(pa.decimal128(20, 0))
    if t == "bit":
        return pa.array(_uniform(ids, 0, 1, seed, col).astype(np.int32))
    if t == "tinyint":
        return pa.array(_uniform(ids, -128, 127, seed, col).astype(np.int8))
    if t == "smallint":
        return pa.array(_uniform(ids, -32768, 32767, seed, col).astype(np.int16))
    if t == "mediumint":
        return pa.array(_uniform(ids, -8388608, 8388607, seed, col).astype(np.int32))
    if t == "int":
        return pa.array(_uniform(ids, -(2**31), 2**31 - 1, seed, col).astype(np.int32))
    if t == "bigint":
        return pa.array(_draw(ids, seed, col, 0).astype(np.int64))
    if t == "float":
        u = _draw(ids, seed, col, 0) >> U64(11)
        return pa.array(
            ((u.astype(np.float64) / float(1 << 53)) * 2 - 1).astype(np.float32) * np.float32(1e38)
        )
    if t == "double":
        u = _draw(ids, seed, col, 0) >> U64(11)
        return pa.array(((u.astype(np.float64) / float(1 << 53)) * 2 - 1) * 2147483647.0)
    if t in ("char", "nchar"):
        return _strings(ids, spec.length, _CHARSET26, seed, col)
    if t in ("varchar", "varchar2", "nvarchar2"):
        return _strings(ids, spec.length, _CHARSET62, seed, col)
    if t in ("text", "blob"):
        lengths = _uniform(ids, 1, 256, seed, col, j=9)
        return _strings(ids, lengths, _CHARSET62, seed, col)
    if t == "date":
        return pa.array(_days(ids, seed, col))
    if t == "datetime":
        hh = _uniform(ids, 0, 23, seed, col, 3)
        mm = _uniform(ids, 0, 59, seed, col, 4)
        ss = _uniform(ids, 0, 59, seed, col, 5)
        secs = _days(ids, seed, col).astype(np.int64) * 86400 + hh * 3600 + mm * 60 + ss
        return pa.array(secs * _US_PER_S, pa.timestamp("us"))
    if t == "timestamp":
        secs = _uniform(ids, 1, now_epoch, seed, col)
        return pa.array(secs * _US_PER_S, pa.timestamp("us", tz="UTC"))
    if t == "time":
        hh = _uniform(ids, 0, 23, seed, col, 0)
        mm = _uniform(ids, 0, 59, seed, col, 1)
        ss = _uniform(ids, 0, 59, seed, col, 2)
        chars = np.stack([hh // 10, hh % 10, hh, mm // 10, mm % 10, mm, ss // 10, ss % 10], axis=1)
        chars = (chars + ord("0")).astype(np.uint8)
        chars[:, [2, 5]] = ord(":")  # HH:MM:SS
        return _string_array(n, np.arange(n + 1) * 8, chars)
    if t == "year":
        return pa.array(_uniform(ids, 1901, 2155, seed, col).astype(np.int32))
    if t in ("decimal", "number"):
        return _decimal(ids, spec, seed, col)
    return _string_array(n, np.zeros(n + 1), np.zeros(0, np.uint8))


def record_batch(ids: np.ndarray, specs: list[ColumnSpec], seed: int, now_epoch: int) -> pa.RecordBatch:
    """The generated columns ``c0..c{n-1}`` for these row ids (uint64)."""
    return pa.RecordBatch.from_arrays(
        [_column(ids, spec, seed, i, now_epoch) for i, spec in enumerate(specs)],
        names=[f"c{i}" for i in range(len(specs))],
    )


def arrow_generator(specs: list[ColumnSpec], seed: int):
    """Build the mapInArrow function for these specs."""
    now_epoch = int(time.time())

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column(0).to_numpy().astype(U64)
            yield record_batch(ids, specs, seed, now_epoch)

    return gen
