"""`sqload` as a first-class Spark data source (Python Data Source API,
Spark 4+): ``spark.read.format("sqload").option("rows", N).option("spec",
"...").load()``.

This is the idiomatic end-state of the reference port: the generator is not
a helper function you call, it is a SOURCE the engine plans like any other
— schema resolved from the type-spec at analysis time, row ranges split
into input partitions that executors generate independently, values
streamed out as Arrow record batches (never row-at-a-time Python objects).
Column semantics are exactly the arrow backend's
(sources/generate_arrow.py::record_batch — same SplitMix64 draw streams, same
key/rkey bijection), so the source is bit-identical to
``generate_table(..., impl="arrow")`` for every type whose draw does not
depend on wall clock, and the determinism law (same rows/spec/seed ⇒ same
table at ANY partition count) carries over: draws hash the row id, not the
partition.

Registration is per-session: ``spark.dataSource.register(SqloadDataSource)``
(see ``register`` helper). Options: rows (default 100000), spec (default =
the reference's default column list), seed (default 0), partitions
(default 8), now_epoch (upper bound for the `timestamp` type — fixed at
plan time so all partitions agree).
"""

from __future__ import annotations

import time

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from sqload_spark.plans.spec_parser import parse_spec
from sqload_spark.sources.generate import DEFAULT_SPEC, _arrow_schema_type


class _Range(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SqloadDataSource(DataSource):
    """Synthetic-table source speaking the reference's column-spec grammar."""

    @classmethod
    def name(cls) -> str:
        return "sqload"

    def schema(self) -> str:
        specs = parse_spec(self.options.get("spec", DEFAULT_SPEC))
        return ", ".join(f"c{i} {_arrow_schema_type(s)}" for i, s in enumerate(specs))

    def reader(self, schema) -> "SqloadReader":
        return SqloadReader(dict(self.options))

    def streamReader(self, schema) -> "SqloadStreamReader":
        return SqloadStreamReader(dict(self.options))


class SqloadReader(DataSourceReader):
    def __init__(self, options: dict):
        self.rows = int(options.get("rows", 100_000))
        self.spec = options.get("spec", DEFAULT_SPEC)
        self.seed = int(options.get("seed", 0))
        self.n_parts = max(1, int(options.get("partitions", 8)))
        self.now_epoch = int(options.get("now_epoch", time.time()))

    def partitions(self):
        per = -(-self.rows // self.n_parts)
        return [
            _Range(lo, min(lo + per, self.rows))
            for lo in range(0, self.rows, per)
        ]

    def read(self, partition: _Range):
        return _read_range(partition, self.spec, self.seed, self.now_epoch)


_BATCH_ROWS = 65536  # keeps string offsets far below the int32 limit


def _read_range(partition: _Range, spec: str, seed: int, now_epoch: int):
    """Arrow record batches of the rows in ``partition``, built by the arrow
    backend (runs on executors: imported lazily so the pickled reader is tiny)."""
    import numpy as np

    from sqload_spark.sources.generate_arrow import U64, record_batch

    specs = parse_spec(spec)
    for lo in range(partition.start, partition.end, _BATCH_ROWS):
        ids = np.arange(lo, min(lo + _BATCH_ROWS, partition.end), dtype=U64)
        yield record_batch(ids, specs, seed, now_epoch)


def register(spark) -> None:
    """Idempotent per-session registration of the `sqload` format."""
    spark.dataSource.register(SqloadDataSource)


class SqloadStreamReader(DataSourceStreamReader):
    """Micro-batch stream of generated rows: offsets are row counters, each
    trigger emits the next ``rows_per_batch`` ids, values are the SAME pure
    function of (row id, seed, column) as the batch reader — so any prefix
    of the stream is bit-identical to the batch table's prefix (asserted in
    tests). Offsets are plain dicts {"row": n}: exactly-once replay after a
    crash is Spark re-asking for the same [start, end) id range, which
    regenerates identical rows — the source is effortlessly replayable
    because generation is deterministic, the property a real queue needs
    retention to provide."""

    def __init__(self, options: dict):
        self.spec = options.get("spec", DEFAULT_SPEC)
        self.seed = int(options.get("seed", 0))
        # option keys arrive lower-cased (CaseInsensitiveDict)
        self.rows_per_batch = int(options.get("rowsperbatch", 10_000))
        self.max_rows = int(options.get("maxrows", 100_000))
        self.n_parts = max(1, int(options.get("partitions", 4)))
        self.now_epoch = int(options.get("now_epoch", time.time()))

    def initialOffset(self) -> dict:
        return {"row": 0}

    def latestOffset(self) -> dict:
        # advance one batch per trigger, capped at the configured end
        self._latest = getattr(self, "_latest", 0)
        self._latest = min(self._latest + self.rows_per_batch, self.max_rows)
        return {"row": self._latest}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["row"], end["row"]
        per = max(1, -(-(hi - lo) // self.n_parts))
        return [_Range(a, min(a + per, hi)) for a in range(lo, hi, per)]

    def read(self, partition: _Range):
        return _read_range(partition, self.spec, self.seed, self.now_epoch)

    def commit(self, end: dict) -> None:
        pass
