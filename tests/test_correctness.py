"""Oracle-differential correctness: every registered query with an oracle is
run on Spark and on DuckDB over the same parquet and must match exactly
(row count + column names + order-insensitive canonical values) — the same
gate the driver applies. Queries without an oracle get a rows-run check."""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd
import pytest

from sqload_spark import registry
from tests.conftest import SF_DIR, SF_SMOKE_DIR, assert_matches_oracle, oracle_mismatch

registry.load_all()

ORACLE_NAMES = sorted(registry.all_oracles())
ROWS_ONLY_NAMES = sorted(set(registry.all_queries()) - set(registry.all_oracles()))


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, duck, name):
    fn = registry.QUERIES[name]
    assert_matches_oracle(fn(spark, SF_DIR), duck, registry.ORACLES[name], name)


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_query_runs(spark, name):
    df = registry.QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_events_loader_normalizes_both_ts_layouts(spark, tmp_path):
    """The driver has shipped events.ts as INT64 TIMESTAMP(NANOS) and as
    TIMESTAMP(MICROS) in different rounds. Re-encode the current table in
    BOTH layouts and assert load_table normalizes them to identical
    (ts_ns, ts) values — the regression that silently broke every
    timeseries query when the layout flipped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sqload_spark.sources.tables import load_table

    src = pq.read_table(f"{SF_SMOKE_DIR}/events.parquet")
    i = src.schema.get_field_index("ts")
    us_col = src.column("ts").cast(pa.timestamp("us"))
    ns_col = us_col.cast(pa.timestamp("ns"))
    for name, col in [("micros", us_col), ("nanos", ns_col)]:
        d = tmp_path / name
        d.mkdir()
        pq.write_table(src.set_column(i, "ts", col), d / "events.parquet")

    rows = {}
    for name in ("micros", "nanos"):
        df = load_table(spark, str(tmp_path / name), "events")
        assert {"ts_ns", "ts"} <= set(df.columns)
        assert df.schema["ts"].dataType.typeName() == "timestamp"
        assert df.schema["ts_ns"].dataType.typeName() == "long"
        rows[name] = sorted(
            (r.event_id, r.ts_ns, r.ts) for r in df.select("event_id", "ts_ns", "ts").collect()
        )
    assert rows["micros"] == rows["nanos"]


def test_oracle_mismatch_rule():
    """The one comparison rule: row count, then column names, then canonical
    values; a renamed column with equal values is a mismatch."""
    du = pd.DataFrame({"a": [1, 2], "sum_rev": [0.5, 1.25]})
    assert oracle_mismatch(du.copy(), du) is None
    assert "columns" in oracle_mismatch(du.rename(columns={"sum_rev": "revenue"}), du)
    assert "row count" in oracle_mismatch(du.iloc[:1], du)
    off = du.assign(sum_rev=[0.5, 1.25 + 1e-9])
    why = oracle_mismatch(off, du)
    assert "values differ" in why and "f:1.250000001" in why and "f:1.25'" in why


@pytest.mark.parametrize(
    "args, code, needle",
    [(["--help"], 0, "--shuffle-partitions"), (["no_such_query"], 2, "unknown queries")],
    ids=["help", "unknown_query"],
)
def test_drive_entry_cli(args, code, needle):
    """drive_entry.py validates names before any session starts."""
    tool = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "drive_entry.py")
    proc = subprocess.run([sys.executable, tool, *args], capture_output=True, text=True, timeout=60)
    assert proc.returncode == code
    assert needle in proc.stdout + proc.stderr
