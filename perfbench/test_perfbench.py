"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q`` from the
repository root. The last two start Spark; the traced-run test runs one
short workload end to end (about a minute on 4 cores)."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
from tracing import Tracer  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
BENCHMARK = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def test_names_and_units_are_well_formed():
    names = [w["name"] for w in BENCHMARK["workloads"]]
    names += [m["name"] for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]]
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    assert len(names) == len(set(names))
    units = [m["unit"] for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]]
    assert all(UNIT.fullmatch(u) for u in units)
    assert all(0 < m["bound"] <= 0.25 for m in BENCHMARK["end_to_end"])
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(run.SPEC["workloads"])


def test_every_listed_query_is_registered():
    from sqload_spark import registry

    registry.load_all()
    listed = [q for w in run.SPEC["workloads"].values() for q in w.get("queries", [])]
    assert listed and not [q for q in listed if q not in registry.QUERIES]
    for q in listed:
        module = registry.QUERIES[q].__module__.removeprefix("sqload_spark.").removeprefix("operators.")
        assert module in run.OP_MODULES, q
    assert not [q for q in listed if q not in registry.ORACLES]


def test_self_time_subtracts_children():
    tracer = Tracer("t")
    tracer.pass_id = 0
    with tracer.span("pass"):
        with tracer.span("op"):
            with tracer.span("child"):
                time.sleep(0.05)
            time.sleep(0.02)
    self_s = tracer.self_times([0])
    assert self_s["child"] == pytest.approx(0.05, abs=0.02)
    assert self_s["op"] == pytest.approx(0.02, abs=0.015)
    assert self_s["pass"] < 0.01
    assert tracer.total("child", 0) == pytest.approx(self_s["child"])


def test_injected_wrong_row_raises_error_rate():
    import duckdb
    import pandas as pd
    from checks import Tally, oracle_mismatch

    duck = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 1.5)) t(k, s, x)"
    right = pd.DataFrame({"k": [2, 1], "s": ["b", "a"], "x": [1.5, 0.5]})
    wrong = right.copy()
    wrong.loc[0, "x"] = 1.25
    tally = Tally()
    tally.record(oracle_mismatch(right, duck, sql) is None)
    assert tally.error_rate == 0
    tally.record(oracle_mismatch(wrong, duck, sql) is None)
    assert tally.failed == 1 and tally.error_rate == 0.5


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = SparkSession.builder.master("local[2]").appName("perfbench-selftest").getOrCreate()
    yield session
    session.stop()


def test_digest_is_order_insensitive(spark):
    from checks import digest

    rows = [(i, f"s{i % 7}", i * 0.1, [float(i), 1.0 / (i + 1)]) for i in range(200)]
    schema = "k long, s string, x double, v array<double>"
    a = spark.createDataFrame(rows, schema).repartition(3)
    b = spark.createDataFrame(list(reversed(rows)), schema).coalesce(1)
    assert digest(a) == digest(b)
    changed = rows[:-1] + [(199, "s3", 20.5, [199.0, 0.005])]
    assert digest(spark.createDataFrame(changed, schema)) != digest(a)


def _result(stdout: str) -> dict | None:
    lines = stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def test_run_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [*BENCHMARK["command"], "--workload", "bulk_load", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert _result(out.stdout) is None


def test_traced_spans_cover_the_pass_wall():
    out = subprocess.run(
        [*BENCHMARK["command"], "--workload", "queries", "--seed", "7", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = _result(out.stdout)
    assert res["correct"] and res["failed"] == 0
    metrics = {k: m["value"] for k, m in res["metrics"].items()}
    assert set(metrics) == set(run.PER_LAYER)
    wall = sum(metrics[f"ops.{m}.build_s"] + metrics[f"ops.{m}.exec_s"] for m in run.OP_MODULES)
    # Everything in a pass outside the spans around package calls is the
    # benchmark's own glue, and it must stay a sliver of the wall.
    assert metrics["trace.glue_s"] < 0.02 * wall
    assert metrics["sched.jobs"] > 0 and metrics["stream.batches"] > 0
