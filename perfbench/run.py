"""Benchmark for the sqload_spark package: one workload per invocation.

    python3 perfbench/run.py --workload bulk_load --seed 1 --seconds 12 --trace 0

Run from the repository root. Workloads, sizes, query lists and the
layer-to-metric map are in ``perfbench/workloads.json``.

One run:

1. builds the workload's inputs from ``--seed`` (a seed-permuted copy of
   the test corpus tables in ``perfbench/data`` for ``queries``;
   ``bulk_load`` generates its own rows);
2. sets up a warm session (``get_spark``, ``registry.load_all`` and a fixed
   warm-up), timed from process start as ``setup_s``. One cold set-up costs
   about 12 s on 4 cores, so a run takes one sample and the medians are
   taken across runs;
3. runs one untimed check pass, which warms the workload's plans and checks
   every output against its oracle or generator digest, then ``WARM_PASSES``
   more untimed passes;
4. repeats timed passes for ``--seconds`` (at least ``min_passes``), each
   verified against the check pass, and reports medians.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of the traced passes, which
alternate with untraced ones so that the tracing overhead is measured in the
same process. Exits non-zero without a result line when the package is
missing or a run cannot complete.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
import uuid

import corpus
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(HERE, "workloads.json")))
WORK = os.path.join(ROOT, ".perfbench_work")
TRACE_OUT = os.path.join(ROOT, ".perfbench_out")

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
END_TO_END = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
# Operator and streaming modules, from the ops.<module>.<part> metric names.
OP_MODULES = sorted({n.removeprefix("ops.").rsplit(".", 1)[0] for n in PER_LAYER if n.startswith("ops.")})
# The JIT is still compiling after the check pass: the next pass runs
# 10-25% slower than the ones after it.
WARM_PASSES = 1
# Spans whose totals are per-layer metrics of the same name plus "_s".
SPAN_METRICS = [
    "plans.parse", "plans.build", "generate.build", "generate.exec", "sinks.write",
    "readback.scan", "host.sentinel",
    *[f"ops.{m}.{k}" for m in OP_MODULES for k in ("build", "exec")],
]


def process_age_s() -> float:
    """Seconds since this process was started (Linux /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Hadoop's .crc and _SUCCESS files count as bytes only."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += not (n.startswith(".") or n.startswith("_"))
    return total, files


def prepare_environment(trace: bool) -> None:
    """Size the run for this host and keep every file it writes in WORK."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "local", "conf", "events", "out", "corpus"):
        os.makedirs(os.path.join(WORK, sub))
    host = SPEC["host"]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host["driver_memory"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_CONF_DIR"] = os.path.join(WORK, "conf")
    # Python workers unpickle package functions by import path.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # A fixed heap size, not pre-touched: G1 then never grows the heap in
    # GC-timing-dependent steps, which made VmHWM jump by about 400 MB
    # between runs, and VmHWM still follows the pages the run touches.
    defaults = {
        "spark.driver.extraJavaOptions": (
            f"-Xms{host['driver_memory']} -Djava.io.tmpdir={WORK}/tmp -Dderby.system.home={WORK}/tmp"
        ),
        "spark.sql.warehouse.dir": f"{WORK}/tmp/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        defaults.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{WORK}/events",
            }
        )
    with open(os.path.join(WORK, "conf", "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in defaults.items())
    sys.path.insert(0, ROOT)
    os.chdir(os.path.join(WORK, "tmp"))


def warm_up(spark) -> None:
    """Fixed warm-up: one small job through the scheduler and codegen."""
    spark.range(1000).count()


def set_up(tracer):
    """Import the package, start a session, load the registry, warm up."""
    with tracer.span("setup"):
        session = importlib.import_module("sqload_spark.session")
        registry = importlib.import_module("sqload_spark.registry")
        with tracer.span("session.start"):
            spark = session.get_spark("perfbench")
        with tracer.span("registry.load"):
            registry.load_all()
        with tracer.span("warmup"):
            warm_up(spark)
    return spark


class Workload:
    """One workload's passes; subclasses commit and verify their outputs."""

    def __init__(self, name: str, spark, tracer, seed: int, tables: dict[str, int]) -> None:
        self.name = name
        self.tables = tables
        self.spec = SPEC["workloads"][name]
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.out = os.path.join(WORK, "out")
        from checks import Tally

        self.tally = Tally()

    def layer(self, name: str | None) -> None:
        self.spark.sparkContext.setLocalProperty(tracing.LAYER_PROP, name)

    def ok(self, ok: bool, what: str) -> None:
        self.tally.record(ok)
        if not ok:
            print(f"FAILED {self.name}: {what}", file=sys.stderr)

    def sentinel(self) -> None:
        with self.tracer.span("host.sentinel"):
            self.spark.range(1_000_000).selectExpr("sum(id)").collect()


class BulkLoad(Workload):
    def __init__(self, *args) -> None:
        super().__init__(*args)
        from sqload_spark.plans import spec_parser
        from sqload_spark.sources import generate, sinks

        self.parse_spec = spec_parser.parse_spec
        self.generate_table = generate.generate_table
        self.sinks = sinks
        s = self.spec
        self.ref_rows, self.wide_rows = s["reference_rows"], s["wide_rows"]
        self.lo = self.wide_rows // 2
        self.hi = self.lo + self.wide_rows // 8

    def generate(self, spec: str, rows: int):
        with self.tracer.span("plans.parse"):
            specs = self.parse_spec(spec)
        with self.tracer.span("generate.build"):
            return self.generate_table(self.spark, rows, specs, seed=self.seed)

    def run_pass(self, check: bool) -> dict:
        from checks import digest, digests
        from pyspark.sql import functions as F

        csv_path, pq_path = os.path.join(self.out, "ref_csv"), os.path.join(self.out, "wide")
        self.layer("load")
        with self.tracer.span("wall") as wall:
            with self.tracer.span("op.reference_csv"):
                ref = self.generate(self.spec["reference_spec"], self.ref_rows)
                with self.tracer.span("sinks.write"):
                    self.sinks.write_reference_csv(ref, csv_path)
            with self.tracer.span("op.wide_parquet"):
                wide = self.generate(self.spec["wide_spec"], self.wide_rows)
                with self.tracer.span("sinks.write"):
                    self.sinks.write_partitioned_parquet(wide, pq_path, range_key="c0")

        self.layer("readback")
        with self.tracer.span("readback.scan") as readback:
            back = self.spark.read.parquet(pq_path)
            pruned = back.filter(F.col("c0").between(self.lo, self.hi - 1))
            got = digests({"pruned": pruned, "full": back})
        (pruned_rows, _), (full_rows, full_digest) = got["pruned"], got["full"]
        self.layer(None)

        self.ok(pruned_rows == self.hi - self.lo, f"pruned read returned {pruned_rows} rows")
        self.ok(full_rows == self.wide_rows, f"full scan returned {full_rows} rows")
        if check:
            # The timestamp type's upper bound is the clock at plan time, so
            # the expected digest comes from the very DataFrame written.
            self.ok(digest(wide) == (full_rows, full_digest), "read-back digest differs from generated rows")
            csv_rows = self.spark.read.text(csv_path).count()
            self.ok(csv_rows == self.ref_rows, f"reference CSV has {csv_rows} lines")
        rows = self.ref_rows + self.wide_rows
        stored = dir_size(csv_path)[0] + dir_size(pq_path)[0]
        for path in (csv_path, pq_path):
            b, n = dir_size(path)
            self.tracer.count("sinks.bytes", b)
            self.tracer.count("sinks.files", n)
        self.tracer.count("sinks.rows", rows)
        if self.tracer.pass_id is not None:  # traced passes only
            self.layer("generate")
            with self.tracer.span("generate.exec"):
                self.generate(self.spec["reference_spec"], self.ref_rows).write.mode(
                    "overwrite"
                ).format("noop").save()
            self.tracer.count("generate.rows", self.ref_rows)
            self.layer(None)
        return {"wall": duration(wall), "readback": duration(readback), "rows": rows, "bytes": stored}


class QueryWorkload(Workload):
    def __init__(self, *args) -> None:
        super().__init__(*args)
        import duckdb
        from sqload_spark import registry
        from sqload_spark.sources import sinks

        self.registry = registry
        self.sinks = sinks
        self.corpus_dir = os.path.join(WORK, "corpus")
        self.duck = duckdb.connect()
        for t in self.tables:
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.corpus_dir}/{t}.parquet')"
            )
        self.refs: dict[str, tuple[int, int] | None] = {}

    def run_pass(self, check: bool) -> dict:
        from checks import digests, oracle_mismatch

        failed: set[str] = set()
        with self.tracer.span("wall") as wall:
            for name in self.spec["queries"]:
                fn = self.registry.QUERIES[name]
                module = fn.__module__.removeprefix("sqload_spark.").removeprefix("operators.")
                self.layer(f"op:{name}")
                try:
                    with self.tracer.span(f"op.{name}"):
                        with self.tracer.span(f"ops.{module}.build"):
                            df = fn(self.spark, self.corpus_dir)
                        with self.tracer.span(f"ops.{module}.exec"), self.tracer.span("sinks.write"):
                            self.sinks.write_partitioned_parquet(df, os.path.join(self.out, name))
                except Exception:  # one failed query must not end the run
                    traceback.print_exc()
                    failed.add(name)
                self.tracer.count(f"ops.{module}.count")

        self.layer("readback")
        with self.tracer.span("readback.scan") as readback:
            back = digests(
                {
                    name: self.spark.read.parquet(os.path.join(self.out, name))
                    for name in self.spec["queries"]
                    if name not in failed
                }
            )
        self.layer(None)

        rows = stored = 0
        for name in self.spec["queries"]:
            if name in failed:
                self.ok(False, f"{name} raised")
                continue
            path = os.path.join(self.out, name)
            if check:
                result = self.spark.read.parquet(path).toPandas()
                why = oracle_mismatch(result, self.duck, self.registry.ORACLES[name])
                self.refs[name] = back[name] if why is None else None
                self.ok(why is None, f"{name}: {why}")
            else:
                self.ok(self.refs.get(name) == back[name], f"{name}: read-back digest differs from the checked output")
            b, n = dir_size(path)
            rows += back[name][0]
            stored += b
            self.tracer.count("sinks.bytes", b)
            self.tracer.count("sinks.files", n)
            self.tracer.count("sinks.rows", back[name][0])
        return {"wall": duration(wall), "readback": duration(readback), "rows": rows, "bytes": stored}


WORKLOADS = {"bulk_load": BulkLoad, "queries": QueryWorkload}


class Instruments:
    """The traced-only collectors, attached for one pass at a time."""

    def __init__(self, spark, tracer) -> None:
        from sqload_spark.operators import etl
        from sqload_spark.sources import generate

        self.spark, self.tracer = spark, tracer
        self.etl, self.generate = etl, generate

    def attach(self) -> None:
        t, tr = tracing, self.tracer

        def sink_size(_result, args, kwargs):
            path = kwargs.get("path", args[1] if len(args) > 1 else None)
            if isinstance(path, str) and os.path.isdir(path):
                b, n = dir_size(path)
                tr.count("sinks.bytes", b)
                tr.count("sinks.files", n)

        self.undo = [
            t.register_phase_listener(self.spark, tr),
            t.register_stream_listener(self.spark, tr),
            t.wrap_calls(tr, [self.generate], "plan_columns", "plans.build"),
            # Sink calls made inside query code (the ETL writes). The
            # benchmark's own commits already sit in a sinks.write span, so
            # only the names the query modules call are wrapped.
            t.wrap_calls(tr, [self.etl], "write_partitioned_parquet", "sinks.write", sink_size),
        ]
        self.codegen = t.CodegenCounter(self.spark)

    def detach(self) -> None:
        tracing.wait_for_listeners(self.spark)
        self.codegen.stop(self.tracer)
        for undo in self.undo:
            undo()


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def median(xs) -> float:
    return float(statistics.median(xs))


def run(args) -> dict:
    age_at_entry = process_age_s()
    t_entry = time.perf_counter()
    prepare_environment(bool(args.trace))
    spec = SPEC["workloads"][args.workload]
    t_corpus = time.perf_counter()
    tables = (
        corpus.write_corpus(os.path.join(WORK, "corpus"), spec["corpus"], args.seed, spec.get("corpus_rows"))
        if "corpus" in spec
        else {}
    )
    corpus_s = time.perf_counter() - t_corpus

    tracer = tracing.Tracer(uuid.uuid4().hex)
    spark = set_up(tracer)
    setup_s = age_at_entry + (time.perf_counter() - t_entry) - corpus_s

    try:
        wl = WORKLOADS[args.workload](args.workload, spark, tracer, args.seed, tables)
        instruments = Instruments(spark, tracer) if args.trace else None
        t_check = time.perf_counter()
        wl.run_pass(check=True)
        for _ in range(WARM_PASSES):
            wl.run_pass(check=False)
        check_s = time.perf_counter() - t_check

        passes: list[dict] = []
        traced: list[int] = []
        t_start = time.perf_counter()
        while len(passes) < SPEC["host"]["min_passes"] or time.perf_counter() - t_start < args.seconds:
            p = len(passes)
            is_traced = instruments is not None and p % 2 == 1
            tracer.pass_id = p if is_traced else None
            spark.sparkContext.setLocalProperty(tracing.PASS_PROP, str(p) if is_traced else None)
            if is_traced:
                instruments.attach()
            with tracer.span("pass"):
                r = wl.run_pass(check=False)
                wl.sentinel()
            if is_traced:
                instruments.detach()
                traced.append(p)
            passes.append(r)
            tracer.pass_id = None
            spark.sparkContext.setLocalProperty(tracing.PASS_PROP, None)
        timed_s = time.perf_counter() - t_start

        peak_rss_mb = jvm_peak_rss_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        app_id = spark.sparkContext.applicationId
    finally:
        stop(spark)

    plain = [r for i, r in enumerate(passes) if i not in traced]
    e2e = {
        "setup_s": setup_s,
        "wall_s": median(r["wall"] for r in plain),
        "load_rows_per_s": median(r["rows"] / r["wall"] for r in plain),
        "bytes_per_row": median(r["bytes"] / r["rows"] for r in plain),
        "readback_s": median(r["readback"] for r in plain),
        "peak_rss_mb": peak_rss_mb,
    }
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "passes": len(passes),
        "untimed_passes_s": round(check_s, 3),
        "timed_passes_s": round(timed_s, 3),
        "wall_samples_s": [round(r["wall"], 4) for r in plain],
        "attempted": wl.tally.attempted,
        "failed": wl.tally.failed,
        "error_rate": wl.tally.error_rate,
        **{k: round(v, 6) for k, v in e2e.items()},
    }
    if not args.trace:
        return {"summary": summary, "tally": wl.tally, "metrics": e2e, "units": END_TO_END}

    layers = per_layer(tracer, traced, tracing.event_log_files(os.path.join(WORK, "events"), app_id))
    layers["trace.overhead_s"] = median(passes[i]["wall"] for i in traced) - e2e["wall_s"]
    self_times = {k: v / len(traced) for k, v in tracer.self_times(traced).items()}
    layers["trace.glue_s"] = self_times.get("wall", 0.0)
    os.makedirs(TRACE_OUT, exist_ok=True)
    trace_path = os.path.join(TRACE_OUT, f"trace_{args.workload}_{args.seed}.json")
    with open(trace_path, "w") as f:
        json.dump(
            {"summary": summary, "per_layer": layers, "self_s_per_pass": self_times, "spans": tracer.spans},
            f,
        )
    summary["trace_file"] = os.path.relpath(trace_path, ROOT)
    summary["self_s_per_pass"] = {k: round(v, 4) for k, v in sorted(self_times.items())}
    return {"summary": summary, "tally": wl.tally, "metrics": layers, "units": PER_LAYER}


def stop(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found for the Spark JVM")


def per_layer(tracer, traced: list[int], event_log: list[str]) -> dict[str, float]:
    """Median over traced passes of every per-layer metric."""
    logged = tracing.read_event_log(event_log)
    out = {f"{n}_s": tracer.total(n, None) for n in ("session.start", "registry.load", "warmup")}
    for name in PER_LAYER:
        if name in out or name.startswith("trace."):
            continue
        span = name.removesuffix("_s")
        if span in SPAN_METRICS:
            out[name] = median(tracer.total(span, p) for p in traced)
        else:
            out[name] = median(tracer.counts.get((p, name), 0.0) + logged.get(p, {}).get(name, 0.0) for p in traced)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        res = run(args)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(WORK, ignore_errors=True)
    s = res["summary"]
    for k, v in s.items():
        print(f"{k}: {v}")
    for k, v in res["metrics"].items():
        print(f"metric {k} = {v:.6g} {res['units'][k]}")
    print(
        json.dumps(
            {
                "correct": res["tally"].failed == 0,
                "attempted": res["tally"].attempted,
                "failed": res["tally"].failed,
                "metrics": {k: {"value": v, "unit": res["units"][k]} for k, v in res["metrics"].items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
