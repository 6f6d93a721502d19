"""Spans and Spark-side counters for the benchmark's traced run.

Spans are recorded by the benchmark around its calls into the package (name,
start, end, parent; every span of a run carries the run id). Spark-side
numbers are read from outside the package:

* Catalyst phase times of each action that ran, from a
  ``QueryExecutionListener`` (a ``noop`` or parquet write runs its own
  QueryExecution, and this is the one the listener sees);
* codegen compile counts, from ``CodegenMetrics`` through py4j;
* task, shuffle, spill, scan and Python-worker numbers, from the
  uncompressed event log;
* per-micro-batch progress, from a ``StreamingQueryListener``.

Every job carries the local properties ``perfbench.pass`` and
``perfbench.layer``, so the event log can be split by pass and by layer.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

PASS_PROP = "perfbench.pass"
LAYER_PROP = "perfbench.layer"


class Tracer:
    """In-memory span recorder; ``counts`` are keyed by (pass, name)."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[tuple[int | None, str], float] = defaultdict(float)
        self.pass_id: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "pass": self.pass_id,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[(self.pass_id, name)] += n

    def total(self, name: str, pass_id: int) -> float:
        """Summed duration of the spans called ``name`` in one pass."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["pass"] == pass_id)

    def self_times(self, pass_ids) -> dict[str, float]:
        """Per span name: summed duration minus the part its children cover."""
        keep = set(pass_ids)
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["pass"] in keep:
                out[s["name"]] += s["end"] - s["start"] - child_time[s["id"]]
        return dict(out)


def wrap_calls(tracer: Tracer, modules, attr: str, span: str, after=None):
    """Put a span around ``module.attr`` in every module that binds it.

    ``after(result, args, kwargs)`` runs inside the span once the call
    returns. Returns an undo function that restores the originals."""
    saved = []
    for mod in modules:
        orig = getattr(mod, attr, None)
        if orig is None:
            continue

        def traced(*args, _orig=orig, **kwargs):
            with tracer.span(span):
                result = _orig(*args, **kwargs)
                if after is not None:
                    after(result, args, kwargs)
                return result

        saved.append((mod, orig))
        setattr(mod, attr, traced)

    def undo() -> None:
        for mod, orig in saved:
            setattr(mod, attr, orig)

    return undo


def wait_for_listeners(spark) -> None:
    """Block until the listener bus has delivered every posted event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class PhaseListener:
    """``QueryExecutionListener`` (py4j callback) summing Catalyst phases."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        phases = qe.tracker().phases()
        for ph in self.PHASES:
            opt = phases.get(ph)
            if opt.isDefined():
                self.tracer.count(f"catalyst.{ph}_s", opt.get().durationMs() / 1000.0)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.tracer.count("catalyst.failed_queries")

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_phase_listener(spark, tracer: Tracer):
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = PhaseListener(tracer)
    manager = spark._jsparkSession.listenerManager()
    manager.register(listener)
    return lambda: manager.unregister(listener)


def register_stream_listener(spark, tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            d = p.durationMs
            tracer.count("stream.batches")
            tracer.count("stream.trigger_s", d.get("triggerExecution", 0) / 1000.0)
            tracer.count("stream.planning_s", d.get("queryPlanning", 0) / 1000.0)
            tracer.count("stream.wal_commit_s", d.get("walCommit", 0) / 1000.0)
            tracer.count("stream.add_batch_s", d.get("addBatch", 0) / 1000.0)
            tracer.count("stream.state_rows", sum(op.numRowsTotal for op in p.stateOperators))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return lambda: spark.streams.removeListener(listener)


class CodegenCounter:
    """Deltas of ``CodegenMetrics`` compile count and (approximate) time.

    The compile-time histogram keeps a sample, not a sum; the time delta is
    the count delta times the sample mean."""

    def __init__(self, spark) -> None:
        self.hist = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.start = self.hist.getCount()

    def stop(self, tracer: Tracer) -> None:
        n = self.hist.getCount() - self.start
        tracer.count("codegen.compiles", n)
        tracer.count("codegen.compile_s", n * self.hist.getSnapshot().getMean() / 1000.0)


_PY_NODE_WORDS = ("Python", "Pandas", "Arrow")
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _python_accumulators(plan: dict, rows: set, nbytes: set) -> None:
    is_py = any(w in plan.get("nodeName", "") for w in _PY_NODE_WORDS)
    for m in plan.get("metrics", []):
        if m["name"] in _PY_BYTES:
            nbytes.add(m["accumulatorId"])
        elif is_py and m["name"] == "number of output rows":
            rows.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _python_accumulators(child, rows, nbytes)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def read_event_log(paths: list[str]) -> dict[int, dict[str, float]]:
    """Per-pass scheduler, task, shuffle, spill, scan and Python numbers.

    ``sched.gap_s`` is each stage's wall time minus the time at least one
    of its tasks was running, summed over stages. ``readback.bytes_read``
    counts the scans of jobs run under the ``readback`` layer. Jobs without a
    ``perfbench.pass`` property (set-up, checks) are skipped."""
    stage_pass: dict[int, int] = {}
    stage_layer: dict[int, str] = {}
    stage_wall: dict[int, float] = {}
    task_spans: dict[int, list] = defaultdict(list)
    py_rows: set = set()
    py_bytes: set = set()
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    tasks: list[dict] = []
    for ev in _events(paths):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if PASS_PROP not in props:
                continue
            p = int(props[PASS_PROP])
            out[p]["sched.jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_pass[sid] = p
                stage_layer[sid] = props.get(LAYER_PROP, "")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_pass and "Completion Time" in info and "Submission Time" in info:
                out[stage_pass[sid]]["sched.stages"] += 1
                stage_wall[sid] = (info["Completion Time"] - info["Submission Time"]) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _python_accumulators(ev.get("sparkPlanInfo", {}), py_rows, py_bytes)
    for ev in tasks:
        sid = ev["Stage ID"]
        if sid not in stage_pass:
            continue
        o = out[stage_pass[sid]]
        info = ev["Task Info"]
        o["sched.tasks"] += 1
        o["sched.failed_tasks"] += bool(info.get("Failed"))
        task_spans[sid].append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
        for acc in info.get("Accumulables", []):
            if acc["ID"] in py_rows:
                o["python.rows"] += int(acc.get("Update", 0))
            elif acc["ID"] in py_bytes:
                o["python.bytes"] += int(acc.get("Update", 0))
        m = ev.get("Task Metrics") or {}
        if not m:
            continue
        o["task.run_s"] += m["Executor Run Time"] / 1000.0
        o["task.cpu_s"] += m["Executor CPU Time"] / 1e9
        o["task.gc_s"] += m["JVM GC Time"] / 1000.0
        o["spill.bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
        o["scan.bytes_read"] += m["Input Metrics"]["Bytes Read"]
        if stage_layer[sid] == "readback":
            o["readback.bytes_read"] += m["Input Metrics"]["Bytes Read"]
        sr = m["Shuffle Read Metrics"]
        o["shuffle.read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
        o["shuffle.fetch_wait_s"] += sr["Fetch Wait Time"] / 1000.0
        o["shuffle.write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    for sid, wall in stage_wall.items():
        out[stage_pass[sid]]["sched.gap_s"] += max(0.0, wall - _union_length(task_spans[sid]))
    return {p: dict(v) for p, v in out.items()}


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The application's log files in order; Spark 4 writes a rolling
    ``eventlog_v2_<app>/events_<n>_<app>`` directory."""
    app_dir = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if not os.path.isdir(app_dir):
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    names = [n for n in os.listdir(app_dir) if n.startswith("events_")]
    return [os.path.join(app_dir, n) for n in sorted(names, key=lambda n: int(n.split("_")[1]))]
