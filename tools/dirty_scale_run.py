"""Dirty × scale composition evidence (VERDICT r6 #5).

Round 6 proved two things SEPARATELY: (a) the full comparator stays green
on a hostile sf0.001 corpus (tools/adversarial_run.py — NULL/empty/unicode
docs, degenerate vectors, malformed events, NULL keys/dates/sort keys in
the fact feeds), and (b) each heavy family's row counts follow exact
invariants on CLEAN k×-scaled corpora (tools/scale_run.py — suffix-
bijection docs, screened sign-flip embeddings, key-offset facts/events).
This tool composes them: it injects the SAME part-1/2/3 hazard rows into
the k× corpora and checks that every guard's effect is scale-invariant.

The invariant: rows_dirty(k) − rows_clean(k) == rows_dirty(1) − rows_clean(1)
for every query, exactly. It holds by construction IF the guards behave:
the hazard set is fixed (not scaled) and unsuffixed/unflipped/unoffset, so
it can only interact with replica 0 — token suffixing isolates text
replicas, the screened sign flips isolate embedding replicas, and the
per-replica key offsets put replicas 1..k−1 outside every hazard key's
join/filter range. A guard that mis-fires at scale (an ANSI raise, a
NULL group dropped by a rejoin, a NULLS-FIRST divergence surfacing only
past one shuffle partition) breaks either the run (ERROR) or the exact
delta. The clean-side counts are simultaneously re-checked against the
documented per-family shapes (k× or flat), so the composed gate subsumes
the clean one.

Usage: python tools/dirty_scale_run.py [--scales 1,10] [--queries a,b,...]
Prints one JSON line per (query, scale) pair plus a final verdict line for
BASELINE.md's round-7 composite table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402

import scale_run  # noqa: E402
from adversarial_run import (  # noqa: E402
    ADVERSARIAL_CUSTOMERS,
    ADVERSARIAL_DOCS,
    ADVERSARIAL_EVENTS,
    ADVERSARIAL_LINEITEMS,
    ADVERSARIAL_ORDERS,
    ADVERSARIAL_PARTS,
    ADVERSARIAL_SUPPLIERS,
    _adversarial_embeddings,
)

from sqload_spark import registry  # noqa: E402
from sqload_spark.session import get_spark  # noqa: E402
from sqload_spark.sources.tables import TABLE_NAMES  # noqa: E402


def _ts(s: str | None):
    if s is None:
        return None
    fmt = "%Y-%m-%d %H:%M:%S.%f" if "." in s else "%Y-%m-%d %H:%M:%S"
    return datetime.strptime(s, fmt)


def _hazard_rows() -> dict[str, list[tuple]]:
    """The part-1/2/3 hazard sets, converted to Spark-appendable tuples
    (timestamps parsed, derived columns computed). Same rows, same order,
    as tools/adversarial_run.py — one hazard corpus, two gates."""
    return {
        "documents": [
            (i, t, lang, src, len(t) if t is not None else None)
            for (i, t, lang, src) in ADVERSARIAL_DOCS
        ],
        "embeddings": _adversarial_embeddings(),
        "events": [
            (i, _ts(ts), u, et, v, p) for (i, ts, u, et, v, p) in ADVERSARIAL_EVENTS
        ],
        "orders": [
            (k, c, st, tp, _ts(d), pr) for (k, c, st, tp, d, pr) in ADVERSARIAL_ORDERS
        ],
        "lineitem": [
            row[:10] + (_ts(row[10]),) for row in ADVERSARIAL_LINEITEMS
        ],
        "customer": ADVERSARIAL_CUSTOMERS,
        "part": ADVERSARIAL_PARTS,
        "supplier": ADVERSARIAL_SUPPLIERS,
    }


def build_dirty(spark: SparkSession, clean_dir: str, k: int) -> str:
    """clean k× corpus + the fixed hazard rows appended as one extra part
    file per table, schema-exact (hazard DataFrames are built against the
    clean table's own Spark schema, so the mixed-file directory reads
    identically to a single-writer one)."""
    import hashlib

    out = f"{scale_run.WORK_DIR}/x{k}_dirty"
    hazards = _hazard_rows()
    # sentinel is the LAST artifact written (a run killed mid-append must
    # not leave a half-dirty cache dir that passes this check forever) and
    # is CONTENT-ADDRESSED by BOTH inputs: the hazard set (extending
    # ADVERSARIAL_* must invalidate every cached dirty corpus) and the
    # clean corpus's own scaler-version marker (a clean-builder change
    # that regenerates x{k} must not leave a dirty twin built from the
    # previous clean corpus — the deltas would compare new-clean against
    # old-dirty and mean nothing).
    clean_marker = ""
    marker_path = f"{clean_dir}/_emb_signflip"
    if os.path.exists(marker_path):
        with open(marker_path) as fh:
            clean_marker = fh.read()
    version = hashlib.md5(
        (
            repr(sorted((t, repr(rows)) for t, rows in hazards.items()))
            + "|clean:"
            + clean_marker
        ).encode()
    ).hexdigest()
    sentinel = f"{out}/_dirty_complete"
    if os.path.exists(sentinel):
        with open(sentinel) as fh:
            if fh.read().strip() == version:
                return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for t in TABLE_NAMES:
        src, dst = f"{clean_dir}/{t}.parquet", f"{out}/{t}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copyfile(src, dst)
        rows = hazards.get(t)
        if rows:
            schema = spark.read.parquet(dst).schema
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(dst)
    with open(sentinel, "w") as fh:
        fh.write(version + "\n")
    return out


# family -> (query, documented clean-count shape: 'kx' = k× the 1× count,
# 'flat' = scale-independent, 'n/a' = shape is tier-dependent, printed only)
DEFAULT_QUERIES = [
    ("dedup_minhash_lsh", "kx"),
    ("dedup_exact_groups", "kx"),
    ("text_gopher_quality", "flat"),  # global per-language census
    ("text_token_stats", "flat"),  # per-language aggregate, fixed bucket count
    ("ts_sessionize", "kx"),
    ("ts_tumbling_window", "flat"),
    ("ts_funnel_stages", "flat"),
    ("q1_pricing_summary", "flat"),
    # l_suppkey <= 10: the per-replica key offsets keep replicas 1..k-1
    # outside the filter BY DESIGN, so the window rows are replica-0-only
    ("q_window_running_revenue", "flat"),
    # the two round-7 HOF-quadratic fixes (span/fingerprint paths).
    # text_rolling_fingerprint is n/a, not kx: winnowing keeps the 8
    # SMALLEST span hashes per doc, and the suffix bijection preserves span
    # EQUALITY but not hash ORDER, so each replica selects a different
    # 8-subset and the shared-fp group count varies per replica (measured
    # 46 554 at 10× vs 10×4 620 = 46 200). The hazard delta stays exact.
    ("text_rolling_fingerprint", "n/a"),
    ("dedup_exact_spans", "kx"),
    ("dedup_embedding_cosine_banded_pruned_scaled", "n/a"),
    # round-9 extension (VERDICT r8 #5): the per-user-state ts_* shapes and
    # the curation block join the gate.
    # retention triangle / transition matrix: the (cohort, offset) and
    # (prev, next) grids are replica-identical (user replication keeps
    # timestamps and per-user sequences), so the row GRID is flat while the
    # masses scale k×.
    ("ts_retention_cohorts", "flat"),
    ("ts_transition_matrix", "flat"),
    # ts_ewma filters to user_id <= 20: per-replica user offsets keep
    # replicas 1..k-1 outside the filter BY DESIGN (same reason as
    # q_window_running_revenue above), so the rows are replica-0-only
    ("ts_ewma", "flat"),
    # md5-decision sampling: replica doc_ids differ, so each replica draws
    # its own ~SAMPLE_RATE subset — statistically k× but not exactly (the
    # hazard delta must still be exact: hazard ids are fixed)
    ("q_sample_hash", "n/a"),
    # one output row per document regardless of which split it lands in,
    # so the count is exactly k× even though the md5 split assignments and
    # the near-dup cluster ids differ per replica (measured 5 000 → 50 000)
    ("q_split_leakage_safe", "kx"),
    # fixed (source × quality-gate) mix grid — masses scale, grid doesn't
    ("pipe_training_mix", "flat"),
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,10")
    ap.add_argument("--queries", default=",".join(q for q, _ in DEFAULT_QUERIES))
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    assert scales[0] == 1, "delta baseline needs the 1x point first"

    spark = get_spark("sqload_dirty_scale")
    registry.load_all()
    from sqload_spark.operators.dedup import embedding_cosine_banded_pruned_scaled

    lookup = {
        **registry.QUERIES,
        "dedup_embedding_cosine_banded_pruned_scaled": embedding_cosine_banded_pruned_scaled,
    }
    shapes = dict(DEFAULT_QUERIES)
    names = args.queries.split(",")

    clean = {k: scale_run.build_corpus(spark, k) for k in scales}
    dirty = {k: build_dirty(spark, clean[k], k) for k in scales}

    failures: list[str] = []
    for name in names:
        fn = lookup[name]
        cells = {}
        for k in scales:
            for tag, dirs in (("clean", clean), ("dirty", dirty)):
                t0 = time.monotonic()
                try:
                    rows = fn(spark, dirs[k]).count()
                except Exception as ex:  # noqa: BLE001
                    failures.append(f"{name} x{k} {tag}: {type(ex).__name__}: {str(ex)[:160]}")
                    rows = None
                cells[(tag, k)] = (rows, round(time.monotonic() - t0, 2))
        deltas = {
            k: None
            if cells[("dirty", k)][0] is None or cells[("clean", k)][0] is None
            else cells[("dirty", k)][0] - cells[("clean", k)][0]
            for k in scales
        }
        base_delta = deltas[scales[0]]
        for k in scales[1:]:
            if deltas[k] != base_delta:
                failures.append(
                    f"{name}: hazard delta not scale-invariant — x1 {base_delta}, x{k} {deltas[k]}"
                )
            shape = shapes.get(name, "n/a")
            c1, ck = cells[("clean", scales[0])][0], cells[("clean", k)][0]
            if c1 is None or ck is None:
                # the clean run itself errored — already recorded above;
                # don't let k * None crash the gate before the verdict line
                continue
            if shape == "kx" and ck != k * c1:
                failures.append(f"{name}: clean shape broke — expected {k}x{c1}, got {ck}")
            if shape == "flat" and ck != c1:
                failures.append(f"{name}: clean shape broke — expected flat {c1}, got {ck}")
        print(
            json.dumps(
                {
                    "query": name,
                    "cells": {
                        f"{tag}_x{k}": {"rows": cells[(tag, k)][0], "sec": cells[(tag, k)][1]}
                        for (tag, k) in cells
                    },
                    "delta": {f"x{k}": deltas[k] for k in scales},
                    "shape": shapes.get(name, "n/a"),
                }
            ),
            flush=True,
        )
    print(json.dumps({"verdict": "PASS" if not failures else "FAIL", "failures": failures}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
