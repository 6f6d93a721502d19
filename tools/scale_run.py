"""Scale-out datapoint for the two heaviest LLM-pipeline operators.

Builds k×-scaled `documents` corpora from sf0.1 entirely inside Spark
(no driver-side loops): cross-join with `spark.range(k)` replicas, remap
doc_id into a per-replica id space, and suffix every token with the replica
tag. Suffixing is a bijection on the vocabulary, so each replica's shingle
sets, Jaccard similarities, cluster structure and per-doc cost are EXACTLY
the base corpus's, while replicas share zero shingles with each other —
near-dup pairs at k× are exactly k× the base count (asserted). That is the
honest way to scale a near-dup workload: naive row replication creates
k-way exact-duplicate clusters whose candidate verification grows
quadratically in k, and partial mutation (tried first: 35% of token
positions) leaks enough cross-replica pairs on a repetitive corpus to chain
connected components across replicas and corrupt the label-propagation
iteration count.

The 1× point goes through the same builder (replica 0 = identity) so every
scale has the same 32-file layout — the driver's single-file parquet would
otherwise cap the 1× scan at one partition and make larger scales look
artificially fast.

Runs `dedup_minhash_lsh` and `pipe_training_mix` at each scale (warmup
pass, then best-of-2 per cell — cold-JVM first runs measure 2.6× their
warmed time) and prints one JSON line per (query, scale) for BASELINE.md's
scaling table.

MEASUREMENT RULE (VERDICT r9 #7): scale-wall numbers are comparable
WITHIN ONE SESSION ONLY — a controlled re-run of unchanged bytes on an
unchanged corpus has measured a 2× host swing between rounds (59.4 s vs
the 31.4 s r7 record). Tier decisions (`_pruned_tier_for` branches,
band/width choices) must rest on cells measured in the SAME session,
never on a comparison against a previous round's absolute number.

Usage: python tools/scale_run.py [--scales 1,3,10]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from sqload_spark import registry
from sqload_spark.session import get_spark

BASE_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK_DIR = "/tmp/sqload_scale"
ID_SPACE = 10_000_000  # per-replica doc_id offset


CROSS_COS_LIMIT = 0.72  # margin under the 0.8 production dedup threshold
_PATTERN_CACHE: list = []


def _unit_corpus(spark: SparkSession):
    """Unit-normalized base ∪ planted-twin matrix the pattern screens check
    cross-cosines against (mirrors dedup._pruned_corpus's planted twins)."""
    import numpy as np

    base = (
        spark.read.parquet(f"{BASE_SF_DIR}/embeddings.parquet")
        .orderBy("vec_id")
        .select("embedding")
        .toPandas()
    )
    X = np.array(base["embedding"].tolist(), dtype=np.float64)
    planted = X[::20].copy()
    planted[:, 60:] = 0.0
    C = np.vstack([X, planted])
    n = np.linalg.norm(C, axis=1, keepdims=True)
    n[n == 0] = 1
    return C / n


def _screen_checker(U, limit: float):
    """Exact fast form of the pattern screens' inner check (round 11 — what
    makes the k=1024 basis practical). The screened quantity for a replica
    pair under combined pattern t ∈ {±1}ᵈ is |cos(x⊙s_a, y⊙s_b)| =
    |w·t| with w = (x⊙y)/(|x||y|), and |w·t| ≤ ‖w‖₁ for EVERY sign vector,
    so a vector pair can exceed ``limit`` under SOME pattern only if its ℓ1
    bound already does. One |U||U|ᵀ gemm finds exactly those pairs (5 057
    of 2.2 M on the sf0.1 screen corpus at limit 0.79, diagonal included —
    the same base vector in two replicas is a real cross-pair); stacking
    their w rows into W turns one element check into a (|W|×d) matvec
    instead of an (n×d)@(d×n) gemm — measured ~400× — while the
    accept/reject DECISION is bit-identical to the full-matrix check: the
    dropped pairs cannot reach the limit, and the kept rows compute the
    same products in the same dtype. Bit-identical decisions on the same
    seeded candidate stream mean the selected patterns are unchanged, so
    existing cache markers stay valid across this speedup."""
    import numpy as np

    A = np.abs(U)
    ii, jj = np.where(np.triu(A @ A.T >= limit))
    W = U[ii] * U[jj]

    def check(t) -> bool:
        return W.size == 0 or bool(np.abs(W @ t).max() < limit)

    return check


def _sign_patterns(spark: SparkSession, k: int) -> list:
    """First k of a deterministic stream of ±1⁶⁴ patterns, greedily screened
    so that for every selected pair (a, b) the FULL cross-cosine matrix of
    the sign-flipped base corpora (base ∪ the query's planted near-dups)
    stays below CROSS_COS_LIMIT. Greedy acceptance from a seeded candidate
    stream is prefix-stable: pattern r is the same whatever k is requested,
    so replicas are comparable across scales. ~90 s one-time cost at k=30
    (numpy, driver-side on the 2 100-vector base corpus), cached in-process.
    Pairwise screening is O(k²) matrix checks — past k≈50 use
    _group_sign_patterns, which covers all pairs with O(k) checks."""
    import numpy as np

    # Acceptance probability at pattern i is ≈(1-0.105)^i (measured
    # per-element fail rate at the 0.72 limit), so the loop below never
    # terminates for large k — fail loudly instead of hanging silently.
    if k > 50:
        raise ValueError(
            f"pairwise sign-pattern screen cannot reach k={k} "
            "(geometric acceptance decay; ~0.895^k). Use "
            "_group_sign_patterns — build_corpus and "
            "build_embeddings_corpus already route k>50 through it."
        )
    if len(_PATTERN_CACHE) >= k:
        return _PATTERN_CACHE[:k]
    U = _unit_corpus(spark)
    # always restart the stream from scratch: resuming from a partial cache
    # with a fresh rng would desynchronize the candidate stream and break
    # prefix-stability
    rng = np.random.RandomState(7)
    check = _screen_checker(U, CROSS_COS_LIMIT)
    picked = [np.ones(U.shape[1])]
    while len(picked) < k:
        cand = np.where(rng.rand(U.shape[1]) < 0.5, -1.0, 1.0)
        if all(check(cand * other) for other in picked):
            picked.append(cand)
    _PATTERN_CACHE[:] = picked
    return picked[:k]


_BASIS_CACHE: list = []

# Group-screen limit: 0.01 under the 0.8 production threshold (round 11,
# the r10-staged nudge from 0.78). The pairwise screen's 0.72 limit is
# unreachable here — P(a random pattern's worst cross-cosine ≥ 0.72) is
# measured 0.105 on this corpus, and accepting a basis pattern requires
# ALL 2^(j−1) of its new group elements to pass at once. Measured
# per-element fail rates (round 11, 1 500 random patterns): 0.0273 at
# 0.78, 0.0227 at 0.79 — the r10 staging note's "0.018 at 0.78" was
# optimistic, so the m=10 (k=1024) basis costs (1−0.0227)⁻⁵¹² ≈ 1.3×10⁵
# attempts at EITHER limit; what makes it practical is _screen_checker's
# exact candidate-pair reduction (matvec checks), not the limit nudge.
# 0.79 is still strictly exclusionary for the measurement: no
# cross-replica pair can reach the 0.8 count threshold (0.01 margin vs
# ~1e-15 float noise), so planted-pair ground truth stays exactly k× the
# base count.
GROUP_COS_LIMIT = 0.79


def _group_sign_patterns(spark: SparkSession, k: int) -> list:
    """Sign patterns for LARGE k via a screened GROUP construction. The
    pairwise greedy screen above costs O(k²) full cross-cosine matrix
    checks — and worse, its per-pattern acceptance probability decays
    geometrically in k (0.895^150 ≈ 10⁻⁸ at the 0.72 limit), so it cannot
    reach k=150 at all; this construction covers every replica pair with
    2^⌈log₂k⌉−1 checks total.

    Math: the cross-cosine matrix between replicas a and b depends only on
    the COMBINED pattern t = s_a ⊙ s_b (cos(x⊙s_a, y⊙s_b) = Σᵢxᵢyᵢtᵢ/|x||y|).
    Build s_r as the product of basis patterns b_i over the set bits of r;
    then {s_r} is a group under ⊙ and t_ab = s_{a XOR b}, so screening every
    NONZERO group element (a⊕b ≠ 0 whenever a ≠ b) covers all k(k−1)/2
    replica pairs, including same-base-vector pairs (the check matrix's
    diagonal). Basis candidates come from one seeded stream and each new
    basis b_j is accepted only if ALL 2^(j−1) new elements {g ⊙ b_j} pass
    the GROUP_COS_LIMIT screen — every nonzero element is checked exactly
    once, when its highest basis bit is added. Acceptance of b_j depends
    only on b_1..b_{j−1} and the stream, so patterns are prefix-stable in k
    (replica r is identical whatever k ≥ r+1 is requested). Replica 0 stays
    the identity (empty bit set ⇒ all-ones pattern)."""
    import numpy as np

    # The j-th basis is accepted only if ALL 2^(j-1) new group elements
    # pass, so acceptance decays doubly-geometrically in m: at the measured
    # 0.0227 per-element fail rate (limit 0.79), m=10 (k≤1024) costs
    # ~(1-0.0227)^-512 ≈ 1.3e5 attempts — minutes with _screen_checker's
    # matvec checks (the full m=10 basis built in ~1 min wall in round 11;
    # most attempts die on their first few element checks), but m=11 ≈ (1-0.0227)^-1024 ≈ 1.6e10 attempts — a hang at
    # any check speed. Fail loudly at the measured practical limit; the
    # next dial past k=1024 is a second base corpus or screening against a
    # vector coreset, not more width.
    if k > 1024:
        raise ValueError(
            f"group sign-pattern screen is impractical past k=1024 (got k={k}): "
            "basis acceptance is all-or-nothing over 2^(j-1) elements and "
            "decays doubly-geometrically. Raise GROUP_COS_LIMIT or shrink "
            "the screening corpus before going wider."
        )
    U = _unit_corpus(spark)
    m = max(1, int(np.ceil(np.log2(max(k, 2)))))
    if len(_BASIS_CACHE) < m:
        rng = np.random.RandomState(11)
        check = _screen_checker(U, GROUP_COS_LIMIT)
        basis: list = []
        group = [np.ones(U.shape[1])]
        while len(basis) < m:
            cand = np.where(rng.rand(U.shape[1]) < 0.5, -1.0, 1.0)
            new = [g * cand for g in group]
            if all(check(t) for t in new):
                basis.append(cand)
                group.extend(new)
        _BASIS_CACHE[:] = basis
    pats = []
    for r in range(k):
        s = np.ones(U.shape[1])
        for i in range(m):
            if (r >> i) & 1:
                s = s * _BASIS_CACHE[i]
        pats.append(s)
    return pats


def _signflip_marker(k: int) -> str:
    """Cache-marker content for a k× corpus's embeddings. The pattern STREAM
    differs by k (pairwise greedy screen ≤50, group screen above — the
    pairwise screen's acceptance decays geometrically and cannot reach
    large k), so the marker must distinguish them: a dir built by one
    stream is not a valid cache hit for the other, and the group variant is
    content-addressed by the same screen-contract string as x{k}_emb."""
    return "v2" if k <= 50 else f"v2-{_group_screen_version()}"


def _corpus_patterns(spark: SparkSession, k: int) -> list:
    """Pattern source for build_corpus: pairwise-screened up to k=50 (the
    historical stream — keeps existing cache dirs valid), group-screened
    beyond (ADVICE r9: the non-embedding tables don't depend on patterns at
    all, so a full corpus >50× must not be blocked by the pairwise wall)."""
    return _sign_patterns(spark, k) if k <= 50 else _group_sign_patterns(spark, k)


def build_corpus(spark: SparkSession, k: int) -> str:
    """Write a k× documents corpus; returns its sf_dir. Cached across runs."""
    out = f"{WORK_DIR}/x{k}"
    # sentinel = the LAST artifact this block writes (the embeddings-scaler
    # version marker), not the first: a run killed between the documents and
    # embeddings writes must not leave a cache dir that passes the
    # completeness check forever, and pre-sign-flip cache dirs (exact-dupe
    # embedding replicas, invalid for neighbor-structure queries) must
    # rebuild. Marker CONTENT is checked (not just existence) because the
    # k>50 group-pattern stream differs from the ≤50 pairwise stream.
    if _marker_matches(f"{out}/_emb_signflip", _signflip_marker(k)):
        # older cached dirs predate the events / TPC-H tables
        build_events(spark, k, out)
        build_tpch(spark, k, out)
        return out
    docs = spark.read.parquet(f"{BASE_SF_DIR}/documents.parquet")
    reps = spark.range(k).withColumnRenamed("id", "rep")
    scaled = (
        docs.crossJoin(reps)
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * ID_SPACE)
        .withColumn(
            "text",
            F.when(F.col("rep") == 0, F.col("text")).otherwise(
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda w: F.concat(w, F.lit("_r"), F.col("rep").cast("string")),
                    ),
                    " ",
                )
            ),
        )
        .withColumn("n_chars", F.length("text"))
        .drop("rep")
    )
    # one output dir per scale; directory layout matches load_table's
    # `{sf_dir}/documents.parquet` expectation (a parquet *directory* reads
    # the same as the driver's single file)
    scaled.repartition(32).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    # embeddings: per-replica SIGN-FLIP replication (vec_id offset + v ⊙ s_r,
    # s_r ∈ {±1}⁶⁴, replica 0 = identity). A diagonal ±1 matrix is orthogonal,
    # and s_i² = 1 cancels term-by-term in float arithmetic (negation is
    # exact), so every within-replica cosine is BIT-IDENTICAL to the base
    # corpus — neighbor structure, planted-pair cosines, and exact re-rank
    # values all replicate exactly. Cross-replica structure is destroyed by
    # the flips, but clustered corpora can still align under an unlucky
    # pattern pair (measured: unscreened random flips reached cross cosine
    # 0.85 > the 0.8 production threshold), so patterns come from a seeded
    # greedy screen that verifies EVERY replica-pair's full cross-cosine
    # matrix stays below CROSS_COS_LIMIT. Result: near-dup pairs at k× are
    # exactly k× the base count — the same honest-scaling contract as the
    # token-suffix bijection for shingles, with a verified numerical
    # guarantee standing in for the structural one.
    _write_signflip_embeddings(spark, _corpus_patterns(spark, k), out)
    # scaler-version marker: cache dirs written by the pre-sign-flip scaler
    # (exact-dupe replicas, invalid for neighbor-structure queries) lack it
    # and must rebuild
    with open(f"{out}/_emb_signflip", "w") as fh:
        fh.write(_signflip_marker(k) + "\n")
    build_events(spark, k, out)
    build_tpch(spark, k, out)
    return out


def _marker_matches(path: str, expected: str) -> bool:
    if not os.path.exists(path):
        return False
    with open(path) as fh:
        return fh.read().strip() == expected


def _note_rows(cell: dict, rows: int) -> bool:
    """Accumulate a cross-pass row observation into ``cell``. On a flap,
    ``rows_unstable`` records EVERY observed count — not just pass-0 +
    latest, which silently dropped intermediate observations (round-10
    self-review). Returns True when this observation flapped."""
    flapped = rows != cell["rows"]
    if flapped or "rows_unstable" in cell:
        seen = set(cell.get("rows_unstable", [cell["rows"]])) | {rows}
        if len(seen) > 1:
            cell["rows_unstable"] = sorted(seen)
    return flapped


def _finalize_recall(cell: dict) -> None:
    """ONE summary body for every emb-measurement main (ADVICE r9): an
    unstable cell must not read as a clean datapoint — recall goes None
    with one recall per OBSERVED row count; a stable cell reports
    rows/expected. Idempotent, so per-pass interim summaries can call it
    repeatedly."""
    if "rows_unstable" in cell:
        cell["recall"] = None
        cell["recall_by_rows"] = {
            str(r): round(r / cell["expected"], 4) for r in cell["rows_unstable"]
        }
    else:
        cell["recall"] = round(cell["rows"] / cell["expected"], 4)
    cell["sig_share"] = round(cell["sig_sec"] / cell["full_sec"], 3)


def _write_signflip_embeddings(spark: SparkSession, patterns: list, out: str) -> None:
    """ONE sign-flip replication writer shared by build_corpus and
    build_embeddings_corpus, parameterized on the pattern source — the two
    paths implement the same contract, and a dtype/offset fix that reached
    only one copy would silently desynchronize the emb-tier measurements
    from the regular scale corpora."""
    emb = spark.read.parquet(f"{BASE_SF_DIR}/embeddings.parquet")
    signs = spark.createDataFrame(
        [(r, [float(x) for x in s]) for r, s in enumerate(patterns)],
        "rep bigint, s array<float>",
    )
    (
        emb.join(F.broadcast(signs))
        .withColumn("vec_id", F.col("vec_id") + F.col("rep") * ID_SPACE)
        .withColumn("embedding", F.zip_with("embedding", "s", lambda x, y: x * y))
        .drop("rep", "s")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{out}/embeddings.parquet")
    )


def _group_screen_version() -> str:
    """Content-address of the group-screen contract: any change to the
    limit, seed, or construction must invalidate cached x{k}_emb corpora —
    an existence-only sentinel would silently reuse corpora whose
    cross-replica cosine guarantee no longer matches the code (same
    failure class dirty_scale_run's content-addressed sentinel exists
    for)."""
    return f"group-v1|limit={GROUP_COS_LIMIT}|seed=11|xor-basis"


def build_embeddings_corpus(spark: SparkSession, k: int) -> str:
    """k× EMBEDDINGS-ONLY corpus for the large-scale ANN tier measurement
    (VERDICT r8 #2: one measured point at ≥3×10⁵ vectors). Same sign-flip
    replication contract as build_corpus's embeddings block (shared
    writer), but patterns come from the group screen (_group_sign_patterns
    — the pairwise screen is O(k²) and impractical at k=150) and the other
    tables are skipped: a 150× documents/events/TPC-H build writes ~100M
    rows this measurement never reads. Separate cache dir (x{k}_emb) so a
    full build_corpus cache is never half-populated."""
    out = f"{WORK_DIR}/x{k}_emb"
    sentinel = f"{out}/_emb_signflip_group"
    if _marker_matches(sentinel, _group_screen_version()):
        return out
    shutil.rmtree(out, ignore_errors=True)
    _write_signflip_embeddings(spark, _group_sign_patterns(spark, k), out)
    with open(sentinel, "w") as fh:
        fh.write(_group_screen_version() + "\n")
    return out


def build_tpch(spark: SparkSession, k: int, out: str) -> None:
    """k× TPC-H corpus: replicate the sf-scaled tables (lineitem, orders,
    customer, supplier, part) with per-replica key offsets so every join
    relationship holds within a replica and never across replicas —
    per-group masses scale exactly k× while the constant tables
    (nation, region) are copied untouched, exactly the 100 TB shape the
    dimension de-hint targets: facts AND dims grow k×, nation/region
    don't. Key offsets use disjoint spaces sized to each key domain."""
    if os.path.exists(f"{out}/region.parquet"):  # last-written = complete
        return
    reps = spark.range(k).withColumnRenamed("id", "rep")
    offsets = {  # column -> per-replica stride (≫ base key domain at sf0.1)
        "o_orderkey": 100_000_000, "l_orderkey": 100_000_000,
        "c_custkey": 10_000_000, "o_custkey": 10_000_000,
        "s_suppkey": 1_000_000, "l_suppkey": 1_000_000,
        "ps_suppkey": 1_000_000, "p_partkey": 10_000_000,
        "l_partkey": 10_000_000, "ps_partkey": 10_000_000,
    }
    for t in ("lineitem", "orders", "customer", "supplier", "part"):
        df = spark.read.parquet(f"{BASE_SF_DIR}/{t}.parquet").crossJoin(reps)
        for col, stride in offsets.items():
            if col in df.columns:
                df = df.withColumn(col, F.col(col) + F.col("rep") * stride)
        df.drop("rep").repartition(32).write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )
    for t in ("nation", "region"):
        spark.read.parquet(f"{BASE_SF_DIR}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{t}.parquet")


def build_events(spark: SparkSession, k: int, out: str) -> None:
    """k× events corpus: replicate USERS (user_id/event_id offset per
    replica, timestamps untouched), so every replica's per-user event
    sequences are EXACTLY the base corpus's. Per-user analytics
    (sessionize, as-of, EWMA, funnels) therefore produce exactly k× the
    base rows with identical per-replica values, while time-bucketed
    global aggregations keep the base row count with k× the per-window
    mass — both invariants checkable from the printed rows column. The
    raw parquet is read/written as-is (long-nanos or micros ts layouts
    both round-trip through load_table's schema probe)."""
    if os.path.exists(f"{out}/events.parquet"):
        return
    ev = spark.read.parquet(f"{BASE_SF_DIR}/events.parquet")
    reps = spark.range(k).withColumnRenamed("id", "rep")
    (
        ev.crossJoin(reps)
        .withColumn("user_id", F.col("user_id") + F.col("rep") * ID_SPACE)
        .withColumn("event_id", F.col("event_id") + F.col("rep") * ID_SPACE)
        .drop("rep")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{out}/events.parquet")
    )


def timed(name: str, fn, spark: SparkSession, sf_dir: str) -> tuple[float, int]:
    t0 = time.monotonic()
    n = fn(spark, sf_dir).count()
    return time.monotonic() - t0, n


def _timed_sig(corpus, bits: int, bands: int) -> float:
    """Signature-pass wall under a NON-prunable action: sum(bv) forces the
    packed band values, hence all bits·bands dots. (A count()-based timer
    once let Catalyst prune the plane dots from an interpreted signature
    plan.) sig_sec values in emb-tier JSONs recorded before round 11 carry
    that pruned semantics — compare shapes, not values, across that
    boundary."""
    from sqload_spark.operators.dedup import _pruned_signatures

    t0 = time.monotonic()
    _pruned_signatures(corpus, bits, bands).agg(
        F.sum("bv"), F.count("*")
    ).collect()
    return time.monotonic() - t0


def emb_tier_main(scales: list[int]) -> None:
    """ANN tier measurement on embeddings-only corpora: per scale, report
    the signature-pass wall (the map-side cost VERDICT r8 #2 asks the share
    of), the full banded-pruned-scaled wall, rows vs the k×100 planted
    ground truth, and the tier _pruned_tier_for picked. Best-of-3 separated
    passes, min per cell (same stall rationale as main)."""
    spark = get_spark("sqload_scale_run")
    from sqload_spark.operators.dedup import (
        _pruned_corpus,
        _pruned_tier_for,
        embedding_cosine_banded_pruned_scaled,
    )

    dirs = {k: build_embeddings_corpus(spark, k) for k in scales}
    embedding_cosine_banded_pruned_scaled(spark, dirs[scales[0]]).count()  # warm codegen
    best: dict[int, dict] = {}
    for _pass in range(3):
        for k in scales:
            corpus = _pruned_corpus(spark, dirs[k])
            n = corpus.count()
            bits, bands = _pruned_tier_for(n)
            sig = _timed_sig(corpus, bits, bands)
            t0 = time.monotonic()
            rows = embedding_cosine_banded_pruned_scaled(spark, dirs[k]).count()
            full = time.monotonic() - t0
            cell = best.setdefault(
                k,
                {
                    "scale": k, "vectors": n, "bits": bits, "bands": bands,
                    "sig_sec": sig, "full_sec": full,
                    "rows": rows, "expected": k * 100,
                },
            )
            cell["sig_sec"] = round(min(cell["sig_sec"], sig), 2)
            cell["full_sec"] = round(min(cell["full_sec"], full), 2)
            # the row count must be deterministic across passes — a
            # flapping threshold pair or a stale-cache corpus would
            # otherwise hide behind the pass-0 value
            if _note_rows(cell, rows):
                log_msg = f"rows changed across passes at x{k}: {cell['rows_unstable']}"
                print(json.dumps({"warning": log_msg}), flush=True)
        for c in best.values():
            _finalize_recall(c)
        print(json.dumps({"pass": _pass, "cells": list(best.values())}), flush=True)
    print(json.dumps({"all": list(best.values())}))


def band_sweep_main(scale: int, dials: list[int]) -> None:
    """Shuffle-partition sweep over the ANN band join at ONE embeddings
    scale (VERDICT r9 #5): the 630 K-vector analysis named the band-join
    shuffle as the binding cost past ~10⁶ vectors and 'partition the band
    keyspace finer' as the remedy — this measures whether the
    band_partitions dial (dedup._pruned_candidates) actually moves the
    wall, instead of asserting it. Dial 0 = off (session conf + AQE, the
    tier table's historical geometry). Row counts must be IDENTICAL across
    dials (the dial is semantics-free by law test); a flap fails the sweep.
    Two separated passes, min per cell (same stall rationale as main).
    Within-session rule applies: compare cells of one sweep run only."""
    spark = get_spark("sqload_scale_run")
    from sqload_spark.operators.dedup import (
        _pruned_candidates,
        _pruned_corpus,
        _pruned_rerank,
        _pruned_tier_for,
    )

    corpus = _pruned_corpus(spark, build_embeddings_corpus(spark, scale))
    n = corpus.count()
    bits, bands = _pruned_tier_for(n)

    def wall(dial: int) -> tuple[float, int]:
        cand = _pruned_candidates(
            corpus, tier=(bits, bands), band_partitions=dial or None
        )
        t0 = time.monotonic()
        rows = _pruned_rerank(corpus, cand).count()
        return round(time.monotonic() - t0, 1), rows

    # warm the codegen/shuffle path on the small 2× emb corpus, untimed
    small = _pruned_corpus(spark, build_embeddings_corpus(spark, 2))
    _pruned_rerank(small, _pruned_candidates(small, tier=(bits, bands))).count()

    cells = {d: {"dial": d, "sec": float("inf"), "rows": None} for d in dials}
    failures: list[str] = []
    for _pass in range(2):
        for d in dials:
            sec, rows = wall(d)
            c = cells[d]
            c["sec"] = round(min(c["sec"], sec), 1)
            if c["rows"] is not None and rows != c["rows"]:
                failures.append(f"dial {d}: rows flapped {c['rows']} -> {rows}")
            c["rows"] = rows
            print(
                json.dumps({"pass": _pass, "dial": d, "sec": sec, "rows": rows}),
                flush=True,
            )
    counts = {c["rows"] for c in cells.values()}
    if len(counts) > 1:
        failures.append(f"rows differ across dials: { {d: c['rows'] for d, c in cells.items()} }")
    print(
        json.dumps(
            {
                "scale": scale, "vectors": n, "bits": bits, "bands": bands,
                "cells": list(cells.values()),
                "verdict": "PASS" if not failures else "FAIL",
                "failures": failures,
            }
        )
    )


def _parse_tiers(spec: str) -> list[tuple[int, int]]:
    """'20x100,24x188' -> [(20, 100), (24, 188)]. Validates both numbers are
    positive ints — a malformed spec must fail before the corpus build, not
    40 minutes into a measurement."""
    tiers = []
    for t in spec.split(","):
        # tolerate '20x100, 24x188' — a stray space after the comma is a
        # common CLI style and must not read as a malformed spec (ADVICE r10)
        t = t.strip()
        parts = t.lower().split("x")
        if len(parts) != 2 or not all(p.isdigit() for p in parts):
            raise ValueError(f"tier spec must be BITSxBANDS (got {t!r})")
        bits, bands = int(parts[0]), int(parts[1])
        if bits <= 0 or bands <= 0:
            raise ValueError(f"tier spec must be positive (got {t!r})")
        tiers.append((bits, bands))
    return tiers


def tier_compare_main(scale: int, tiers: list[tuple[int, int]], passes: int) -> None:
    """Head-to-head of EXPLICIT (bits, bands) tiers at ONE embeddings scale
    — the measure-before-shipping harness for _pruned_tier_for's next
    branch. emb_tier_main measures whatever tier the function already
    picks; this measures CANDIDATE tiers the function doesn't pick yet
    (e.g. 24x188 at the 1.26 M-vector octave, where the 20-bit collision
    floor quadruples per octave while the 24-bit band-join input only
    doubles — the 630 K rejection of 24-bit may flip). Separated passes,
    min per cell, sig-pass wall reported, rows vs the k*100 planted ground
    truth; a cross-pass row flap nulls the recall (same rule as
    emb_tier_main). Within-session rule applies: compare cells of one run
    only, never against a previous round's absolute walls."""
    spark = get_spark("sqload_scale_run")
    from sqload_spark.operators.dedup import (
        _pruned_candidates,
        _pruned_corpus,
        _pruned_rerank,
    )

    corpus = _pruned_corpus(spark, build_embeddings_corpus(spark, scale))
    n = corpus.count()
    # warm codegen/shuffle on the small 2x corpus, untimed (cold-JVM first
    # runs measure 2.6x their warmed time — same rationale as main)
    small = _pruned_corpus(spark, build_embeddings_corpus(spark, 2))
    for bits, bands in tiers:
        _pruned_rerank(small, _pruned_candidates(small, tier=(bits, bands))).count()

    cells: dict[tuple[int, int], dict] = {}
    for _pass in range(passes):
        for bits, bands in tiers:
            sig = round(_timed_sig(corpus, bits, bands), 1)
            t0 = time.monotonic()
            rows = _pruned_rerank(
                corpus,
                _pruned_candidates(corpus, tier=(bits, bands)),
            ).count()
            full = round(time.monotonic() - t0, 1)
            c = cells.setdefault(
                (bits, bands),
                {
                    "bits": bits, "bands": bands,
                    "sig_sec": sig, "full_sec": full, "rows": rows,
                    "expected": scale * 100,
                },
            )
            c["sig_sec"] = round(min(c["sig_sec"], sig), 1)
            c["full_sec"] = round(min(c["full_sec"], full), 1)
            if _note_rows(c, rows):
                # surface the flap as it happens — the final JSON may be an
                # hour away (ADVICE r10; mirrors emb_tier_main)
                print(
                    json.dumps(
                        {"warning": f"rows flapped at {bits}x{bands}: {c['rows_unstable']}"}
                    ),
                    flush=True,
                )
            print(
                json.dumps(
                    {"pass": _pass, "bits": bits, "bands": bands,
                     "sig_sec": sig, "full_sec": full, "rows": rows}
                ),
                flush=True,
            )
    for c in cells.values():
        _finalize_recall(c)
    print(json.dumps({"scale": scale, "vectors": n, "cells": list(cells.values())}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,3,10")
    ap.add_argument("--queries", default="dedup_minhash_lsh,pipe_training_mix")
    ap.add_argument("--fresh", action="store_true", help="rebuild corpora")
    ap.add_argument(
        "--emb-tier", action="store_true",
        help="ANN tier measurement on embeddings-only corpora (see emb_tier_main)",
    )
    ap.add_argument(
        "--band-sweep", default=None, metavar="SCALE",
        help="band-join shuffle-partition sweep at one embeddings scale "
             "(see band_sweep_main); --dials picks the partition counts",
    )
    ap.add_argument("--dials", default="0,96,256")
    ap.add_argument(
        "--tier-compare", default=None, metavar="SCALE",
        help="explicit-tier head-to-head at one embeddings scale "
             "(see tier_compare_main); --tiers picks the (bits x bands) list",
    )
    ap.add_argument("--tiers", default="20x100,24x188")
    ap.add_argument("--passes", type=int, default=2)
    args = ap.parse_args()
    modes = [m for m, on in (
        ("--tier-compare", args.tier_compare),
        ("--band-sweep", args.band_sweep),
        ("--emb-tier", args.emb_tier),
    ) if on]
    if len(modes) > 1:
        # fail before any corpus build: the first-match dispatch below
        # would otherwise silently drop the later-named measurement
        ap.error(f"{' and '.join(modes)} are mutually exclusive")
    if modes and args.fresh:
        # every emb mode honors --fresh, scoped to the x{k}_emb dirs these
        # branches own — a blanket WORK_DIR rmtree would also destroy the
        # full-build corpora and dirty twins the emb paths never rebuild
        import glob

        for d in glob.glob(f"{WORK_DIR}/x*_emb"):
            shutil.rmtree(d, ignore_errors=True)
    if args.tier_compare:
        tier_compare_main(int(args.tier_compare), _parse_tiers(args.tiers), args.passes)
        return
    if args.band_sweep:
        band_sweep_main(int(args.band_sweep), [int(d) for d in args.dials.split(",")])
        return
    if args.emb_tier:
        emb_tier_main([int(s) for s in args.scales.split(",")])
        return
    if args.fresh:
        shutil.rmtree(WORK_DIR, ignore_errors=True)

    spark = get_spark("sqload_scale_run")
    registry.load_all()
    # Scale-path twins that are deliberately NOT registered (their recall
    # above the fine tier is a measured trade, so registering them against
    # an exact oracle would institutionalize a known mismatch — ADVICE r6);
    # measured here with planted-pair counts as ground truth instead.
    from sqload_spark.operators.dedup import embedding_cosine_banded_pruned_scaled

    extras = {
        "dedup_embedding_cosine_banded_pruned_scaled": embedding_cosine_banded_pruned_scaled,
    }
    lookup = {**registry.QUERIES, **extras}
    scales = [int(s) for s in args.scales.split(",")]
    queries = args.queries.split(",")
    # Prebuild every corpus before any timing (a corpus build right before a
    # measurement poisons it with write-job JIT/GC state), then warm each
    # query's codegen path once at 1× untimed. Report best-of-2 per cell —
    # single-process local[32] timings are dominated by JVM warmup otherwise
    # (first cold run of a query measured 2.6× its warmed time).
    dirs = {k: build_corpus(spark, k) for k in scales}
    for qname in queries:
        lookup[qname](spark, dirs[scales[0]]).count()
    # Three SEPARATED passes over all cells, min per cell: the box gets hit
    # by a ~60 s machine-wide stall roughly every 15 min (external monitor),
    # and back-to-back repetitions of one cell can sit entirely inside one
    # stall window — separated passes can't both be hit.
    best: dict[tuple[str, int], dict] = {}
    for _pass in range(3):
        for qname in queries:
            for k in scales:
                secs, rows = timed(qname, lookup[qname], spark, dirs[k])
                cell = best.setdefault(
                    (qname, k), {"query": qname, "scale": k, "sec": secs, "rows": rows}
                )
                cell["sec"] = round(min(cell["sec"], secs), 2)
        print(json.dumps({"pass": _pass, "cells": list(best.values())}), flush=True)
    print(json.dumps({"all": list(best.values())}))


if __name__ == "__main__":
    main()
