"""Driver-coverage bookkeeping: for every registered query, the latest
round with a driver row (CORRECTNESS_r*.json) and its status — the
staleness report the round judges track. Usage:

    python tools/coverage_report.py            # summary
    python tools/coverage_report.py --list     # per-query lines
    python tools/coverage_report.py --window   # what the current window converts
    python tools/coverage_report.py --sample N [seed]
        # judge-sample protocol (VERDICT r5 #7, widened r10): run N
        # random oracled queries through the drive_entry comparator
        # (a drive_entry.py subprocess under the plain driver session) and
        # print MATCH / MISMATCH — standing independent evidence between
        # driver rounds. Draws from the never-driver-checked bucket while
        # one exists (none since r9), else from the whole oracled surface.
"""

from __future__ import annotations

import glob
import json
import os
import random
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sqload_spark import registry  # noqa: E402


def main() -> None:
    latest: dict[str, tuple[str, dict]] = {}
    for path in sorted(glob.glob("CORRECTNESS_r*.json")):
        rnd = path.split("_r")[1].split(".")[0]
        for name, row in json.load(open(path)).items():
            latest[name] = (rnd, row)

    qs = registry.all_queries()
    os_ = registry.all_oracles()
    buckets: dict[str, list[str]] = {}
    for name in qs:
        if name not in latest:
            key = "never-checked (staged)"
        else:
            rnd, row = latest[name]
            if row.get("err") == "no_oracle":
                key = f"r{rnd} rows-only"
            elif row.get("hash_match"):
                key = f"r{rnd} hash-green"
            elif row.get("rows_match"):
                key = f"r{rnd} rows-green"
            else:
                key = f"r{rnd} RED"
        buckets.setdefault(key, []).append(name)

    window = list(qs)[:50]
    print(f"registered: {len(qs)}  with-oracle: {len(os_)}  "
          f"driver-window (first 50): {len(window)}")
    for key in sorted(buckets):
        print(f"{key:28s} {len(buckets[key]):4d}")
    if "--list" in sys.argv:
        for key in sorted(buckets):
            for n in sorted(buckets[key]):
                print(f"  {key:26s} {n}{'  [window]' if n in window else ''}")
    if "--window" in sys.argv:
        new = [n for n in window if n not in latest]
        refresh = [n for n in window if n in latest]
        wasted = [n for n in window if n not in os_]
        print(f"\nwindow composition: {len(new)} first-ever driver rows, "
              f"{len(refresh)} refreshes, {len(wasted)} rows-only (weaker check)")
        for n in window:
            status = "NEW" if n not in latest else f"refresh (last r{latest[n][0]})"
            oracle = "oracle" if n in os_ else "ROWS-ONLY"
            print(f"  {n:40s} {status:22s} {oracle}")
    if "--sample" in sys.argv:
        i = sys.argv.index("--sample")
        # robust parse: N required, seed optional; a following flag or a
        # missing operand is a usage error, not a traceback — and the seed
        # DEFAULTS to 0 so the printed sample is reproducible evidence
        # (a time-seeded pick would be unverifiable after the fact)
        try:
            n_sample = int(sys.argv[i + 1])
        except (IndexError, ValueError):
            print("usage: coverage_report.py --sample N [seed]")
            sys.exit(2)
        seed = 0
        if len(sys.argv) > i + 2 and not sys.argv[i + 2].startswith("--"):
            try:
                seed = int(sys.argv[i + 2])
            except ValueError:
                print("usage: coverage_report.py --sample N [seed]")
                sys.exit(2)
        # pool: never-checked oracled queries while any remain (the original
        # r5 protocol); once that bucket is empty (true since r9), the whole
        # oracled surface — the between-rounds judge-sample then guards
        # against staleness-as-risk instead of never-checked-as-risk
        pool = sorted(n for n in qs if n not in latest and n in os_)
        label = "never-checked oracled"
        if not pool:
            pool = sorted(n for n in qs if n in os_)
            label = "oracled (never-checked bucket empty)"
        picked = random.Random(seed).sample(pool, min(n_sample, len(pool)))
        print(f"\n--sample: {len(picked)} of {len(pool)} {label} "
              f"queries (seed={seed}):\n  " + "\n  ".join(picked))
        rc = subprocess.call(
            [sys.executable, os.path.join(os.path.dirname(__file__), "drive_entry.py"), *picked]
        )
        sys.exit(rc)


if __name__ == "__main__":
    main()
