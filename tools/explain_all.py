"""Dump formatted physical plans for the headline queries to PLANS.md —
the evidence artifact that pushdown / pruning / broadcast / codegen hold
across the surface.

    python tools/explain_all.py                 # regenerate the whole file
    python tools/explain_all.py name1 name2 ... # re-render those sections

With names, only those queries are built and their sections are replaced
in place; every other line of PLANS.md stays as it is."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sqload_spark import registry
from sqload_spark.session import get_spark
from sqload_spark.sources.generate import generate_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_MD = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")

# Every registered query gets a section (VERDICT r4 #7). Queries whose
# construction replays a stream / writes an artifact still explain fine —
# the one-time build cost is paid here, which is why this tool runs
# per-round, not per-test.
def all_names() -> list[str]:
    registry.load_all()
    return list(registry.QUERIES)

KEEP = (
    "Scan parquet",
    "PushedFilters",
    "ReadSchema",
    "Join",
    "Exchange",
    "HashAggregate",
    "WholeStageCodegen",
    "TakeOrderedAndProject",
    "Window",
    "Sort",
    "Project (",
    "* Project",
    "Range",
    "Generate",
)


def normalize_ids(text: str) -> str:
    """Renumber Catalyst attribute ids (`doc_id#8877L`) per-plan in
    first-seen order. The global id counter shifts whenever ANY query's
    plan changes, which used to churn hundreds of unrelated PLANS.md lines
    per regeneration; renumbering keeps each plan self-consistent (the two
    sides of a self-join stay distinguishable) while making the artifact
    diff-stable."""
    seen: dict[str, str] = {}

    def repl(m: re.Match) -> str:
        return seen.setdefault(m.group(0), f"#{len(seen)}")

    # negative lookbehind: the fixture's p_brand values ("Brand#3") are the
    # one DATA literal that shares the `...#N` shape with attribute refs
    return re.sub(r"(?<!Brand)#\d+", repl, text)


def summarize(plan: str) -> str:
    lines = []
    for line in plan.splitlines():
        if any(k in line for k in KEEP):
            lines.append(line[:160].rstrip())
    return normalize_ids("\n".join(lines))


def section(spark, mode, name: str) -> list[str]:
    """The PLANS.md lines of one query's section."""
    try:
        df = registry.QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(mode)
        body = summarize(plan)
    except Exception as ex:  # noqa: BLE001 — keep the artifact complete
        body = f"EXPLAIN FAILED: {type(ex).__name__}: {ex}"
    return [f"## {name}", "", "```", body, "```", ""]


def rerender(spark, mode, names: list[str]) -> None:
    """Replace the named sections of PLANS.md in place."""
    with open(PLANS_MD) as f:
        text = f.read()
    for name in names:
        pattern = re.compile(rf"^## {re.escape(name)}\n\n```\n.*?\n```\n\n", re.M | re.S)
        if not pattern.search(text):
            raise SystemExit(f"PLANS.md has no section for {name}")
        new = "\n".join(section(spark, mode, name)) + "\n"
        text = pattern.sub(lambda _: new, text, count=1)
    with open(PLANS_MD, "w") as f:
        f.write(text)
    print(f"re-rendered {len(names)} PLANS.md sections")


def main() -> None:
    registry.load_all()
    names = sys.argv[1:]
    unknown = [n for n in names if n not in registry.QUERIES]
    if unknown:
        raise SystemExit(f"not registered: {unknown}")
    spark = get_spark("explain_all")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    if names:
        rerender(spark, mode, names)
        return
    out = [
        "# PLANS — optimized physical plans (every registered query, "
        f"{SF_DIR})",
        "",
        "Regenerated by `python tools/explain_all.py`. Condensed to the "
        "load-bearing operators: scans (with pushed filters + read schema), "
        "joins, exchanges, aggregates, codegen boundaries.",
        "Iterative label-propagation consumers localCheckpoint their "
        "per-round label table, so their sections show the (deliberately) "
        "truncated post-checkpoint plan — the iteration structure lives in "
        "dedup._labels_from_pairs.",
        "",
    ]
    for name in all_names():
        out += section(spark, mode, name)

    gen = generate_table(spark, 1_000_000, "key,rkey,int,varchar(20),double,date", seed=1)
    plan = gen._jdf.queryExecution().explainString(mode)
    out += [
        "## generator (expression backend)",
        "",
        "No Exchange anywhere — generation never shuffles.",
        "",
        "```",
        summarize(plan),
        "```",
        "",
    ]
    with open(PLANS_MD, "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
