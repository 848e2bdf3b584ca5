"""Mechanical physical-plan audit over every registered query.

For each ``queries()`` entry this compiles the DataFrame at the given
SF (no execution) and counts the plan features that decide 100 TB
behavior: shuffles (Exchange), join strategies, window operators and
their pre-shuffle group-limit pushdowns, parquet scans and how many of
them carry pushed filters, whole-stage-codegen span count, and any
Python row/batch eval operators.  Output is PLAN_AUDIT.md — the
check-me artifact behind the repo's scale claims (the per-query prose
lives in each query's docstring; this table is the part a reviewer can
regenerate mechanically).

Usage: python tools/plan_report.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PATTERNS = {
    "exchange": re.compile(r"\bExchange (hash|range|SinglePartition)", re.I),
    "bhj": re.compile(r"\bBroadcastHashJoin\b"),
    "smj": re.compile(r"\bSortMergeJoin\b"),
    "shj": re.compile(r"\bShuffledHashJoin\b"),
    "bnlj": re.compile(r"\bBroadcastNestedLoopJoin\b"),
    "cartesian": re.compile(r"\bCartesianProduct\b"),
    "window": re.compile(r"\bWindow \["),
    "wgl_partial": re.compile(r"\bWindowGroupLimit .*, Partial\b"),
    "scan": re.compile(r"\bFileScan parquet\b"),
    "py_eval": re.compile(r"\b(BatchEvalPython|ArrowEvalPython)\b"),
    "pandas_grouped": re.compile(r"\b(FlatMapGroupsInPandas|MapInPandas)\b"),
}
PUSHED_NONEMPTY = re.compile(r"PushedFilters: \[(?!\])")


def audit(plan: str) -> dict[str, int]:
    row = {k: len(p.findall(plan)) for k, p in PATTERNS.items()}
    row["pushed_scans"] = len(PUSHED_NONEMPTY.findall(plan))
    return row


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as m
    from sales_azure_data_engineer_project_spark.caching import release_caches
    from sales_azure_data_engineer_project_spark.session import get_spark

    spark = get_spark("plan-report")
    rows = []
    t0 = time.time()
    for name, fn in sorted(m.queries().items()):
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows.append((name, audit(plan)))
        release_caches()

    cols = [
        "exchange", "bhj", "smj", "shj", "bnlj", "cartesian",
        "window", "wgl_partial", "scan", "pushed_scans",
        "py_eval", "pandas_grouped",
    ]
    tot = {c: sum(r[c] for _, r in rows) for c in cols}
    out = [
        "# PLAN_AUDIT — mechanical physical-plan inventory",
        "",
        f"Generated by `tools/plan_report.py {sf_dir}` over "
        f"{len(rows)} registered queries "
        f"(initial physical plans, pre-AQE; {time.time()-t0:.0f}s).",
        "",
        "Fleet totals: "
        f"{tot['exchange']} exchanges, {tot['bhj']} broadcast-hash joins, "
        f"{tot['smj']} sort-merge joins, {tot['shj']} shuffled-hash joins, "
        f"{tot['bnlj']} broadcast-nested-loop joins (each allowlisted with a "
        "bounded-side justification in tests/test_scale_ops.py), "
        f"{tot['cartesian']} cartesian products, "
        f"{tot['window']} window operators ({tot['wgl_partial']} with a "
        "Partial pre-shuffle WindowGroupLimit), "
        f"{tot['scan']} parquet scans ({tot['pushed_scans']} with pushed "
        "filters), "
        f"{tot['py_eval']} row/batch Python evals, "
        f"{tot['pandas_grouped']} Arrow grouped/map-in-pandas operators "
        "(multimodal + grouped-map surface only).",
        "",
        "| query | Exchange | BHJ | SMJ | SHJ | BNLJ | Cartesian | Window"
        " | WGL(Partial) | scans | pushed | PyEval | ArrowPandas |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, r in rows:
        out.append(
            f"| {name} | " + " | ".join(str(r[c]) for c in cols) + " |"
        )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "PLAN_AUDIT.md")
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote {path}: {len(rows)} queries; totals {tot}")


if __name__ == "__main__":
    main()
