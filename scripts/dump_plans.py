#!/usr/bin/env python
"""Dump .explain("formatted") for declared queries to plans/<tag>/<name>.txt.

Usage: python scripts/dump_plans.py <tag> [names...]   (no names = all)
The files are the judge-checkable evidence for plan-shape claims in
OPTIMIZATION_r10.md (Exchange count, join strategy, PushedFilters, ...).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from harmonize_search_analyze_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    suffix = ""
    for a in list(names):
        if a.startswith("--suffix="):
            suffix = a.split("=", 1)[1]
            names.remove(a)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(repo, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = entrymod.queries()
    if not names:
        names = list(qmap)
    for nm in names:
        try:
            df = qmap[nm](spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
        except Exception as exc:  # plan-time failure is itself evidence
            plan = f"EXPLAIN FAILED: {exc}"
        with open(os.path.join(out_dir, f"{nm}{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"# {nm}", file=sys.stderr)


if __name__ == "__main__":
    main()
