#!/usr/bin/env python
"""One measurement rig for the registered queries (``__spark_entry__``).

    python scripts/measure.py parity  [--sf=0.01[,0.001,...]] name [name ...]
    python scripts/measure.py profile [--sf=A[,B,...]]        name [name ...]

Each ``--sf`` item is an sf number of the shared testdata (``0.01`` reads
``sf0.01`` next to ``__spark_entry__.SF0001``) or a directory of
``<table>.parquet`` files, such as one written by
``scripts/gen_scale_data.py OUTDIR MULT``.

``parity`` runs ``queries()[name]`` on Spark and ``oracle_sql()[name]`` on
DuckDB over the directory's tables and compares row count, sorted column
names and order-insensitive normalized values (the rule of
``tests/test_oracle_parity.py``). A query without an oracle reports its row
count only. Exits 1 on any mismatch.

``profile`` runs each query once untimed per directory, then two ``count()``s,
each inside one ``perfbench/spans.Tracer`` op, and keeps the faster: wall
time, rows, and the jobs, stages, tasks, task CPU, shuffle, spill and
Python-worker CPU of that op. Across two or more directories each row also
carries ``wall_ratio`` and ``shuffle_ratio`` against the same query at the
previous directory. The run is stamped with the host's 1-min loadavg and a
fixed single-core spin (``cpu_ref``, ``bench._cpu_ref_sec``) at start and
end. Prints one JSON document; writes no file.

The session is ``get_spark(app_name="measure")``: the configuration bench and
perfbench run, on the host's cores.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from bench import _await_quiet_host, _cpu_ref_sec  # noqa: E402
from harmonize_search_analyze_spark.functions import caching  # noqa: E402
from harmonize_search_analyze_spark.session import get_spark  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402

TESTDATA = os.path.dirname(entrymod.SF0001)
PROFILE_FIELDS = ("jobs", "stages", "tasks", "task_cpu_s", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb")


def data_dir(item: str) -> str:
    return item if os.path.isdir(item) else os.path.join(TESTDATA, f"sf{item}")


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def _norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in idx) for r in rows)


def parity(spark, dirs: list[str], names: list[str]) -> list[dict]:
    """One row per (directory, query); ``ok`` is None without an oracle."""
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    out = []
    for d in dirs:
        con = duckdb.connect()
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(d, f)}'")
        for name in names:
            sdf = queries[name](spark, d)
            srows = sdf.collect()
            row = {"dir": d, "query": name, "spark_rows": len(srows),
                   "oracle_rows": None, "ok": None}
            sql = oracles.get(name)
            if sql is not None:
                rel = con.sql(sql)
                drows = rel.fetchall()
                row["oracle_rows"] = len(drows)
                row["ok"] = (
                    sorted(sdf.columns) == sorted(rel.columns)
                    and len(srows) == len(drows)
                    and _norm_rows(sdf.columns, srows)
                    == _norm_rows(list(rel.columns), drows)
                )
            caching.release(sdf)
            out.append(row)
        con.close()
    return out


def profile(spark, dirs: list[str], names: list[str]) -> list[dict]:
    """One row per (directory, query), the faster of two traced counts."""
    queries = entrymod.queries()
    tracer = Tracer(spark, enabled=True)
    out, prev = [], {}
    for d in dirs:
        for name in names:
            best = None
            for trial in range(3):              # the first is the warm run
                gc.collect()
                spark.catalog.clearCache()
                with tracer.op(name) if trial else contextlib.nullcontext():
                    df = queries[name](spark, d)
                    n = df.count()
                caching.release(df)
                op = tracer.ops[-1] if trial else None
                if op and (best is None or op["wall_s"] < best["wall_s"]):
                    best = {"dir": d, "query": name,
                            "wall_s": round(op["wall_s"], 3), "rows": n,
                            **{k: round(op["spark"][k], 3)
                               for k in PROFILE_FIELDS},
                            "python_worker_cpu_s":
                                round(op["python_worker_cpu_s"], 3)}
            lo = prev.get(name)
            if lo is not None:
                best["wall_ratio"] = _ratio(best["wall_s"], lo["wall_s"])
                best["shuffle_ratio"] = _ratio(_shuffle(best), _shuffle(lo))
            prev[name] = best
            out.append(best)
            print(json.dumps(best), file=sys.stderr, flush=True)
    return out


def _shuffle(row: dict) -> float:
    return row["shuffle_read_mb"] + row["shuffle_write_mb"]


def _ratio(hi: float, lo: float) -> float | None:
    return round(hi / lo, 2) if lo else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=("parity", "profile"))
    ap.add_argument("--sf", default="0.01",
                    help="comma-separated sf numbers or table directories")
    ap.add_argument("names", nargs="+", help="queries() entries")
    args = ap.parse_args(argv)
    dirs = [data_dir(s) for s in args.sf.split(",")]

    if args.mode == "parity":
        spark = get_spark(app_name="measure")
        rows = parity(spark, dirs, args.names)
        for r in rows:
            status = {None: "ROWS", True: "OK", False: "MISMATCH"}[r["ok"]]
            print(f"[{r['dir']}] {r['query']}: {status} "
                  f"spark_rows={r['spark_rows']} "
                  f"oracle_rows={r['oracle_rows']}")
        bad = sum(r["ok"] is False for r in rows)
        print("PARITY", "FAIL" if bad else "PASS", f"({bad} mismatches)")
        return 1 if bad else 0

    loadavg, waited = _await_quiet_host()
    doc = {"loadavg_start": loadavg, "quiet_wait_s": waited,
           "cpu_ref_start_s": _cpu_ref_sec()}
    spark = get_spark(app_name="measure")
    spark.sparkContext.setLogLevel("ERROR")
    doc["cores"] = spark.sparkContext.defaultParallelism
    doc["rows"] = profile(spark, dirs, args.names)
    doc["loadavg_end"] = round(os.getloadavg()[0], 2)
    doc["cpu_ref_end_s"] = _cpu_ref_sec()
    print(json.dumps(doc, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
