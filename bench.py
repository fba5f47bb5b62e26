#!/usr/bin/env python
"""Headline-query benchmark.

Runs the engine's flagship queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed to full materialization (count of the result), after a
JVM/session warmup query so we measure the plans, not session startup.

Each query runs ``$SPARK_GRAFT_BENCH_TRIALS`` times (default 2) and the
MINIMUM is recorded: min-of-N is robust to transient host load, so
round-over-round deltas reflect plan drift, not machine state (VERDICT r5
bench-reproducibility item — the r4->r5 "267 of 272 regressed" false alarm
was host noise that cost a full forensic pass).

Hot-host gate (VERDICT r8 what's-wrong #1): before creating the Spark
session the run sleeps-and-rechecks until the 1-min loadavg is <= 4 AND no
orphaned SparkSubmit JVM survives from a prior run, up to
$SPARK_GRAFT_BENCH_MAX_WAIT seconds (default 600) — the r8 official
artifact was captured at loadavg 4.87 and came out uniformly ~1.42x
inflated. The measurement-start loadavg and the wait spent are stamped
into the artifact as loadavg_start / quiet_wait_sec.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from harmonize_search_analyze_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _host_state() -> tuple[float, list[int]]:
    """(1-min loadavg, pids of pre-existing SparkSubmit JVMs).

    Called BEFORE this process starts its own Spark session, so any
    SparkSubmit found is an orphan from a prior run — the documented
    PERFORMANCE.md failure mode behind uniformly ~1.4x-inflated tables
    (VERDICT r8 what's-wrong #1).

    Orphan match (ADVICE r9): the FULL class name
    ``org.apache.spark.deploy.SparkSubmit`` must appear as a standalone
    cmdline argument AND argv[0] must be a java executable — a bare
    substring scan stalled the gate on `grep SparkSubmit`, pagers with a
    log open, or unrelated jobs. The /proc walk is guarded so a
    non-Linux host degrades to the loadavg-only check instead of
    crashing at startup (ADVICE r9)."""
    try:
        la = os.getloadavg()[0]
    except OSError:
        la = 0.0
    orphans: list[int] = []
    try:
        pids = os.listdir("/proc")
    except OSError:
        return la, orphans  # non-Linux: loadavg-only gate
    for pid in pids:
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv = fh.read().split(b"\x00")
        except OSError:
            continue
        if (
            argv
            and os.path.basename(argv[0]).startswith(b"java")
            and b"org.apache.spark.deploy.SparkSubmit" in argv
        ):
            orphans.append(int(pid))
    return la, orphans


def _loadavg_now() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return 0.0


def _cpu_ref_sec() -> float:
    """Fixed single-core reference spin (~0.5 s on a healthy host).

    Round-10 optimization pass: two same-code bench runs on this host
    differed by a uniform ~19% (224 s vs 319 s totals) with loadavg gates
    green — a hypervisor/host slowness window that nothing in the artifact
    could prove. Stamping the same fixed workload's wall time at run start
    and end turns "the numbers look uniformly inflated" into a recorded,
    comparable host-speed measurement (the r8/r9 drift-stamp discipline,
    extended from load to speed)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(10_000_000):
        x += i
    assert x >= 0
    return round(time.perf_counter() - t0, 3)


def _await_quiet_host() -> tuple[float, float]:
    """Refuse to measure on a hot host: sleep-and-recheck until the
    1-min loadavg is <= 4 and no orphaned SparkSubmit JVM survives, up
    to $SPARK_GRAFT_BENCH_MAX_WAIT seconds (default 600). Returns
    (loadavg at measurement start, seconds waited). If the host never
    settles the run proceeds anyway (the driver must get a number) with
    a loud stderr warning — but the recorded loadavg_start exposes it."""
    max_wait = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_WAIT", "600"))
    t0 = time.monotonic()
    while True:
        la, orphans = _host_state()
        if la <= 4.0 and not orphans:
            return round(la, 2), round(time.monotonic() - t0, 1)
        waited = time.monotonic() - t0
        if waited >= max_wait:
            print(
                f"# WARNING: host never settled after {waited:.0f}s "
                f"(loadavg {la:.2f}, orphan SparkSubmit pids {orphans}) — "
                "totals likely inflated; prefer a settled-host rerun",
                file=sys.stderr,
            )
            return round(la, 2), round(waited, 1)
        print(
            f"# hot host (loadavg {la:.2f}, orphans {orphans}) — "
            f"waiting 15s before measuring ({waited:.0f}/{max_wait:.0f}s)",
            file=sys.stderr,
        )
        time.sleep(15)


def main() -> None:
    loadavg_start, waited_sec = _await_quiet_host()
    cpu_ref_start = _cpu_ref_sec()
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: touch every table once (schema resolution + JIT)
    for t in ("lineitem", "orders", "customer", "part", "events",
              "documents", "embeddings", "nation", "supplier", "region"):
        try:
            entrymod._t(spark, SF_DIR, t).limit(1).count()
        except Exception:
            pass

    # warm the Python worker pool: the first Arrow stage of a session pays
    # ~5-7s of per-worker interpreter boot + pandas/pyarrow import — a fixed
    # session cost, not operator work. Run a no-op mapInPandas across all
    # cores so timed queries measure their plans, not worker spin-up.
    def _warm(batches):
        import numpy  # noqa: F401  (pre-import in every worker)
        yield from batches

    try:
        spark.range(spark.sparkContext.defaultParallelism * 4) \
            .repartition(spark.sparkContext.defaultParallelism) \
            .mapInPandas(_warm, "id long").count()
    except Exception:
        pass

    # whole-stage-codegen warmup: the first execution of a plan family pays
    # a one-time janino compile of its generated stages (measured ~5-7s for
    # the token-explode/sketch/band/verify pipelines — data-independent,
    # class-cache-keyed by generated source).  Running the compile-heavy
    # queries once at the tiny SF populates that cache with byte-identical
    # code (same schemas, same expressions), so the timed loop below
    # measures steady-state plan execution — the same principle as the JVM
    # and Python-worker warmups above.  Queries not listed compile in
    # milliseconds; warming all 120+ would cost more wall time than it
    # reclassifies.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        compile_heavy = [
            "simhash_banded", "lsh_near_dup", "minhash_signatures",
            "embedding_lsh", "semantic_dedup", "dedup_clusters",
            "pq_search", "pq_search_ivf", "line_dedup", "substring_dedup",
            "fuzzy_decontaminate", "profile_dict", "lsh_incremental",
        ]
        qmap = entrymod.queries()
        for name in compile_heavy:
            try:
                qmap[name](spark, warm_dir).count()
            except Exception:
                pass
        gc.collect()
        spark.catalog.clearCache()

    trials = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "2")))

    # Drift accounting during the run (VERDICT r9 "next round" #3): the
    # run's own local[32] work saturates the host by design, so loadavg
    # can't GATE mid-run — instead it is STAMPED (end + max sampled at
    # every query boundary) so a competing job shows up in the artifact
    # as loadavg far above the session's own ~#cores ceiling.  The
    # actionable mid-run detector is trial-to-trial spread: a query
    # whose slowest NON-FIRST trial exceeds 1.5x its fastest gets ONE
    # extra trial (min still recorded), and its name is stamped into
    # respread_queries — r8's official artifact was ~20% uniformly
    # pessimistic and nothing in the artifact could prove it.  Trial 1
    # is excluded from the worst side: it pays any one-time codegen
    # compile for the plan family, which min-of-N already discards and
    # which would otherwise flag nearly every sub-second query.
    timings: dict[str, float] = {}
    loadavg_max = loadavg_start
    respread: list[str] = []
    for name, fn in entrymod.queries().items():
        best = worst = None  # worst tracks non-first trials only
        n_trials = trials
        t = 0
        while t < n_trials:
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            n = df.count()
            elapsed = time.perf_counter() - t0
            assert n >= 0
            if best is None or elapsed < best:
                best = elapsed
            if t > 0 and (worst is None or elapsed > worst):
                worst = elapsed
            # isolate trials/queries: drop the result so the context
            # cleaner can free the checkpoints its plan read, and drop any
            # cached blocks so no run pays storage pressure from a
            # predecessor
            del df
            gc.collect()
            spark.catalog.clearCache()
            t += 1
            if (
                t == n_trials
                and n_trials == trials
                and trials >= 2
                and worst is not None
                and best > 0.05
                and worst / best > 1.5
            ):
                n_trials += 1  # one re-run for a drift-suspect block
                respread.append(name)
        timings[name] = round(best, 4)
        try:
            loadavg_max = max(loadavg_max, os.getloadavg()[0])
        except OSError:
            pass

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    total = round(sum(timings.values()), 4)

    # The driver's artifact capture keeps only the LAST ~2 KB of output:
    # a single giant JSON line with 200+ per-query timings gets its head
    # (metric/value) truncated away and records "parsed": null
    # (BENCH_r02/BENCH_r03 — VERDICT r3 finding #3).  So: per-query map
    # goes to a FILE (committed as BENCHLOCAL_r{N}.json for round-over-
    # round comparison) and one line per query to stdout for humans,
    # then the LAST stdout line is one compact, always-parseable totals
    # JSON whose "queries" map carries only the 10 slowest.
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "trials": trials,
        "loadavg_start": loadavg_start,
        "loadavg_end": _loadavg_now(),
        "loadavg_max": round(loadavg_max, 2),
        "respread_queries": sorted(respread),
        "quiet_wait_sec": waited_sec,
        "cpu_ref_start_sec": cpu_ref_start,
        "cpu_ref_end_sec": _cpu_ref_sec(),
    }
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCHLOCAL.json"
    )
    with open(out_path, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
    for name in sorted(timings, key=timings.get, reverse=True):
        print(f"# {timings[name]:8.3f}s  {name}", file=sys.stderr)
    slowest = dict(sorted(
        timings.items(), key=lambda kv: kv[1], reverse=True
    )[:10])
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "n_queries": len(timings),
        "queries_file": "BENCHLOCAL.json",
        "sf": sf_val,
        "trials": trials,
    }))


if __name__ == "__main__":
    main()
