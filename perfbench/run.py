"""Benchmark entry point.

    python3 perfbench/run.py --workload {dashboard,curation} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Builds its inputs from ``--seed`` under
``.perfbench/`` in the repository, starts one Spark session on
``local[<nproc>]``, sets the workload up, runs its requests in a closed loop
for at least ``--seconds`` (whole passes only), checks every result in
DuckDB, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(see ``perfbench/NOTES.md``). The line before it holds the run stamps; a
full record (per-op latencies, spans) goes to ``.perfbench/out/``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")


def _process_age_s() -> float:
    """Seconds between this process's start and ``_T0``."""
    try:
        with open("/proc/self/stat") as fh:
            start = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            up = float(fh.read().split()[0])
        age = up - start / os.sysconf("SC_CLK_TCK")
        return max(0.0, age - (time.perf_counter() - _T0))
    except (OSError, ValueError, IndexError):
        return 0.0


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "harmonize_search_analyze_spark")
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, names in os.walk(pkg):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        # the ceiling keeps git from reporting a repository above the checkout
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)})
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _host(bench) -> dict:
    la, orphans = bench._host_state()
    return {"loadavg": round(la, 2), "orphan_sparksubmit": bool(orphans),
            "cpu_ref_s": bench._cpu_ref_sec(), "steal_s": _steal_s()}


def _isolate(workdir: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    confs = {
        # no hsperfdata file: HotSpot writes it under /tmp whatever tmpdir is
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={shlex.quote(tmp)} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def _warm_python_workers(spark) -> None:
    """Start one Python worker per core before timing (as bench.py does),
    so how many workers a timed op happens to spawn cannot move the CPU
    and RSS figures."""
    def _warm(batches):
        import numpy  # noqa: F401
        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(n * 4).repartition(n).mapInPandas(_warm, "id long").count()


def end_to_end(setup_s, refresh_cpu, cpu_s, rss, passes) -> dict:
    # refresh_cpu_ms is a mean: per-op CPU moves with the host, and over
    # ten runs the mean of a pass's refreshes spread less than their median
    return {
        "setup_s": (setup_s, "s"),
        "cpu_s": (cpu_s / passes, "s"),
        "refresh_cpu_ms": (1e3 * statistics.fmean(refresh_cpu), "ms"),
        "peak_rss_mb": (rss, "MB"),
    }


def wall_figures(wall_s, refresh_lat, passes) -> dict:
    """Wall-clock figures: recorded, not bounded (see NOTES.md, host noise)."""
    return {
        "wall_s": wall_s / passes,
        "refresh_p50_ms": 1e3 * statistics.median(refresh_lat),
        "refresh_max_ms": 1e3 * max(refresh_lat),
    }


def per_layer(tr, session: dict, cache: dict, writes: dict, passes: float,
              cores: int) -> dict:
    from workloads import CURATION

    layers = tr.layer_totals()
    empty = {"s": 0.0, "calls": 0, "jobs": 0}
    ops = tr.ops

    def per_pass(v: float) -> float:
        return v / passes

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session["start_s"], "s"),
        "session.warmup_s": (session["warmup_s"], "s"),
    }
    for name in ("sources.load", "sources.resolve", "sources.ingest",
                 "sources.write", "plans.compile"):
        m[f"{name}_s"] = (per_pass(layers.get(name, empty)["s"]), "s")
    for name in ("sources.load", "plans.compile"):
        m[f"{name}_calls"] = (
            per_pass(layers.get(name, empty)["calls"]), "count")
    m["sources.schema_cache_hit_ratio"] = (
        cache["hits"] / cache["calls"] if cache["calls"] else 0.0, "ratio")
    m["sources.write_mb"] = (per_pass(writes["mb"]), "MB")
    m["sources.files_written"] = (per_pass(writes["files"]), "count")
    modules = ["dashboards", "aggregations", "harmonize", "profiler"] + \
        sorted(set(CURATION.values()))
    for mod in modules:
        for phase in ("construct", "action"):
            agg = layers.get(f"operators.{mod}.{phase}", empty)
            m[f"operators.{mod}.{phase}_s"] = (per_pass(agg["s"]), "s")
            m[f"operators.{mod}.{phase}_jobs"] = (per_pass(agg["jobs"]), "count")
    counts = {"jobs", "stages", "tasks", "failed_tasks"}
    for k in ops[0]["spark"]:
        unit = "count" if k in counts else "MB" if k.endswith("_mb") else "s"
        m[f"spark.{k}"] = (per_pass(sum(op["spark"][k] for op in ops)), unit)
    op_wall = sum(op["wall_s"] for op in ops)
    m["spark.core_busy_ratio"] = (
        m["spark.task_run_s"][0] * passes / (op_wall * cores), "ratio")
    m["python.worker_cpu_s"] = (
        per_pass(sum(op["python_worker_cpu_s"] for op in ops)), "s")
    m["caching.persisted_leaked"] = (
        per_pass(sum(op["persisted_leaked"] for op in ops)), "count")
    m["trace.self_s"] = (per_pass(tr.self_s), "s")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["dashboard", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    age = _process_age_s()
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path[:0] = [HERE, ROOT]
    import bench  # the repo's host-state probes (loadavg, orphans, cpu_ref)

    t = time.perf_counter()
    host_start = _host(bench)
    stamp_s = time.perf_counter() - t

    workdir = os.path.join(
        STATE, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    _isolate(workdir)
    try:
        run = _run(args, workdir, age - stamp_s)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    stamps = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "git_commit": _git_commit(),
        "source_sha256": _source_digest(), **run["stamps"],
        "host_start": host_start, "host_end": _host(bench),
    }
    os.makedirs(os.path.join(STATE, "out"), exist_ok=True)
    record = os.path.join(
        STATE, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(record, "w") as fh:
        json.dump({**stamps, **run["detail"]}, fh)
    for m in run["failures"]:
        print(f"# FAILED {m}", file=sys.stderr)
    for name, (value, unit) in run["metrics"].items():
        print(f"# {name} = {value:.6g} {unit}", file=sys.stderr)
    print(json.dumps({"stamps": stamps}))
    print(json.dumps({
        "correct": run["failed"] == 0,
        "attempted": run["attempted"],
        "failed": run["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in run["metrics"].items()},
    }))
    return 0


def _run(args, workdir: str, offset_s: float) -> dict:
    """Set up, run the timed phase, check. ``offset_s`` is the part of
    set-up that happened before ``_T0`` minus the host-stamp time."""
    import duckdb
    import pyspark

    from harmonize_search_analyze_spark.session import get_spark
    from spans import RssSampler, Tracer, cpu_seconds, process_tree
    import workloads

    cores = len(os.sched_getaffinity(0))
    master = f"local[{cores}]"
    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=master,
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    session = {"start_s": time.perf_counter() - t}
    try:
        t = time.perf_counter()
        spark.range(1000).selectExpr("sum(id)").collect()
        _warm_python_workers(spark)
        session["warmup_s"] = time.perf_counter() - t

        tr = Tracer(spark, enabled=bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](spark, tr, workdir, args.seed)
        wl.setup()
        # untimed warm-up ops from pass 0, so the timed passes run with the
        # JVM's code generation and JIT warm, as a long-lived server would
        errors = []
        for k in range(wl.warmup_ops):
            try:
                wl.run_op(k)
            except Exception:
                errors.append(f"warm-up op {k} ({wl.op_name(k)}) raised: "
                              + traceback.format_exc(limit=3))
            wl.after_op()
        setup_s = time.perf_counter() - _T0 + offset_s

        lat, op_cpu, results = [], [], []
        cpu0 = cpu_seconds(process_tree())
        steal0 = _steal_s()
        i = i0 = wl.ops_per_pass
        with RssSampler() as rss:
            t0 = time.perf_counter()
            while True:
                c = cpu_seconds(process_tree())
                t = time.perf_counter()
                try:
                    with tr.op(wl.op_name(i)):
                        results.append((i, wl.run_op(i)))
                except Exception:
                    errors.append(f"op {i} ({wl.op_name(i)}) raised: "
                                  + traceback.format_exc(limit=3))
                lat.append(time.perf_counter() - t)
                op_cpu.append(cpu_seconds(process_tree()) - c)
                wl.after_op()
                i += 1
                if (i - i0) % wl.ops_per_pass == 0 and \
                        time.perf_counter() - t0 >= args.seconds:
                    break
            wall = time.perf_counter() - t0
        cpu = cpu_seconds(process_tree()) - cpu0
        steal = _steal_s() - steal0
        n = i - i0
        passes = n / wl.ops_per_pass

        mismatches = wl.check(results)
        if any(m.startswith("every op") for m in mismatches):
            failed = n
        else:
            raised = {m.split(" ", 2)[1] for m in errors if m.startswith("op ")}
            failing = {m.split(" ", 2)[1] for m in mismatches}
            failed = min(n, len(raised | failing))

        names = [wl.op_name(k) for k in range(i0, i)]
        refresh = [k for k, name in enumerate(names)
                   if name.startswith(wl.refresh_op)]
        walls = wall_figures(wall, [lat[k] for k in refresh], passes)
        if args.trace:
            metrics = per_layer(tr, session, wl.cache_stats, wl.write_stats,
                                passes, cores)
        else:
            metrics = end_to_end(setup_s, [op_cpu[k] for k in refresh], cpu,
                                 rss.peak, passes)
        detail = {"metrics": metrics, "setup_s": setup_s, "session": session,
                  "latencies_s": lat, "op_cpu_s": op_cpu, "op_names": names,
                  "failures": errors + mismatches}
        if args.trace:
            detail.update(tr.record())
        return {
            "stamps": {
                "nproc": cores, "master": master,
                "spark": pyspark.__version__, "duckdb": duckdb.__version__,
                "ops": n, "refreshes": len(refresh), "passes": passes,
                **walls, "timed_wall_s": wall, "timed_steal_s": steal,
                "failed_frac": failed / n,
            },
            "detail": detail, "metrics": metrics,
            "failures": errors + mismatches, "attempted": n, "failed": failed,
        }
    finally:
        _stop(spark)


def _stop(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for them."""
    from spans import process_tree

    gateway = spark.sparkContext._gateway
    spark.stop()
    children = process_tree()[1:]
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the Python workers outlive the JVM briefly and are re-parented
    deadline = time.perf_counter() + 30
    while time.perf_counter() < deadline:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


if __name__ == "__main__":
    sys.exit(main())
