"""Spans, Spark job groups, UI REST attribution and /proc accounting.

A ``Tracer`` built with ``enabled=False`` costs one branch per span: the
end-to-end run measures with it off. With it on, every span

- records name, start, end, parent and the op id shared by all spans of
  one refresh / query (kept in memory, written out at the end);
- sets a Spark job group, so the jobs a span triggers can be read back
  from the live UI REST API right after the op (default UI retention is
  enough because the read happens op by op);
- is timed inclusive of its child spans; job figures are inclusive too.

Process figures come from ``/proc``: CPU seconds and RSS of this process
and every descendant (the JVM, ``pyspark.daemon`` and its workers).
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import urllib.request
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# -- /proc --------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its descendants."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime of each process plus the reaped children it waited
    for, so a worker that exits mid-run still counts once."""
    total = 0
    for pid in pids:
        f = _stat(pid)
        if f:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError):
            pass
    return total * _PAGE / 2**20


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            argv = fh.read()
    except OSError:
        return False
    return b"pyspark.daemon" in argv or b"pyspark.worker" in argv


def python_worker_cpu_s() -> float:
    return cpu_seconds([p for p in process_tree() if _is_python_worker(p)])


class RssSampler:
    """Background thread tracking the peak RSS of the process tree."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_mb(process_tree()))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# -- spans ---------------------------------------------------------------------

_STAGE_SUMS = {
    # REST stage field -> (metric, scale)
    "executorRunTime": ("task_run_s", 1e-3),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleReadBytes": ("shuffle_read_mb", 2**-20),
    "shuffleWriteBytes": ("shuffle_write_mb", 2**-20),
    "memoryBytesSpilled": ("spill_mb", 2**-20),
    "diskBytesSpilled": ("spill_mb", 2**-20),
    "inputBytes": ("input_mb", 2**-20),
    "outputBytes": ("output_mb", 2**-20),
    "numTasks": ("tasks", 1),
    "numFailedTasks": ("failed_tasks", 1),
}
SPARK_FIELDS = ("jobs", "stages") + tuple(
    dict.fromkeys(m for m, _ in _STAGE_SUMS.values()))


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.self_s = 0.0            # time spent in the tracer's own work
        self._stack: list[dict] = []
        self._op: dict | None = None
        self._seq = 0
        if enabled:
            sc = spark.sparkContext
            self._sc = sc
            self._url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
            from harmonize_search_analyze_spark.functions.caching import (
                persisted_count,
            )
            self._persisted = lambda: persisted_count(spark)

    @property
    def in_op(self) -> bool:
        return self._op is not None

    # -- span API
    @contextlib.contextmanager
    def op(self, name: str):
        """Root span of one refresh / query; all its spans share an op id."""
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        self._op = {"op": len(self.ops), "name": name, "groups": {},
                    "persisted_before": self._persisted(),
                    "py_cpu_before": python_worker_cpu_s()}
        self.self_s += time.perf_counter() - t
        try:
            with self.span(name):
                yield
        finally:
            t = time.perf_counter()
            self._close_op()
            self.self_s += time.perf_counter() - t

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        s = {"id": self._seq, "name": name,
             "parent": parent["id"] if parent else None,
             "op": self._op["op"] if self._op else None,
             "group": f"perfbench-{self._seq}"}
        self._stack.append(s)
        if self._op is not None:
            self._op["groups"][s["group"]] = s
        self._sc.setJobGroup(s["group"], name, False)
        s["start"] = time.perf_counter()
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent["group"], parent["name"], False)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def wrap(self, name: str, fn):
        """``fn`` with each call inside a span (used to time calls the
        engine makes internally, e.g. ``compile_query`` inside
        ``crime_dashboard``)."""
        def wrapped(*a, **k):
            with self.span(name):
                return fn(*a, **k)
        wrapped.__wrapped__ = fn
        return wrapped

    # -- Spark attribution
    def _api(self, path: str):
        with urllib.request.urlopen(self._url + path, timeout=30) as fh:
            return json.load(fh)

    def _jobs_for(self, groups: dict) -> list[dict]:
        """Jobs of ``groups``, once the status store has seen them end."""
        # drain the listener bus first, so the store has seen every job the
        # op started (a job whose start event is still queued is not listed)
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        deadline = time.perf_counter() + 10
        while True:
            jobs = [j for j in self._api("/jobs") if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in jobs) or \
                    time.perf_counter() > deadline:
                return jobs
            time.sleep(0.02)

    def _close_op(self) -> None:
        op = self._op
        self._op = None
        groups = op.pop("groups")
        jobs = self._jobs_for(groups)
        want = {sid for j in jobs for sid in j["stageIds"]}
        stages = {}
        if want:
            deadline = time.perf_counter() + 10
            while True:
                stages = {s["stageId"]: s for s in self._api("/stages")
                          if s["stageId"] in want}
                if all(s["status"] != "ACTIVE" for s in stages.values()) or \
                        time.perf_counter() > deadline:
                    break
                time.sleep(0.02)
        by_span: dict[int, dict] = {}
        for s in groups.values():
            by_span[s["id"]] = dict.fromkeys(SPARK_FIELDS, 0)
        parents = {s["id"]: s["parent"] for s in groups.values()}
        total = dict.fromkeys(SPARK_FIELDS, 0)
        for j in jobs:
            fig = dict.fromkeys(SPARK_FIELDS, 0)
            fig["jobs"] = 1
            for sid in j["stageIds"]:
                st = stages.get(sid)
                if st is None or st["status"] == "SKIPPED":
                    continue
                fig["stages"] += 1
                for field, (metric, scale) in _STAGE_SUMS.items():
                    fig[metric] += st.get(field, 0) * scale
            for k, v in fig.items():
                total[k] += v
            sid = groups[j["jobGroup"]]["id"]
            while sid in by_span:              # inclusive: credit ancestors
                for k, v in fig.items():
                    by_span[sid][k] += v
                sid = parents.get(sid)
        for s in groups.values():
            s["spark"] = by_span[s["id"]]
        op["spark"] = total
        op["persisted_leaked"] = self._persisted() - op.pop("persisted_before")
        op["python_worker_cpu_s"] = (
            python_worker_cpu_s() - op.pop("py_cpu_before"))
        root = next(s for s in groups.values() if s["parent"] is None)
        op["wall_s"] = root["end"] - root["start"]
        op["spans"] = sorted(s["id"] for s in groups.values())
        self.ops.append(op)

    # -- output
    def record(self) -> dict:
        """Per-op figures and every span, for the run record."""
        spans = [{k: v for k, v in s.items() if k != "group"}
                 for s in sorted(self.spans, key=lambda s: s["id"])]
        return {"ops": self.ops, "spans": spans, "trace_self_s": self.self_s}

    def layer_totals(self) -> dict[str, dict]:
        """Per span name: calls, inclusive seconds, inclusive Spark figures."""
        out: dict[str, dict] = defaultdict(
            lambda: {"calls": 0, "s": 0.0, **dict.fromkeys(SPARK_FIELDS, 0)})
        for s in self.spans:
            if s["op"] is None:
                continue                       # set-up, not a timed op
            agg = out[s["name"]]
            agg["calls"] += 1
            agg["s"] += s["end"] - s["start"]
            for k, v in s.get("spark", {}).items():
                agg[k] += v
        return out
