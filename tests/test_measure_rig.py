"""scripts/measure.py, the one measurement rig: parity against the DuckDB
oracle and traced per-query profiles on the engine's own session."""

from __future__ import annotations

import glob
import importlib.util
import os

import pytest

import __spark_entry__ as entrymod

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def measure():
    path = os.path.join(ROOT, "scripts", "measure.py")
    spec = importlib.util.spec_from_file_location("_measure_rig", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_parity_passes(measure, spark):
    assert measure.main(
        ["parity", "--sf=0.001", "terms_topk", "search_bool"]) == 0


def test_parity_reports_mismatch(measure, spark, monkeypatch):
    real = entrymod.oracle_sql()
    three = f"SELECT * FROM ({real['terms_topk']}) LIMIT 3"
    monkeypatch.setattr(entrymod, "oracle_sql",
                        lambda: {**real, "terms_topk": three})
    rows = measure.parity(spark, [measure.data_dir("0.001")], ["terms_topk"])
    assert [r["ok"] for r in rows] == [False]
    assert rows[0]["spark_rows"] > rows[0]["oracle_rows"] == 3
    assert measure.main(["parity", "--sf=0.001", "terms_topk"]) == 1


def test_profile_rows_carry_layers_and_ratios(measure, spark):
    rows = measure.profile(
        spark, [measure.data_dir("0.001"), measure.data_dir("0.01")],
        ["terms_topk"])
    assert [r["dir"] for r in rows] == [
        measure.data_dir("0.001"), measure.data_dir("0.01")]
    for r in rows:
        assert r["query"] == "terms_topk" and r["rows"] > 0
        assert r["jobs"] >= 1 and r["tasks"] >= 1 and r["wall_s"] > 0
        for k in ("stages", "task_cpu_s", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb", "python_worker_cpu_s"):
            assert k in r
    assert "wall_ratio" not in rows[0]
    assert rows[1]["wall_ratio"] > 0
    assert "shuffle_ratio" in rows[1]


def test_scripts_build_no_session_of_their_own():
    # a script that builds its own session measures a different program
    # (core count, heap, generated-code cache) from the one bench runs
    hits = [
        (os.path.basename(p), tok)
        for p in sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py")))
        for tok in ("SparkSession.builder", "local[", "driver_memory")
        if tok in open(p).read()
    ]
    assert hits == []
