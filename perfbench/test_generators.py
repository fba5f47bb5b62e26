"""Tests for the benchmark's own input generators.

    python3 -m pytest perfbench/test_generators.py -q

- the same seed gives byte-identical inputs, a different seed different ones;
- on a tiny sample, every generated dashboard predicate selects the same rows
  through ``compile_query`` as through the DuckDB text emitted beside it.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402


def _read_all(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_city_csvs_repeat_per_seed(tmp_path):
    a = gen.write_city_csvs(str(tmp_path / "a"), 5, 300)
    b = gen.write_city_csvs(str(tmp_path / "b"), 5, 300)
    c = gen.write_city_csvs(str(tmp_path / "c"), 6, 300)
    assert _read_all(tmp_path / "a") == _read_all(tmp_path / "b")
    assert _read_all(tmp_path / "a") != _read_all(tmp_path / "c")
    assert [v["kept"] for v in a.values()] == [v["kept"] for v in b.values()]
    for city in gen.CITIES:
        assert 0 < a[city]["kept"] < a[city]["rows"]


def test_curation_tables_repeat_per_seed(tmp_path):
    kw = {"n_docs": 60, "n_vecs": 50, "n_orders": 40, "n_parts": 20}
    gen.write_curation_tables(str(tmp_path / "a"), 5, **kw)
    gen.write_curation_tables(str(tmp_path / "b"), 5, **kw)
    gen.write_curation_tables(str(tmp_path / "c"), 6, **kw)
    a, b, c = (_read_all(tmp_path / x) for x in "abc")
    assert a == b
    assert sorted(a) == [f"{t}.parquet" for t in gen.CURATION_TABLES]
    assert all(a[k] != c[k] for k in a)


def test_requests_repeat_per_seed():
    assert gen.dashboard_requests(5, 8) == gen.dashboard_requests(5, 8)
    assert gen.dashboard_requests(5, 8) != gen.dashboard_requests(6, 8)


def _sample_table(path: str, n: int = 4000) -> None:
    """Rows drawn from the values the requests talk about."""
    rng = np.random.default_rng(0)
    vocab = gen.harmonized_vocabulary()
    start = dt.datetime(gen.FIRST_YEAR, 1, 1)
    pq.write_table(pa.table({
        "id": pa.array(np.arange(n), pa.int64()),
        "description": pa.array(rng.choice(vocab + [None], n).tolist()),
        "dayofweek": pa.array(rng.choice(gen.DAYS, n).tolist()),
        "hour": pa.array(rng.integers(0, 24, n), pa.int32()),
        "city": pa.array(rng.choice(list(gen.CITIES), n).tolist()),
        "location": pa.array([gen._address(rng) for _ in range(n)]),
        "datetime": pa.array(
            [start + dt.timedelta(hours=int(h))
             for h in rng.integers(0, 8 * 365 * 24, n)], pa.timestamp("us")),
    }), path)


@pytest.fixture(scope="module")
def spark():
    from harmonize_search_analyze_spark.session import get_spark

    yield get_spark(app_name="perfbench-tests", master="local[2]",
                    shuffle_partitions=2)


def test_predicates_match_duckdb(spark, tmp_path):
    from pyspark.sql import functions as F

    from harmonize_search_analyze_spark.plans.compiler import compile_query
    from harmonize_search_analyze_spark.sources.tables import load_table

    _sample_table(str(tmp_path / "sample.parquet"))
    df = load_table(spark, str(tmp_path), "sample")
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW h AS SELECT * FROM "
                f"read_parquet('{tmp_path / 'sample.parquet'}')")
    nonempty = 0
    for req in gen.dashboard_requests(3, 12):
        got = {r[0] for r in df.where(compile_query(req["query"])).where(
            (F.col("datetime") >= F.lit(req["time_from"]))
            & (F.col("datetime") <= F.lit(req["time_to"]))
        ).select("id").collect()}
        want = {r[0] for r in con.sql(
            f"SELECT id FROM h WHERE {req['where']}").fetchall()}
        assert got == want, req["query"]
        nonempty += bool(want)
    assert nonempty >= 6          # the predicates are not vacuous
