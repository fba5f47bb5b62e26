"""Correctness checks, run after the timed phase (untimed), in DuckDB over
the same generated files the engine read or wrote.

Every function returns a list of mismatch messages, one per failing op,
each starting with ``op <i>`` so a failure names the request."""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb

import gen

_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lat: float, lon: float, precision: int) -> str:
    """Textbook bisection geohash (independent of the engine's SQL)."""
    lat_lo, lat_hi, lon_lo, lon_hi = -90.0, 90.0, -180.0, 180.0
    out, bit, ch, even = [], 0, 0, True
    while len(out) < precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                ch, lon_lo = ch * 2 + 1, mid
            else:
                ch, lon_hi = ch * 2, mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                ch, lat_lo = ch * 2 + 1, mid
            else:
                ch, lat_hi = ch * 2, mid
        even = not even
        bit += 1
        if bit == 5:
            out.append(_BASE32[ch])
            bit, ch = 0, 0
    return "".join(out)


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _dataset(hdir: str, city: str, suffix: str) -> str:
    path = os.path.join(hdir, f"{city}_{suffix}.parquet")
    if suffix == "harmonized":
        return (f"read_parquet('{path}/*/*.parquet', hive_partitioning=true)")
    return f"read_parquet('{path}/*.parquet')"


# -- dashboard ------------------------------------------------------------------

def dashboard_expected(con, where: str) -> dict[str, list[tuple]]:
    f = f"(SELECT * FROM h WHERE {where})"

    def terms(field: str, k: int) -> str:
        return (f"SELECT {field}, COUNT(*) AS doc_count FROM {f} "
                f"WHERE {field} IS NOT NULL GROUP BY {field} "
                f"ORDER BY doc_count DESC, {field} ASC LIMIT {k}")

    out = {
        "description_pie": con.sql(terms("description", 10)).fetchall(),
        "city_pie": con.sql(terms("city", 10)).fetchall(),
        "dataset_table": con.sql(
            f"SELECT city, notebookhtml, COUNT(*) AS doc_count FROM {f} "
            "WHERE city IS NOT NULL AND notebookhtml IS NOT NULL "
            "GROUP BY 1, 2 ORDER BY doc_count DESC, city, notebookhtml "
            "LIMIT 20").fetchall(),
        "day_hour_pie": con.sql(f"""
            WITH pair AS (
              SELECT dayofweek, hour, COUNT(*) AS doc_count FROM {f}
              WHERE dayofweek IS NOT NULL AND hour IS NOT NULL GROUP BY 1, 2),
            top AS (
              SELECT dayofweek, SUM(doc_count) AS outer_count FROM pair
              GROUP BY 1 ORDER BY outer_count DESC, dayofweek LIMIT 10),
            ranked AS (
              SELECT p.dayofweek, p.hour, p.doc_count,
                     CAST(t.outer_count AS BIGINT) AS outer_count,
                     row_number() OVER (PARTITION BY p.dayofweek
                       ORDER BY p.doc_count DESC, p.hour) AS r
              FROM pair p JOIN top t USING (dayofweek))
            SELECT dayofweek, hour, doc_count, outer_count FROM ranked
            WHERE r <= 24
            ORDER BY outer_count DESC, dayofweek, doc_count DESC, hour
            """).fetchall(),
    }
    cells: Counter = Counter()
    for (geo,) in con.sql(
            f"SELECT geolocation FROM {f} WHERE geolocation IS NOT NULL"
    ).fetchall():
        parts = geo.split(",")
        try:
            lat, lon = float(parts[0]), float(parts[1])
        except (IndexError, ValueError):
            continue
        cells[geohash(lat, lon, 2)] += 1
    out["incident_map"] = sorted(cells.items(), key=lambda kv: (-kv[1], kv[0]))
    return out


def check_dashboard(hdir: str, requests: list[dict], results) -> list[str]:
    con = _connect()
    con.execute("CREATE VIEW h AS " + " UNION ALL BY NAME ".join(
        f"SELECT * FROM {_dataset(hdir, c, 'harmonized')}" for c in gen.CITIES))
    expected: dict[int, dict] = {}
    bad = []
    for i, k, got in results:
        if k not in expected:
            expected[k] = dashboard_expected(con, requests[k]["where"])
        want = expected[k]
        diff = [p for p in want if [tuple(r) for r in want[p]] != got.get(p)]
        if diff:
            p = diff[0]
            bad.append(f"op {i} (request {k}): panel {p} differs: "
                       f"engine {got.get(p)[:5]} vs oracle {want[p][:5]}")
    return bad


# -- etl ------------------------------------------------------------------------

_NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "FLOAT",
            "DOUBLE", "DECIMAL")


def _num(v):
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    fa, fb = _num(a), _num(b)
    if fa is not None and fb is not None:
        return math.isclose(fa, fb, rel_tol=1e-6, abs_tol=1e-6)
    return str(a).replace("+00", "") == str(b).replace("+00", "")


def check_etl(hdir: str, csvs: dict, results) -> list[str]:
    """``results``: ``(i, (cities, bootstrap_rows))`` per ETL op. Checks the
    kept-row count of every harmonized table, every dictionary on disk
    against ``data_dict_oracle_sql``, and each bootstrap read-back."""
    from harmonize_search_analyze_spark.operators.profiler import (
        data_dict_oracle_sql,
    )

    con = _connect()
    problems = []
    dict_cities = [c for c in gen.CITIES if os.path.isdir(
        os.path.join(hdir, f"{c}_dictionary.parquet"))]
    for city in gen.CITIES:
        con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM "
                    f"{_dataset(hdir, city, 'harmonized')}")
        kept = con.sql("SELECT COUNT(*) FROM t").fetchone()[0]
        if kept != csvs[city]["kept"]:
            problems.append(f"{city}: kept {kept} rows, generator planted "
                            f"{csvs[city]['kept']} valid rows")
        if city not in dict_cities:
            continue
        cols = con.sql("DESCRIBE t").fetchall()
        numeric = [c for c, t, *_ in cols if t.split("(")[0] in _NUMERIC]
        other = [c for c, t, *_ in cols if t.split("(")[0] not in _NUMERIC]
        want = {r[0]: r for r in con.sql(
            data_dict_oracle_sql("t", numeric, other)).fetchall()}
        got = {r[0]: r for r in con.sql(
            "SELECT dict_field, dict_count, dict_countdistinct, "
            "dict_countmissing, dict_mean, dict_stddev, dict_min, dict_max "
            f"FROM {_dataset(hdir, city, 'dictionary')}").fetchall()}
        if set(want) != set(got):
            problems.append(f"{city}: dictionary fields {sorted(got)} vs "
                            f"table columns {sorted(want)}")
        for field in sorted(set(want) & set(got)):
            if not all(_same(a, b) for a, b in zip(got[field], want[field])):
                problems.append(f"{city}: dictionary row {field} is "
                                f"{got[field]}, oracle {want[field]}")
    boots: dict[tuple, list] = {}
    bad = [f"every op: {p}" for p in problems]
    for i, (cities, rows) in results:
        key = tuple(cities)
        if key not in boots:
            boots[key] = sorted(tuple(r) for r in con.sql(
                "SELECT dict_field, dict_vargroup, dict_vartype, "
                "dict_vardescr, dict_min, dict_max, dict_countdistinct, "
                "dict_uifilter FROM (" + " UNION ALL BY NAME ".join(
                    f"SELECT * FROM {_dataset(hdir, c, 'dictionary')}"
                    for c in cities) + ")").fetchall())
        if sorted(rows) != boots[key]:
            bad.append(f"op {i}: bootstrap over {cities} returned "
                       f"{len(rows)} rows, oracle {len(boots[key])}")
    return bad


# -- curation ---------------------------------------------------------------------

# the value normalization of tests/test_oracle_parity.py: floats to 9
# significant digits, rows compared as sorted tuples in column-name order
def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def _norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in idx) for r in rows)


def check_curation(data: str, names: list[str], results) -> list[str]:
    import __spark_entry__

    sqls = __spark_entry__.oracle_sql()
    con = _connect()
    for t in gen.CURATION_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t)}.parquet')")
    expected = {}
    bad = []
    for i, (cols, rows) in results:
        name = names[i % len(names)]
        if name not in expected:
            rel = con.sql(sqls[name])
            expected[name] = (rel.columns, _norm_rows(rel.columns, rel.fetchall()))
        want_cols, want = expected[name]
        if sorted(cols) != sorted(want_cols):
            bad.append(f"op {i} ({name}): columns {cols} vs oracle {want_cols}")
            continue
        got = _norm_rows(cols, rows)
        if got != want:
            first = next((a, b) for a, b in zip(got + [None] * len(want),
                                                want + [None] * len(got))
                         if a != b)
            bad.append(f"op {i} ({name}): {len(got)} rows vs oracle "
                       f"{len(want)}; first difference {first}")
    return bad

