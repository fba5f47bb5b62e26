"""Seeded input generators for the benchmark.

Everything a workload reads is made here from ``--seed``: the same seed
gives byte-identical files and requests, a different seed different ones.
The engine only ever sees the generated files.

- ``write_city_csvs``: raw city incident CSVs shaped like FIXTURES.md §1
  (Baltimore, Detroit, Los Angeles), with the quirks the harmonizer exists
  for (``24xx`` times, AM/PM stamps, empty / corrupt / sentinel / wrong-sign
  coordinates). Returns how many rows of each city must survive.
- ``dashboard_requests``: ES-DSL bool queries plus a time window, in the
  grammar the webapp's query builder emits (listed in ``plans/compiler.py``),
  each with the DuckDB ``WHERE`` text that selects the same rows.
- ``write_curation_tables``: ``documents`` (``scripts/gen_neardup_corpus.py``),
  ``embeddings`` (``scripts/gen_scale_data.py``) and a ``lineitem`` slice
  for the curation entries of ``__spark_entry__``.
"""

from __future__ import annotations

import csv
import datetime as dt
import importlib.util
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CITIES = ("baltimore", "detroit", "losangeles")

# raw description -> harmonized description (one unmapped value per city
# passes through unchanged, like the reference's CASE ... ELSE col)
DESCRIPTIONS = {
    "baltimore": {
        "AGG. ASSAULT": "Assault", "COMMON ASSAULT": "Assault",
        "LARCENY": "Theft", "LARCENY FROM AUTO": "Theft",
        "BURGLARY": "Burglary", "ROBBERY - STREET": "Robbery",
        "AUTO THEFT": "Vehicle Theft", "HOMICIDE": "Homicide",
        "ARSON": "Arson", "SHOOTING": None,
    },
    "detroit": {
        "ASSAULT": "Assault", "AGGRAVATED ASSAULT": "Assault",
        "BURGLARY": "Burglary", "LARCENY": "Theft",
        "STOLEN VEHICLE": "Vehicle Theft", "ROBBERY": "Robbery",
        "DANGEROUS DRUGS": "Narcotics", "FRAUD": "Fraud",
        "WEAPONS OFFENSES": "Weapons", "OBSTRUCTING JUDICIARY": None,
    },
    "losangeles": {
        "AGGRAVATED ASSAULT": "Assault", "BURGLARY": "Burglary",
        "LARCENY THEFT": "Theft", "GRAND THEFT AUTO": "Vehicle Theft",
        "ROBBERY": "Robbery", "NARCOTICS": "Narcotics",
        "FORGERY": "Fraud", "SEX OFFENSES FELONIES": "Sex Offenses",
        "KIDNAPPING": "Kidnapping", "VANDALISM": None,
    },
}

CENTERS = {
    "baltimore": (39.29, -76.61),
    "detroit": (42.36, -83.08),
    "losangeles": (34.05, -118.25),
}

STREETS = [
    "CHARLES", "CALVERT", "PRATT", "LOMBARD", "EUTAW", "HOWARD", "PACA",
    "GREENMOUNT", "WOODWARD", "GRATIOT", "MICHIGAN", "JEFFERSON", "LIVERNOIS",
    "FENKELL", "DEXTER", "WARREN", "FIGUEROA", "VERMONT", "WESTERN",
    "SEPULVEDA", "CRENSHAW", "WILSHIRE", "SUNSET", "OLYMPIC", "PICO",
    "MAIN", "OAK", "ELM", "CEDAR", "MAPLE", "PARK", "LAKE", "HILL",
]
SUFFIXES = ["ST", "AVE", "BLVD", "RD", "DR", "WAY"]
DAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
        "Saturday", "Sunday"]
FIRST_YEAR, LAST_YEAR = 2012, 2019

HEADERS = {
    "baltimore": [
        "CrimeDate", "CrimeTime", "CrimeCode", "Location", "Description",
        "Inside/Outside", "Weapon", "Post", "District", "Neighborhood",
        "Location 1", "Premise", "Total Incidents",
    ],
    "detroit": [
        "Crime ID", "Report #", "Incident Address", "Offense Description",
        "Offense Category", "State Offense Code", "Incident Date & Time",
        "Hour of Day", "Year", "Precinct Number", "Neighborhood",
        "Zip Code", "Longitude", "Latitude",
    ],
    "losangeles": [
        "CRIME_DATE", "CRIME_YEAR", "CRIME_CATEGORY_NUMBER",
        "CRIME_CATEGORY_DESCRIPTION", "STATISTICAL_CODE", "VICTIM_COUNT",
        "STREET", "CITY", "STATE", "ZIP", "LATITUDE", "LONGITUDE",
        "GANG_RELATED", "STATION_NAME",
    ],
}


def harmonized_vocabulary() -> list[str]:
    """Every ``description`` value a harmonized table can hold."""
    out = set()
    for mapping in DESCRIPTIONS.values():
        for raw, harmonized in mapping.items():
            out.add(harmonized or raw)
    return sorted(out)


def _coord(rng: np.random.Generator, center: float) -> str:
    # 5 decimals ending in 5: never exactly on a geohash cell edge, so the
    # oracle's bisection and the engine's quantization cannot disagree
    return f"{round(center + rng.uniform(-0.15, 0.15), 4) + 0.00005:.5f}"


def _address(rng: np.random.Generator) -> str:
    num = int(rng.integers(1, 99)) * 100
    direction = ["", "N ", "S ", "E ", "W "][int(rng.integers(0, 5))]
    street = STREETS[int(rng.integers(0, len(STREETS)))]
    suffix = SUFFIXES[int(rng.integers(0, len(SUFFIXES)))]
    return f"{num} {direction}{street} {suffix}"


def _when(rng: np.random.Generator) -> dt.datetime:
    start = dt.datetime(FIRST_YEAR, 1, 1)
    span = (dt.datetime(LAST_YEAR + 1, 1, 1) - start).total_seconds()
    return start + dt.timedelta(minutes=int(rng.integers(0, span // 60)))


def _ampm(t: dt.datetime) -> str:
    h12 = t.hour % 12 or 12
    return f"{h12}:{t.minute:02d}:00 {'AM' if t.hour < 12 else 'PM'}"


def _baltimore_row(rng, t, good: bool) -> list[str]:
    lat, lon = CENTERS["baltimore"]
    if t.hour == 0 and rng.random() < 0.5:
        ctime = f"24{t.minute:02d}"          # hour 24 means 00
    elif rng.random() < 0.5:
        ctime = f"{t.hour:02d}{t.minute:02d}"
    else:
        ctime = f"{t.hour:02d}:{t.minute:02d}:00"
    if good:
        loc1 = f"({_coord(rng, lat)}, {_coord(rng, lon)})"
    else:
        loc1 = ["", "(, )", "(NaN, NaN)"][int(rng.integers(0, 3))]
    descr = list(DESCRIPTIONS["baltimore"])[int(rng.integers(0, 10))]
    return [
        f"{t.month}/{t.day}/{t.year}", ctime, f"{int(rng.integers(1, 9))}A",
        _address(rng), descr, ["I", "O", ""][int(rng.integers(0, 3))],
        "" if rng.random() < 0.7 else ["KNIFE", "FIREARM", "HANDS"][
            int(rng.integers(0, 3))],
        str(int(rng.integers(100, 999))),
        ["NORTHERN", "SOUTHERN", "EASTERN", "WESTERN", "CENTRAL"][
            int(rng.integers(0, 5))],
        f"Hood {int(rng.integers(1, 60))}", loc1,
        ["Street", "Row/Townhou", "Parking Lot"][int(rng.integers(0, 3))], "1",
    ]


def _detroit_row(rng, t, good: bool) -> list[str]:
    lat, lon = CENTERS["detroit"]
    la, lo = _coord(rng, lat), _coord(rng, lon)
    if not good:
        kind = int(rng.integers(0, 3))
        if kind == 0:
            la, lo = "", ""
        elif kind == 1:
            la, lo = "99999.0", "99999.0"
        else:
            la = la.lstrip("-") if rng.random() < 0.5 else "-" + la
            lo = lo.lstrip("-")                   # wrong-sign longitude
    cat = list(DESCRIPTIONS["detroit"])[int(rng.integers(0, 10))]
    return [
        str(int(rng.integers(1_000_000, 9_999_999))),
        f"R{int(rng.integers(10_000, 99_999))}", _address(rng),
        cat.title(), cat, f"{int(rng.integers(1000, 9999))}",
        f"{t.month:02d}/{t.day:02d}/{t.year} "
        f"{(t.hour % 12 or 12):02d}:{t.minute:02d}:00 "
        f"{'AM' if t.hour < 12 else 'PM'}",
        str(t.hour), str(t.year), str(int(rng.integers(1, 13))),
        f"Area {int(rng.integers(1, 40))}", str(int(rng.integers(48201, 48240))),
        lo, la,
    ]


def _losangeles_row(rng, t, good: bool) -> list[str]:
    lat, lon = CENTERS["losangeles"]
    la, lo = _coord(rng, lat), _coord(rng, lon)
    if not good:
        if rng.random() < 0.5:
            la, lo = "", ""
        else:
            la = "-" + la                         # negative-latitude corrupt
    cat = list(DESCRIPTIONS["losangeles"])[int(rng.integers(0, 10))]
    return [
        f"{t.month}/{t.day}/{t.year} {_ampm(t)}", str(t.year),
        str(int(rng.integers(1, 30))), cat, f"{int(rng.integers(100, 999))}",
        str(int(rng.integers(1, 4))), _address(rng), "LOS ANGELES", "CA",
        str(int(rng.integers(90001, 90099))), la, lo,
        "Y" if rng.random() < 0.1 else "N",
        ["CENTRAL", "HOLLENBECK", "NEWTON", "RAMPART", "OLYMPIC"][
            int(rng.integers(0, 5))],
    ]


_ROW = {"baltimore": _baltimore_row, "detroit": _detroit_row,
        "losangeles": _losangeles_row}


def write_city_csvs(
    outdir: str, seed: int, rows_per_city: int, bad_frac: float = 0.06
) -> dict[str, dict]:
    """Write ``<outdir>/<city>.csv`` for the three cities.

    Returns ``{city: {"path", "rows", "kept"}}``: ``kept`` is the number of
    rows whose coordinates are valid, i.e. what harmonization must keep."""
    os.makedirs(outdir, exist_ok=True)
    out = {}
    for i, city in enumerate(CITIES):
        rng = np.random.default_rng([seed, i])
        path = os.path.join(outdir, f"{city}.csv")
        kept = 0
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh, lineterminator="\n")
            w.writerow(HEADERS[city])
            for _ in range(rows_per_city):
                good = bool(rng.random() >= bad_frac)
                kept += good
                w.writerow(_ROW[city](rng, _when(rng), good))
        out[city] = {"path": path, "rows": rows_per_city, "kept": kept}
    return out


# -- dashboard requests -------------------------------------------------------

def _sql_str(v: str) -> str:
    return "'" + str(v).replace("'", "''") + "'"


def phrase_prefix_sql(column: str, text: str) -> str:
    """DuckDB text for ``match_phrase_prefix`` on ``<column>.split``:
    lowercase alphanumeric tokens; all words but the last must be whole
    consecutive tokens and the last a token prefix."""
    words = [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]
    body = "[^a-z0-9]+".join(words[:-1] + [words[-1]])
    return f"regexp_matches(lower({column}), '(^|[^a-z0-9]){body}')"


# ``query_string`` texts the webapp sends: the search box's ``*`` and a
# field's "has a value" filter ``<field>:*`` (collections.js:78-80)
QUERY_STRINGS = ("*", "description:*", "location:*", "dayofweek:*")


def _query_string_sql(text: str) -> str:
    return "TRUE" if text == "*" else f"{text[:-2]} IS NOT NULL"


def _epoch_ms(t: dt.datetime) -> int:
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp()) * 1000


def dashboard_requests(seed: int, n: int) -> list[dict]:
    """``n`` refresh requests: ``{"query", "time_from", "time_to", "where"}``.

    Each query is shaped as the webapp's ``FieldCollection.generateQuery``
    builds it (the grammar listed in ``plans/compiler.py``): one ``bool``
    whose ``must`` holds a ``query_string`` of ``*`` or ``<field>:*``, a
    numeric ``range`` on ``hour``, an ``epoch_millis`` date ``range``, one
    ``bool`` of ``should`` ``match`` clauses with ``minimum_should_match: 1``
    per multi-value filter (``city``, ``dayofweek``) and, on every other
    request, a ``match_phrase_prefix`` on ``location.split``. A ``terms``
    clause on ``description`` rides along. ``time_from`` / ``time_to`` are
    the dashboard's time window; ``where`` is the DuckDB predicate (window
    included) selecting the same rows."""
    rng = np.random.default_rng([seed, 99])
    vocab = harmonized_vocabulary()
    out = []
    for j in range(n):
        qs = QUERY_STRINGS[int(rng.integers(0, len(QUERY_STRINGS)))]
        descr = sorted(rng.choice(vocab, size=int(rng.integers(4, 9)),
                                  replace=False).tolist())
        lo = int(rng.integers(0, 10))
        hi = int(rng.integers(lo + 8, 24))
        cities = sorted(rng.choice(CITIES, size=2, replace=False).tolist())
        days = sorted(rng.choice(DAYS, size=int(rng.integers(3, 6)),
                                 replace=False).tolist())
        y0 = int(rng.integers(FIRST_YEAR, LAST_YEAR - 2))
        y1 = int(rng.integers(y0 + 2, LAST_YEAR + 1))
        time_from = dt.datetime(y0, int(rng.integers(1, 13)), 1)
        time_to = dt.datetime(y1, int(rng.integers(1, 13)), 1, 12, 30)
        d0 = dt.datetime(FIRST_YEAR, 1, 1) + dt.timedelta(
            days=int(rng.integers(0, 3 * 365)))
        d1 = d0 + dt.timedelta(days=int(rng.integers(3 * 365, 6 * 365)),
                               hours=int(rng.integers(0, 24)))
        must = [
            {"query_string": {"query": qs}},
            {"terms": {"description": descr}},
            {"range": {"hour": {"gte": lo, "lte": hi}}},
            {"range": {"datetime": {"from": _epoch_ms(d0), "to": _epoch_ms(d1),
                                    "format": "epoch_millis"}}},
            {"bool": {"should": [{"match": {"city": c}} for c in cities],
                      "minimum_should_match": 1}},
            {"bool": {"should": [{"match": {"dayofweek": d}} for d in days],
                      "minimum_should_match": 1}},
        ]
        where = [
            _query_string_sql(qs),
            f"description IN ({', '.join(_sql_str(d) for d in descr)})",
            f"hour >= {lo} AND hour <= {hi}",
            f"datetime >= TIMESTAMP '{d0:%Y-%m-%d %H:%M:%S}'",
            f"datetime <= TIMESTAMP '{d1:%Y-%m-%d %H:%M:%S}'",
            "(" + " OR ".join(f"city = {_sql_str(c)}" for c in cities) + ")",
            "(" + " OR ".join(f"dayofweek = {_sql_str(d)}" for d in days) + ")",
        ]
        if j % 2:
            street = STREETS[int(rng.integers(0, len(STREETS)))]
            prefix = street[: int(rng.integers(1, 4))].lower()
            if rng.random() < 0.5:
                direction = ["n", "s", "e", "w"][int(rng.integers(0, 4))]
                prefix = f"{direction} {prefix}"
            must.append({"match_phrase_prefix": {"location.split": prefix}})
            where.append(phrase_prefix_sql("location", prefix))
        where += [f"datetime >= TIMESTAMP '{time_from:%Y-%m-%d %H:%M:%S}'",
                  f"datetime <= TIMESTAMP '{time_to:%Y-%m-%d %H:%M:%S}'"]
        out.append({"query": {"bool": {"must": must}}, "time_from": time_from,
                    "time_to": time_to, "where": " AND ".join(where)})
    return out


# -- curation tables ----------------------------------------------------------

def _load_script(name: str):
    path = os.path.join(ROOT, "scripts", f"{name}.py")
    spec = importlib.util.spec_from_file_location(f"_perfbench_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


CURATION_TABLES = ("documents", "embeddings", "lineitem")


def _lineitem(rng: np.random.Generator, n_orders: int, n_parts: int) -> pa.Table:
    lines = rng.integers(1, 8, size=n_orders)
    orderkey = np.repeat(np.arange(1, n_orders + 1), lines)
    n = len(orderkey)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])
    return pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_parts + 1, size=n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 101, size=n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(float)),
    })


def write_curation_tables(
    outdir: str, seed: int, n_docs: int = 1000, n_vecs: int = 600,
    n_orders: int = 4000, n_parts: int = 400,
) -> dict[str, int]:
    """Write documents / embeddings / lineitem parquet files.
    Returns row counts per table."""
    os.makedirs(outdir, exist_ok=True)
    docs = _load_script("gen_neardup_corpus").build_table(n_docs, seed)
    pq.write_table(docs, os.path.join(outdir, "documents.parquet"))
    emb = os.path.join(outdir, "embeddings.parquet")
    _load_script("gen_scale_data").gen_embeddings(
        outdir, 1, np.random.default_rng([seed, 1]))
    pq.write_table(pq.read_table(emb).slice(0, n_vecs), emb)
    pq.write_table(_lineitem(np.random.default_rng([seed, 2]), n_orders, n_parts),
                   os.path.join(outdir, "lineitem.parquet"))
    return {t: pq.read_metadata(os.path.join(outdir, f"{t}.parquet")).num_rows
            for t in CURATION_TABLES}
