"""The workloads: ``dashboard`` and ``curation``.

Each workload has a set-up (inputs from the seed), a fixed list of requests
making up one pass, a function running request ``i``, and a correctness
check run after the timed phase. Requests are closed loop from one client:
the next starts when the previous returns.
"""

from __future__ import annotations

import gc
import os

from pyspark.sql import functions as F

import gen
import oracle

from harmonize_search_analyze_spark.functions import caching
from harmonize_search_analyze_spark.operators import dashboards as dash_mod
from harmonize_search_analyze_spark.operators.dashboards import (
    crime_dashboard,
    dictionary_bootstrap,
)
from harmonize_search_analyze_spark.operators.harmonize import (
    DATETIME_AMPM_RE,
    Harmonizer,
    ampm_to_24h,
    extract_date_parts,
    extract_time_parts,
)
from harmonize_search_analyze_spark.operators.profiler import ColumnMeta
from harmonize_search_analyze_spark.sources import tables as tables_mod
from harmonize_search_analyze_spark.sources.catalog import Catalog
from harmonize_search_analyze_spark.sources.ingest import read_city_csv
from harmonize_search_analyze_spark.sources.tables import load_table

ROWS_PER_CITY = 4000
GEO_RE = r"^-?[0-9]+\.[0-9]+,-?[0-9]+\.[0-9]+$"


def _mapping(city: str) -> dict[str, str]:
    return {k: v for k, v in gen.DESCRIPTIONS[city].items() if v}


def _parse_ampm(h: Harmonizer, src: str) -> Harmonizer:
    c = F.col(src)
    h.df = (
        h.df
        .withColumn("month", F.regexp_extract(c, DATETIME_AMPM_RE, 1).cast("int"))
        .withColumn("day", F.regexp_extract(c, DATETIME_AMPM_RE, 2).cast("int"))
        .withColumn("year", F.regexp_extract(c, DATETIME_AMPM_RE, 3).cast("int"))
        .withColumn("hour12", F.regexp_extract(c, DATETIME_AMPM_RE, 4))
        .withColumn("minute", F.regexp_extract(c, DATETIME_AMPM_RE, 5).cast("int"))
        .withColumn("ampm", F.regexp_extract(c, DATETIME_AMPM_RE, 7))
    )
    h.df = h.df.withColumn(
        "hour", ampm_to_24h(F.col("hour12"), F.col("ampm"))
    ).drop("hour12", "ampm")
    return h


def harmonize(city: str, raw) -> Harmonizer:
    """The per-city harmonization chain (as in the reference notebooks)."""
    h = Harmonizer(raw).make_valid_variable_names()
    if city == "baltimore":
        h.df = h.df.withColumn(
            "geolocation", F.regexp_replace(F.col("location1"), r"[()\s]", "")
        )
        h = h.filter_nonempty("geolocation")
        h.df = h.df.where(F.col("geolocation").rlike(GEO_RE))
        h.df = extract_time_parts(
            extract_date_parts(h.df, "crimedate"), "crimetime")
        h = h.map_var("description", "description").map_values(
            "description", _mapping(city))
    elif city == "detroit":
        h = _parse_ampm(h, "incidentdatetime")
        h = (
            h.map_var("offensecategory", "description")
            .map_values("description", _mapping(city))
            .map_var("incidentaddress", "location")
            .set_col_data_types({"latitude": "double", "longitude": "double"})
            .filter_range_sanity("latitude", 40, 45)
            .filter_range_sanity("longitude", -90, -80)
            .derive_geolocation()
        )
    else:
        h = _parse_ampm(h, "crime_date")
        h = (
            h.map_var("crime_category_description", "description")
            .map_values("description", _mapping(city))
            .map_var("street", "location")
            .map_var("station_name", "neighbourhood")
            .set_col_data_types({"latitude": "double", "longitude": "double",
                                 "gang_related": "boolean"})
            .filter_range_sanity("latitude", 0, 90)
            .filter_range_sanity("longitude", -119, -117)
            .derive_geolocation()
        )
    return (
        h.derive_datetime()
        .derive_dayofweek()
        .add_provenance(city=city, notebookhtml=f"{city.title()}.html")
        .set_col_data_types({"year": "int", "month": "int", "day": "int",
                             "hour": "int", "minute": "int"})
    )


DICT_META = {
    "description": ColumnMeta(vargroup="01.Incident", uifilter=True,
                              vardescr="Harmonized offense"),
    "datetime": ColumnMeta(vargroup="00.Date and Time", vartype="datetime"),
    "city": ColumnMeta(vargroup="10.Location", uifilter=True),
}


class Workload:
    name = ""
    ops_per_pass = 1
    warmup_ops = 1           # ops of pass 0 run untimed during set-up
    refresh_op = ""          # name prefix of the ops counted as refreshes

    def __init__(self, spark, tr, workdir: str, seed: int):
        self.spark, self.tr, self.workdir, self.seed = spark, tr, workdir, seed
        # traced run only: load_table calls that found their schema cached,
        # and what the Parquet writes left on disk
        self.cache_stats = {"hits": 0, "calls": 0}
        self.write_stats = {"mb": 0.0, "files": 0}

    def setup(self) -> None:
        raise NotImplementedError

    def op_name(self, i: int) -> str:
        raise NotImplementedError

    def run_op(self, i: int):
        raise NotImplementedError

    def after_op(self) -> None:
        pass

    def check(self, results: list[tuple[int, object]]) -> list[str]:
        """Mismatch messages (one per failing op) for ``(i, result)``."""
        raise NotImplementedError


class Dashboard(Workload):
    """One pass: one city's ETL refresh (CSV -> harmonized Parquet +
    dictionary -> bootstrap read-back), then ``REFRESHES`` dashboard
    refreshes over the union of every harmonized city table."""

    name = "dashboard"
    refresh_op = "dashboard.refresh"
    REFRESHES = 4
    ops_per_pass = 1 + REFRESHES
    # the ETL refresh and one dashboard refresh run every code path of a pass
    warmup_ops = 2

    def setup(self) -> None:
        self.csvs = gen.write_city_csvs(
            os.path.join(self.workdir, "raw"), self.seed, ROWS_PER_CITY)
        self.hdir = os.path.join(self.workdir, "harmonized")
        # the first warm-up op builds CITIES[0] before any refresh reads it
        for city in gen.CITIES[1:]:
            self.write_city(city, dictionary=False)
        self.requests = gen.dashboard_requests(self.seed, self.REFRESHES * 4)
        if self.tr.enabled:
            # time the calls crime_dashboard makes into plans and aggregations
            dash_mod.compile_query = self.tr.wrap(
                "plans.compile", dash_mod.compile_query)
            dash_mod.dashboard = self.tr.wrap(
                "operators.aggregations.construct", dash_mod.dashboard)

    def _load_union(self, suffix: str, cities):
        tr = self.tr
        cat = Catalog(self.spark)
        for city in cities:
            cached = len(tables_mod._SCHEMA_CACHE)
            with tr.span("sources.load"):
                cat.register(f"{city}_{suffix}",
                             load_table(self.spark, self.hdir, f"{city}_{suffix}"))
            if tr.in_op:
                self.cache_stats["calls"] += 1
                self.cache_stats["hits"] += len(tables_mod._SCHEMA_CACHE) == cached
        with tr.span("sources.resolve"):
            return cat.resolve(f"*_{suffix}")

    def _count_written(self, path: str) -> None:
        if not self.tr.in_op:
            return
        for d, _, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet"):
                    self.write_stats["files"] += 1
                    self.write_stats["mb"] += (
                        os.path.getsize(os.path.join(d, n)) / 2**20)

    def write_city(self, city: str, dictionary: bool = True) -> None:
        """CSV -> harmonized Parquet (partitioned by year), and the city's
        data dictionary unless ``dictionary`` is false."""
        tr, spark = self.tr, self.spark
        cat = Catalog(spark)
        with tr.span("sources.ingest"):
            raw = read_city_csv(spark, self.csvs[city]["path"])
        with tr.span("operators.harmonize.construct"):
            h = harmonize(city, raw)
        if dictionary:
            with tr.span("operators.profiler.construct"):
                dict_df = h.build_dictionary(dict(DICT_META))
        path = os.path.join(self.hdir, f"{city}_harmonized.parquet")
        with tr.span("operators.harmonize.action"), tr.span("sources.write"):
            cat.save_parquet(h.df, path, partition_by=["year"])
        self._count_written(path)
        if dictionary:
            path = os.path.join(self.hdir, f"{city}_dictionary.parquet")
            with tr.span("operators.profiler.action"), tr.span("sources.write"):
                cat.save_parquet(dict_df, path)
            self._count_written(path)

    def bootstrap(self) -> tuple[list[str], list[tuple]]:
        """The UI bootstrap read-back over every dictionary written so far.
        Returns the cities it covered and the rows."""
        tr = self.tr
        cities = [c for c in gen.CITIES if os.path.isdir(
            os.path.join(self.hdir, f"{c}_dictionary.parquet"))]
        union = self._load_union("dictionary", cities)
        with tr.span("operators.dashboards.construct"):
            boot = dictionary_bootstrap(union)
        with tr.span("operators.dashboards.action"):
            return cities, [tuple(r) for r in boot.collect()]

    def _etl_city(self, i: int) -> str | None:
        if i % self.ops_per_pass:
            return None
        return gen.CITIES[(i // self.ops_per_pass) % len(gen.CITIES)]

    def op_name(self, i: int) -> str:
        city = self._etl_city(i)
        return f"etl.{city}" if city else "dashboard.refresh"

    def run_op(self, i: int):
        city = self._etl_city(i)
        if city:
            self.write_city(city)
            return ("etl",) + self.bootstrap()
        k = (i - i // self.ops_per_pass - 1) % len(self.requests)
        return ("refresh", k, self.refresh(self.requests[k]))

    def refresh(self, req: dict) -> dict[str, list[tuple]]:
        tr = self.tr
        union = self._load_union("harmonized", gen.CITIES)
        with tr.span("operators.dashboards.construct"):
            panels = crime_dashboard(
                union, query_ast=req["query"],
                time_from=req["time_from"], time_to=req["time_to"])
        # the panels are aggregations-module frames (built by ``dashboard``):
        # their materialization is that module's action, inside the
        # dashboards-module action
        with tr.span("operators.dashboards.action"):
            with tr.span("operators.aggregations.action"):
                out = {name: [tuple(r) for r in df.collect()]
                       for name, df in panels.items()}
            caching.release_all(panels.values())
        return out

    def check(self, results):
        etl = [(i, r[1:]) for i, r in results if r[0] == "etl"]
        refreshes = [(i, r[1], r[2]) for i, r in results if r[0] == "refresh"]
        return (oracle.check_etl(self.hdir, self.csvs, etl)
                + oracle.check_dashboard(self.hdir, self.requests, refreshes))


# curation entry -> the operators module its plan is built by
CURATION = {
    "dedup_clusters": "dedup",
    "embedding_lsh": "similarity",
    "k_core": "graph",
    "dup_factor": "analytics",
}


class Curation(Workload):
    name = "curation"
    refresh_op = "curation."
    ops_per_pass = warmup_ops = len(CURATION)

    def setup(self) -> None:
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.names = list(CURATION)
        self.data = os.path.join(self.workdir, "tables")
        gen.write_curation_tables(self.data, self.seed)

    def op_name(self, i: int) -> str:
        return f"curation.{self.names[i % self.ops_per_pass]}"

    def run_op(self, i: int):
        name = self.names[i % self.ops_per_pass]
        module = CURATION[name]
        tr = self.tr
        with tr.span(f"operators.{module}.construct"):
            df = self.queries[name](self.spark, self.data)
        with tr.span(f"operators.{module}.action"):
            rows = df.collect()
            caching.release(df)
        return list(df.columns), [tuple(r) for r in rows]

    def after_op(self) -> None:
        # functions.caching unpersists an entry's tethered intermediates when
        # the garbage collector finalizes the returned frame; collect here,
        # between ops and outside the op's latency, so that happens when an
        # application dropping the frame would see it. Intermediates the
        # engine never tethers stay persisted, and show in the figures.
        gc.collect()

    def check(self, results):
        return oracle.check_curation(self.data, self.names, results)


WORKLOADS = {w.name: w for w in (Dashboard, Curation)}

