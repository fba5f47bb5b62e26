"""Aggregation-layer unit tests: terms/nested-terms tie-break pinning
(count DESC, key ASC — SURVEY.md §7 risk list), suggest, dashboard fan-out,
and the catalog's wildcard-union semantics."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from harmonize_search_analyze_spark.operators.aggregations import (
    count_metric,
    dashboard,
    geohash_grid,
    nested_terms,
    suggest,
    terms,
    terms_multi,
)
from harmonize_search_analyze_spark.sources.catalog import Catalog


@pytest.fixture(scope="module")
def frame(spark):
    rows = (
        [("a", "x")] * 5 + [("a", "y")] * 3 + [("b", "x")] * 5
        + [("b", "z")] * 2 + [("c", "x")] * 1 + [(None, "x")] * 2
    )
    return spark.createDataFrame(rows, ["k", "j"])


def test_terms_topk_tiebreak(frame):
    # a=8, b=7, c=1; nulls skipped (ES terms behavior)
    got = [(r["k"], r["doc_count"]) for r in terms(frame, "k", k=2).collect()]
    assert got == [("a", 8), ("b", 7)]


def test_terms_equal_counts_key_asc(spark):
    df = spark.createDataFrame(
        [("b",)] * 3 + [("a",)] * 3 + [("c",)] * 3, ["k"]
    )
    got = [r["k"] for r in terms(df, "k", k=3).collect()]
    assert got == ["a", "b", "c"]  # equal counts -> key ASC pinned


def test_count_metric(frame):
    assert count_metric(frame).collect()[0]["doc_count"] == 18
    assert count_metric(frame, F.col("j") == "x").collect()[0]["doc_count"] == 13


def test_terms_multi(frame):
    got = [
        (r["k"], r["j"], r["doc_count"])
        for r in terms_multi(frame, ["k", "j"], k=3).collect()
    ]
    assert got == [("a", "x", 5), ("b", "x", 5), ("a", "y", 3)]


def test_nested_terms_semantics(frame):
    # outer totals: a=8, b=7, c=1 -> outer rank by TOTAL; inner by pair count
    out = nested_terms(frame, "k", "j", outer_k=2, inner_k=1)
    got = [
        (r["k"], r["j"], r["doc_count"], r["outer_count"])
        for r in out.collect()
    ]
    assert got == [("a", "x", 5, 8), ("b", "x", 5, 7)]


def test_nested_terms_inner_k(frame):
    out = nested_terms(frame, "k", "j", outer_k=1, inner_k=5)
    got = [(r["j"], r["doc_count"]) for r in out.collect()]
    assert got == [("x", 5), ("y", 3)]


def test_suggest(frame):
    # suggestions restricted by phrase-prefix on the field itself
    df = frame.where(F.col("k").isNotNull()).withColumn(
        "name", F.concat(F.lit("City "), F.upper("k"))
    )
    got = [r["name"] for r in suggest(df, "name", prefix="city").collect()]
    assert got == ["City A", "City B", "City C"]
    got2 = [r["name"] for r in suggest(df, "name").collect()]
    assert len(got2) == 3


def test_geohash_grid_bucket_count(spark):
    df = spark.createDataFrame(
        [(42.605, -5.603)] * 3 + [(57.649, 10.407)] * 2 + [(None, 1.0)],
        ["lat", "lon"],
    )
    got = [(r["geohash"], r["doc_count"]) for r in
           geohash_grid(df, "lat", "lon", precision=2).collect()]
    assert got == [("ez", 3), ("u4", 2)]  # nulls skipped


def test_dashboard_shared_filter(frame):
    import datetime as dt

    df = frame.withColumn("ts", F.lit(dt.datetime(2024, 6, 1)))
    panels = {
        "total": lambda d: count_metric(d),
        "topk": lambda d: terms(d, "k", k=10),
    }
    out = dashboard(
        df, panels,
        query=F.col("j") == "x",
        time_field="ts",
        time_from=dt.datetime(2024, 1, 1),
        time_to=dt.datetime(2025, 1, 1),
    )
    assert out["total"].collect()[0]["doc_count"] == 13
    got = dict(
        (r["k"], r["doc_count"]) for r in out["topk"].collect()
    )
    assert got == {"a": 5, "b": 5, "c": 1}


def test_dashboard_kql_search_bar(frame):
    """The Kibana query bar: KQL text ANDs into the shared filter context
    next to the dashboard's own query."""
    panels = {"total": lambda d: count_metric(d)}
    out = dashboard(frame, panels, query=F.col("j") == "x", kql="k:a",
                    cache=False)
    # j == 'x' (13 rows) AND k == 'a' (5 of them)
    assert out["total"].collect()[0]["doc_count"] == 5
    out2 = dashboard(frame, panels, kql="k:(a or b)", cache=False)
    assert out2["total"].collect()[0]["doc_count"] == 15  # a=8 + b=7


# -- catalog wildcard union (U2/Q9) -----------------------------------------

def test_catalog_wildcard_union_missing_columns(spark):
    cat = Catalog(spark)
    balt = spark.createDataFrame([("assault", "knife")], ["descr", "weapon"])
    la = spark.createDataFrame([("theft", 1)], ["descr", "gang_related"])
    cat.register("baltimore_harmonized", balt)
    cat.register("losangeles_harmonized", la)
    cat.register("baltimore_dictionary", balt.select("descr"))
    u = cat.resolve("*_harmonized")
    assert sorted(u.columns) == ["descr", "gang_related", "weapon"]
    rows = {r["descr"]: r for r in u.collect()}
    assert rows["assault"]["gang_related"] is None  # null-padded
    assert rows["theft"]["weapon"] is None
    assert cat.resolve_names("*harmonized*") == [
        "baltimore_harmonized", "losangeles_harmonized"
    ]
    with pytest.raises(KeyError):
        cat.resolve("nope*")


def test_catalog_lifecycle(spark):
    cat = Catalog(spark)
    df = spark.range(1)
    cat.register("a_idx", df)
    cat.register("b_idx", df)
    assert cat.drop("a_*") == ["a_idx"]
    assert cat.names() == ["b_idx"]
    cat.register("b_idx", df.withColumn("x", F.lit(1)))  # replace is idempotent
    assert cat.resolve("b_idx").columns == ["id", "x"]


def test_terms_salted_equals_terms(frame):
    from harmonize_search_analyze_spark.operators.aggregations import (
        terms_salted,
    )

    plain = [(r["k"], r["doc_count"]) for r in terms(frame, "k", k=5).collect()]
    salted = [(r["k"], r["doc_count"])
              for r in terms_salted(frame, "k", k=5, salt=8).collect()]
    assert salted == plain


def test_catalog_schema_ddl(spark):
    cat = Catalog(spark)
    cat.drop_schema("t_e2e_schema")
    cat.create_schema("t_e2e_schema", comment="incident datasets")
    assert spark.catalog.databaseExists("t_e2e_schema")
    cat.drop_schema("t_e2e_schema")
    assert not spark.catalog.databaseExists("t_e2e_schema")


# --- ES metric-agg family (extended_stats / percentiles / top_hits /
# cardinality / significant_terms) ---------------------------------------


@pytest.fixture(scope="module")
def metric_frame(spark):
    rows = [
        ("g1", 1.0, "u1"), ("g1", 2.0, "u2"), ("g1", 3.0, "u1"),
        ("g2", 10.0, "u3"), ("g2", 30.0, "u3"), (None, 99.0, "u4"),
        ("g1", None, "u5"),
    ]
    return spark.createDataFrame(rows, ["g", "v", "u"])


def test_extended_stats_values(metric_frame):
    from harmonize_search_analyze_spark.operators.aggregations import (
        extended_stats,
    )

    out = {r["g"]: r for r in extended_stats(metric_frame, "v", by="g").collect()}
    g1 = out["g1"]
    assert (g1["count"], g1["min"], g1["max"], g1["sum"]) == (3, 1.0, 3.0, 6.0)
    assert g1["avg"] == 2.0
    assert g1["variance"] == pytest.approx(2.0 / 3.0, abs=1e-6)  # population
    g2 = out["g2"]
    assert g2["variance"] == 100.0 and g2["std_deviation"] == 10.0


def test_extended_stats_ungrouped_skips_nulls(metric_frame):
    from harmonize_search_analyze_spark.operators.aggregations import (
        extended_stats,
    )

    row = extended_stats(metric_frame, "v").collect()[0]
    assert row["count"] == 6  # null v dropped, null group kept


def test_percentiles_interpolation(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        percentiles,
    )

    df = spark.createDataFrame([(float(i),) for i in range(1, 5)], ["v"])
    row = percentiles(df, "v", percents=(0.25, 0.5, 0.75)).collect()[0]
    # linear interpolation on [1,2,3,4]: index p*(n-1)
    assert (row["p25"], row["p50"], row["p75"]) == (1.75, 2.5, 3.25)


def test_top_hits_rank_and_ties(spark):
    from harmonize_search_analyze_spark.operators.aggregations import top_hits

    df = spark.createDataFrame(
        [("a", 5.0, 2), ("a", 5.0, 1), ("a", 3.0, 3), ("b", 9.0, 4)],
        ["g", "score", "id"],
    )
    out = top_hits(df, by="g", sort_field="score", id_field="id", k=2)
    rows = [(r["g"], r["hit_rank"], r["id"]) for r in out.collect()]
    # equal scores break by id ASC; k truncates per group
    assert rows == [("a", 1, 1), ("a", 2, 2), ("b", 1, 4)]


def test_cardinality_exact_and_approx_modes(metric_frame):
    from harmonize_search_analyze_spark.operators.aggregations import (
        cardinality,
    )

    exact = {r["g"]: r["cardinality"]
             for r in cardinality(metric_frame, "g", "u").collect()}
    assert exact["g1"] == 3  # u1,u2,u5 (null v row still has a user)
    assert exact["g2"] == 1
    approx = {r["g"]: r["cardinality"]
              for r in cardinality(metric_frame, "g", "u", exact=False).collect()}
    assert approx["g1"] == 3  # HLL exact at tiny cardinality


def test_significant_terms_prefers_overrepresented(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        significant_terms,
    )

    # 'rare' is 100% foreground (4/4), 'common' mostly background.
    rows = [("rare", 1)] * 4 + [("common", 0)] * 90 + [("common", 1)] * 6
    df = spark.createDataFrame(rows, ["term", "flag"])
    out = significant_terms(df, "term", F.col("flag") == 1)
    got = [(r["term"], r["fg_count"], r["bg_count"]) for r in out.collect()]
    assert got[0] == ("rare", 4, 4)          # tops the JLH ranking
    assert got[1] == ("common", 6, 96)
    scores = [r["score"] for r in out.collect()]
    assert scores == sorted(scores, reverse=True)


def test_range_agg_half_open_and_overlap(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        range_agg,
    )

    df = spark.createDataFrame(
        [(0.0,), (10.0,), (20.0,), (None,)], "v DOUBLE"
    )
    got = {r["range_key"]: r["doc_count"] for r in range_agg(
        df, "v", [(None, 10.0), (10.0, 20.0), (0.0, None)]
    ).collect()}
    # 'to' exclusive, 'from' inclusive, null in no bucket, overlap allowed
    assert got == {"*-10.0": 1, "10.0-20.0": 1, "0.0-*": 3}


def test_filters_agg_single_scan(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        filters_agg,
    )

    df = spark.createDataFrame([(1,), (2,), (3,)], "v INT")
    out = filters_agg(
        df, {"odd": F.col("v") % 2 == 1, "big": F.col("v") >= 2}
    )
    assert {r["filter_key"]: r["doc_count"] for r in out.collect()} == {
        "odd": 2, "big": 2,
    }
    # one pass: a single aggregate feeds every bucket — no per-bucket
    # scan union, exactly one (single-partition) exchange
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints the plan twice
    assert "Union" not in final
    assert final.count("Exchange") == 1, final


def test_missing_agg(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        missing_agg,
    )

    df = spark.createDataFrame([("a",), (None,), (None,)], "v STRING")
    assert missing_agg(df, "v").collect()[0]["doc_count"] == 2


def test_global_agg_one_scan(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        global_agg,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 10.0)], "k STRING, v DOUBLE"
    )
    out = global_agg(
        df,
        F.col("k") == "a",
        {"n": ("count", "*"), "avg_v": ("avg", "v"), "max_v": ("max", "v")},
    )
    rows = {r["scope"]: r for r in out.collect()}
    assert rows["query"]["n"] == 2 and rows["query"]["avg_v"] == 2.0
    assert rows["global"]["n"] == 3 and rows["global"]["max_v"] == 10.0
    # the global scope escapes the query in the SAME scan: one aggregate,
    # no union of a filtered and an unfiltered pass
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Union" not in final
    assert final.count("Exchange") == 1, final


def test_global_agg_rejects_unknown_fn(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        global_agg,
    )

    df = spark.createDataFrame([(1.0,)], "v DOUBLE")
    try:
        global_agg(df, F.lit(True), {"x": ("median", "v")})
    except ValueError as e:
        assert "median" in str(e)
    else:
        raise AssertionError("expected ValueError")


def test_bucket_pipeline_semantics(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        bucket_pipeline,
    )

    b = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 20)], "bucket INT, doc_count BIGINT"
    )
    rows = bucket_pipeline(b, "bucket", moving_window=2).collect()
    assert [r["cumulative_sum"] for r in rows] == [10, 40, 60]
    assert [r["derivative"] for r in rows] == [None, 20, -10]  # ES: 1st NULL
    assert [r["moving_avg"] for r in rows] == [10.0, 20.0, 25.0]
    # ES moving_fn DEFAULT (shift=0) excludes the current bucket: the first
    # bucket's window is empty -> NULL, then trailing-previous-n averages
    es_rows = bucket_pipeline(b, "bucket", moving_window=2, shift=0).collect()
    assert [r["moving_avg"] for r in es_rows] == [None, 10.0, 20.0]


def test_composite_agg_pagination_is_exhaustive(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        composite_agg,
    )

    rows = [(a, b) for a in "abc" for b in "xyz" for _ in range(a != "b" or b != "y")]
    df = spark.createDataFrame(rows, ["a", "b"])  # ('b','y') bucket absent
    pages, after = [], None
    while True:
        page = composite_agg(df, ["a", "b"], size=3, after=after).collect()
        if not page:
            break
        pages.extend([(r["a"], r["b"]) for r in page])
        after = {"a": page[-1]["a"], "b": page[-1]["b"]}
    # every bucket exactly once, in key order, across page boundaries
    assert pages == sorted({(a, b) for a, b in rows})


def test_weighted_avg_skips_partial_nulls(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        weighted_avg,
    )

    df = spark.createDataFrame(
        [(10.0, 1.0), (20.0, 3.0), (99.0, None), (None, 5.0)],
        "v DOUBLE, w DOUBLE",
    )
    got = weighted_avg(df, "v", "w").collect()[0]["weighted_avg"]
    assert got == pytest.approx((10 + 60) / 4.0)  # null-sided rows skipped


def test_median_absolute_deviation(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        median_absolute_deviation,
    )

    df = spark.createDataFrame(
        [("g", float(v)) for v in (1, 2, 3, 4, 100)], "g STRING, v DOUBLE"
    )
    # median=3, |dev|=[2,1,0,1,97] -> median dev = 1
    assert median_absolute_deviation(df, "v").collect()[0]["mad"] == 1.0
    grouped = median_absolute_deviation(df, "v", by="g").collect()
    assert [(r["g"], r["mad"]) for r in grouped] == [("g", 1.0)]


def test_rare_terms_long_tail(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        rare_terms,
    )

    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 2 + [("c",)] + [("d",)] * 2 + [("e",)],
        ["k"],
    )
    got = [(r["k"], r["doc_count"])
           for r in rare_terms(df, "k", max_doc_count=2).collect()]
    assert got == [("c", 1), ("e", 1), ("b", 2), ("d", 2)]  # rarest first


def test_adjacency_matrix_pairs_and_empty_omitted(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        adjacency_matrix,
    )

    df = spark.createDataFrame([(1, "x"), (2, "x"), (3, "y")], ["v", "t"])
    out = adjacency_matrix(
        df,
        {
            "low": F.col("v") <= 2,
            "x": F.col("t") == "x",
            "impossible": F.col("v") > 99,
        },
    )
    got = {r["key"]: r["doc_count"] for r in out.collect()}
    # empty buckets (anything involving 'impossible') are omitted
    assert got == {"low": 2, "x": 2, "low&x": 2}


def test_geo_distance_rings(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        geo_distance,
    )

    # 1 degree of latitude ~= 111.2 km on the 6371 km sphere
    df = spark.createDataFrame(
        [(0.0, 0.0), (1.0, 0.0), (10.0, 0.0)], ["lat", "lon"]
    )
    got = {r["range_key"]: r["doc_count"] for r in geo_distance(
        df, "lat", "lon", (0.0, 0.0),
        [(None, 1000.0), (1000.0, 500000.0), (500000.0, None)],
    ).collect()}
    assert got == {"*-1000.0": 1, "1000.0-500000.0": 1, "500000.0-*": 1}


def test_geo_bounds_and_centroid(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        geo_bounds,
        geo_centroid,
    )

    df = spark.createDataFrame(
        [(10.0, -20.0), (30.0, 40.0), (None, 5.0)], ["lat", "lon"]
    )
    b = geo_bounds(df, "lat", "lon").collect()[0]
    assert (b["top"], b["left"], b["bottom"], b["right"]) == (30.0, -20.0, 10.0, 40.0)
    c = geo_centroid(df, "lat", "lon").collect()[0]
    assert (c["centroid_lat"], c["centroid_lon"], c["doc_count"]) == (20.0, 10.0, 2)


def test_auto_date_histogram_interval_selection(spark):
    """ES auto_date_histogram: smallest ladder interval with <= target
    buckets; calendar intervals engage for wide spans."""
    import datetime as dt

    from harmonize_search_analyze_spark.operators.aggregations import (
        auto_date_histogram,
    )

    # 90 min of minutely events: target 10 -> 10m buckets (9 or 10 of them)
    rows = [(i, dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=i))
            for i in range(0, 91)]
    df = spark.createDataFrame(rows, "id LONG, ts TIMESTAMP")
    out = auto_date_histogram(df, "ts", 10).collect()
    assert out[0]["interval_label"] == "10m"
    assert len(out) <= 10
    assert sum(r["doc_count"] for r in out) == 91

    # 3 years of monthly events: target 5 -> 1y calendar buckets
    rows = [(i, dt.datetime(2020 + i // 12, 1 + i % 12, 15))
            for i in range(36)]
    df = spark.createDataFrame(rows, "id LONG, ts TIMESTAMP")
    out = auto_date_histogram(df, "ts", 5).collect()
    assert out[0]["interval_label"] == "1y"
    assert [r["bucket"].year for r in out] == [2020, 2021, 2022]
    assert all(r["bucket"].month == 1 and r["bucket"].day == 1 for r in out)

    with pytest.raises(ValueError):
        auto_date_histogram(df, "ts", 1)


def test_serial_diff_selector_sort_stats(spark):
    """ES pipeline family: serial_diff lag semantics (first `lag` buckets
    NULL), bucket_selector filter, bucket_sort paging, sibling stats."""
    from harmonize_search_analyze_spark.operators.aggregations import (
        bucket_selector,
        bucket_sort,
        bucket_stats,
        serial_diff,
    )

    b = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 20), (4, 50)], "bucket INT, doc_count BIGINT"
    )
    sd = serial_diff(b, "bucket", lag=2).collect()
    assert [r["serial_diff"] for r in sd] == [None, None, 10, 20]
    with pytest.raises(ValueError):
        serial_diff(b, "bucket", lag=0)

    kept = bucket_selector(b, F.col("doc_count") >= 20)
    assert kept.count() == 3

    page = bucket_sort(
        kept, [F.desc("doc_count"), F.asc("bucket")], size=2, offset=1
    ).collect()
    assert [(r["bucket"], r["doc_count"]) for r in page] == [(2, 30), (3, 20)]

    stats = bucket_stats(b).collect()[0]
    assert (stats["bucket_count"], stats["min_bucket"], stats["max_bucket"],
            stats["sum_bucket"]) == (4, 10, 50, 110)
    assert stats["avg_bucket"] == 27.5


def test_date_range_agg_datemath_bounds(spark):
    import datetime as dt

    from harmonize_search_analyze_spark.operators.aggregations import (
        date_range_agg,
    )

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 10),), (dt.datetime(2024, 1, 15),),
         (dt.datetime(2024, 1, 20, 6),), (None,)],
        "ts timestamp",
    )
    now = dt.datetime(2024, 1, 20, 12, 0, 0)
    out = {r["range_key"]: r["doc_count"] for r in date_range_agg(
        df, "ts",
        [(None, "now-7d/d"), ("now-7d/d", "now/d"), ("now/d", None)],
        now=now,
    ).collect()}
    # now-7d/d = 2024-01-13 00:00, now/d = 2024-01-20 00:00; to is
    # EXCLUSIVE and not rounded up (date_range semantics, not range-query)
    assert out == {"*-now-7d/d": 1, "now-7d/d-now/d": 1, "now/d-*": 1}


def test_top_metrics_ascending_and_ties(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        top_metrics,
    )

    df = spark.createDataFrame(
        [("a", 1.0, 9), ("a", 1.0, 3), ("a", 5.0, 1), ("b", 2.0, 7)],
        "g string, v double, m long",
    )
    top = top_metrics(df, "g", "v", ["m"], size=1, ascending=True).collect()
    got = {r["g"]: (r["v"], r["m"]) for r in top}
    # ties on v=1.0 break on the metric column ascending -> m=3
    assert got == {"a": (1.0, 3), "b": (2.0, 7)}


def test_rate_agg_rescale(spark):
    import datetime as dt

    from harmonize_search_analyze_spark.operators.aggregations import (
        rate_agg,
    )

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, h),) for h in (0, 6, 12)]
        + [(dt.datetime(2024, 1, 2, 1),)],
        "ts timestamp",
    )
    out = {r["bucket"].day: r["rate"] for r in rate_agg(
        df, "ts", interval="day", unit_seconds=3600
    ).collect()}
    assert out == {1: 0.125, 2: round(1 / 24.0, 6)}  # 3 docs/day -> 0.125/h
    with pytest.raises(ValueError):
        rate_agg(df, "ts", interval="fortnight")


def test_boxplot_hand_case(spark):
    from harmonize_search_analyze_spark.operators.aggregations import boxplot

    df = spark.createDataFrame([(float(v),) for v in range(1, 6)], "x double")
    r = boxplot(df, "x").collect()[0]
    assert (r["min"], r["q1"], r["q2"], r["q3"], r["max"]) == \
        (1.0, 2.0, 3.0, 4.0, 5.0)


def test_string_stats_entropy(spark):
    import math as m

    from harmonize_search_analyze_spark.operators.aggregations import (
        string_stats,
    )

    # "ab" + "ab": 2 chars each at p=0.5 -> entropy exactly 1 bit
    df = spark.createDataFrame([("ab",), ("ab",), (None,)], "s string")
    r = string_stats(df, "s").collect()[0]
    assert (r["count"], r["min_length"], r["max_length"]) == (2, 2, 2)
    assert r["avg_length"] == 2.0
    assert r["entropy"] == 1.0
    # 4 equally likely chars -> 2 bits
    df2 = spark.createDataFrame([("abcd",)], "s string")
    assert string_stats(df2, "s").collect()[0]["entropy"] == 2.0


def test_t_test_welch_hand_case(spark):
    import math as m

    from harmonize_search_analyze_spark.operators.aggregations import t_test

    rows = [("a", v) for v in (1.0, 2.0, 3.0)] + \
           [("b", v) for v in (2.0, 4.0, 6.0, 8.0)]
    df = spark.createDataFrame(rows, "g string, x double")
    r = t_test(df, "x", F.col("g") == "a", F.col("g") == "b").collect()[0]
    # hand Welch: ma=2 va=1 na=3; mb=5 vb=20/3 nb=4
    sa, sb = 1 / 3, (20 / 3) / 4
    t = (2 - 5) / m.sqrt(sa + sb)
    dof = (sa + sb) ** 2 / (sa ** 2 / 2 + sb ** 2 / 3)
    assert r["n_a"] == 3 and r["n_b"] == 4
    assert r["t_stat"] == round(t, 6)
    assert r["welch_df"] == round(dof, 6)


def test_normalize_pipeline_methods(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        normalize_pipeline,
    )

    b = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 60)], "bucket int, doc_count bigint"
    )
    pct = {r["bucket"]: r["normalized"] for r in normalize_pipeline(
        b, "bucket", "doc_count").collect()}
    assert pct == {1: 0.1, 2: 0.3, 3: 0.6}
    rng = {r["bucket"]: r["normalized"] for r in normalize_pipeline(
        b, "bucket", "doc_count", method="range").collect()}
    assert rng == {1: 0.0, 2: 0.4, 3: 1.0}
    # softmax is supported since round 4 — an unknown method raises
    with pytest.raises(ValueError, match="method"):
        normalize_pipeline(b, "bucket", "doc_count", method="nope")


def test_geotile_known_vectors(spark):
    """OSM slippy-map ground truth: (lat 40, lon -74) at z7 -> 37/48;
    (0,0) -> the tile just SE of the origin; poles/antimeridian clamp."""
    from harmonize_search_analyze_spark.functions.geohash import geotile_sql

    df = spark.createDataFrame(
        [(40.0, -74.0), (0.0, 0.0), (89.9, 179.95), (-89.9, -179.95)],
        ["lat", "lon"],
    )
    got = [
        r[0]
        for r in df.select(F.expr(geotile_sql("lat", "lon", 7))).collect()
    ]
    assert got[0] == "7/37/48"
    assert got[1] == "7/64/64"
    assert got[2] == "7/127/0"    # clamped top-right tile
    assert got[3] == "7/0/127"    # clamped bottom-left tile


def test_geotile_grid_counts(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        geotile_grid,
    )

    df = spark.createDataFrame(
        [(40.0, -74.0)] * 3 + [(51.5, -0.1)] * 2, ["lat", "lon"]
    )
    out = geotile_grid(df, "lat", "lon", zoom=7).collect()
    assert [(r["tile"], r["doc_count"]) for r in out] == [
        ("7/37/48", 3), ("7/63/42", 2)
    ]


def test_matrix_stats_pairs_and_values(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        matrix_stats,
    )

    # y = 2x exactly; z uncorrelated-ish constant-breaking third field
    df = spark.createDataFrame(
        [(1.0, 2.0, 5.0), (2.0, 4.0, 3.0), (3.0, 6.0, 4.0), (None, 1.0, 1.0)],
        ["x", "y", "z"],
    )
    rows = {(r["field_a"], r["field_b"]): r for r in
            matrix_stats(df, ["x", "y", "z"]).collect()}
    assert set(rows) == {("x", "x"), ("x", "y"), ("x", "z"),
                         ("y", "y"), ("y", "z"), ("z", "z")}
    xy = rows[("x", "y")]
    assert xy["count"] == 3          # null-x row dropped everywhere
    assert xy["correlation"] == 1.0  # exact linear dependence
    assert xy["covariance"] == 2.0   # covar_samp([1,2,3],[2,4,6])
    assert rows[("x", "x")]["covariance"] == 1.0  # variance on the diagonal


def test_matrix_stats_constant_field_diagonal(spark):
    """A zero-variance field still carries correlation 1 on the diagonal
    (CORR(a, a) alone would be NULL); its cross-pair correlation stays
    NULL (undefined)."""
    from harmonize_search_analyze_spark.operators.aggregations import (
        matrix_stats,
    )

    df = spark.createDataFrame(
        [(1.0, 7.0), (2.0, 7.0), (3.0, 7.0)], ["x", "c"]
    )
    rows = {(r["field_a"], r["field_b"]): r for r in
            matrix_stats(df, ["x", "c"]).collect()}
    assert rows[("c", "c")]["correlation"] == 1.0
    assert rows[("x", "x")]["correlation"] == 1.0
    assert rows[("x", "c")]["correlation"] is None
    assert rows[("c", "c")]["covariance"] == 0.0


def test_variable_width_histogram_equal_frequency(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        variable_width_histogram,
    )

    df = spark.createDataFrame([(float(i),) for i in range(1, 9)], ["v"])
    out = variable_width_histogram(df, "v", buckets=4).collect()
    # 8 evenly spread values -> 4 buckets of 2, contiguous min/max
    assert [(r["bucket"], r["min"], r["max"], r["doc_count"]) for r in out] == [
        (0, 1.0, 2.0, 2), (1, 3.0, 4.0, 2), (2, 5.0, 6.0, 2), (3, 7.0, 8.0, 2)
    ]


def test_ip_range_buckets(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        ip_range_agg,
    )

    df = spark.createDataFrame(
        [("10.0.0.5",), ("10.1.0.1",), ("10.2.3.4",), ("192.168.0.1",)],
        ["ip"],
    )
    got = {r["range_key"]: r["doc_count"] for r in ip_range_agg(
        df, "ip",
        [("10.0.0.0", "10.2.0.0"), ("10.2.0.0", None), (None, "10.0.1.0")],
    ).collect()}
    # from inclusive, to exclusive; open sides count everything beyond
    assert got == {"10.0.0.0-10.2.0.0": 2, "10.2.0.0-*": 2, "*-10.0.1.0": 1}


def test_categorize_text_patterns(spark):
    from harmonize_search_analyze_spark.operators.text import categorize_text

    df = spark.createDataFrame(
        [
            ("ERROR 42 disk full on node17",),
            ("error 7 disk full on node3",),
            ("user 9 logged in",),
            ("",),
        ],
        ["text"],
    )
    out = categorize_text(df, "text", max_tokens=3).collect()
    # digits stripped, case folded -> the two ERROR lines share a category;
    # the empty doc contributes nothing
    assert [(r["category"], r["doc_count"]) for r in out] == [
        ("error disk full", 2), ("user logged in", 1)
    ]


def test_collapse_top_hit_per_group(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        collapse,
    )

    df = spark.createDataFrame(
        [
            ("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 30.0),
            ("b", 4, 20.0), (None, 5, 99.0),
        ],
        ["grp", "id", "score"],
    )
    out = collapse(df, "grp", "score", k=10, tie_col="id").collect()
    # one hit per group, null keys skipped, tie inside 'a' pinned to id 2
    assert [(r["grp"], r["id"], r["score"]) for r in out] == [
        ("a", 2, 30.0), ("b", 4, 20.0)
    ]


def test_geo_line_ordered_track(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        geo_line,
    )

    df = spark.createDataFrame(
        [
            ("t1", 3, 30.0, -3.0), ("t1", 1, 10.0, -1.0),
            ("t1", 2, 20.0, -2.0), ("t2", 1, 5.0, 5.0),
            ("t1", 4, None, 0.0),
        ],
        ["grp", "seq", "lat", "lon"],
    )
    out = {r["grp"]: r for r in
           geo_line(df, "grp", "lat", "lon", "seq", max_points=2).collect()}
    # sorted by seq, truncated to max_points, [lon, lat] order, nulls out
    assert out["t1"]["line"] == [[-1.0, 10.0], [-2.0, 20.0]]
    assert out["t1"]["n_points"] == 2
    assert out["t2"]["line"] == [[5.0, 5.0]]


def test_frequent_item_sets_support(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        frequent_item_sets,
    )

    rows = [
        (1, "milk"), (1, "bread"), (1, "eggs"),
        (2, "milk"), (2, "bread"),
        (3, "milk"), (3, "bread"),
        (4, "milk"), (4, "eggs"),
    ]
    df = spark.createDataFrame(rows, ["basket", "item"])
    out = {(r["item_a"], r["item_b"]): (r["doc_count"], r["support"])
           for r in frequent_item_sets(
               df, "item", "basket", min_support=0.5).collect()}
    # bread+milk in 3 of 4 baskets, eggs+milk in 2 (exactly 50%, kept —
    # support filter is inclusive); bread+eggs (1 of 4) drops
    assert out == {("bread", "milk"): (3, 0.75),
                   ("eggs", "milk"): (2, 0.5)}


def test_funnel_ordered_steps(spark):
    import datetime as dt

    from harmonize_search_analyze_spark.operators.analytics import funnel

    t = dt.datetime
    rows = [
        # u1 completes in order
        (1, "view", t(2025, 1, 1, 9)), (1, "click", t(2025, 1, 1, 10)),
        (1, "buy", t(2025, 1, 1, 11)),
        # u2 clicks BEFORE viewing -> reaches view only
        (2, "click", t(2025, 1, 1, 8)), (2, "view", t(2025, 1, 1, 9)),
        # u3 views then clicks, never buys
        (3, "view", t(2025, 1, 1, 9)), (3, "click", t(2025, 1, 1, 9)),
        # u4 only buys -> counts nowhere (no view)
        (4, "buy", t(2025, 1, 1, 9)),
        # u5 clicks before AND after viewing -> sequential-chain
        # semantics counts the later click (global-first-click would not)
        (5, "click", t(2025, 1, 1, 8)), (5, "view", t(2025, 1, 1, 9)),
        (5, "click", t(2025, 1, 1, 10)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    steps = [
        ("view", F.col("event_type") == "view"),
        ("click", F.col("event_type") == "click"),
        ("buy", F.col("event_type") == "buy"),
    ]
    got = [(r["step"], r["users"], r["conversion_pct"])
           for r in funnel(df, steps).collect()]
    # u3's click at the same timestamp as view counts (>= semantics);
    # u5's post-view click counts (sequential chain, not global-first)
    assert got == [("view", 4, 100.0), ("click", 3, 75.0),
                   ("buy", 1, 25.0)]


def test_cohort_retention_matrix(spark):
    import datetime as dt

    from harmonize_search_analyze_spark.operators.analytics import (
        cohort_retention,
    )

    t = dt.datetime
    rows = [
        (1, t(2025, 1, 6)), (1, t(2025, 1, 13)),   # week0 + week1
        (2, t(2025, 1, 7)),                        # week0 only
        (3, t(2025, 1, 13)), (3, t(2025, 1, 27)),  # cohort w1, back at +2
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {(str(r["cohort"]), r["period_offset"]): (r["users"], r["pct_of_cohort"])
           for r in cohort_retention(df, period="week").collect()}
    assert got[("2025-01-06 00:00:00", 0)] == (2, 100.0)
    assert got[("2025-01-06 00:00:00", 1)] == (1, 50.0)
    assert got[("2025-01-13 00:00:00", 0)] == (1, 100.0)
    assert got[("2025-01-13 00:00:00", 2)] == (1, 100.0)


def test_rate_anomalies_flags_spike(spark):
    import datetime as dt

    from harmonize_search_analyze_spark.operators.analytics import (
        rate_anomalies,
    )

    rows = []
    for day in range(1, 11):
        n = 100 if day != 5 else 500   # day 5 spikes
        rows += [(i, dt.datetime(2025, 1, day, 12)) for i in range(n)]
    df = spark.createDataFrame(rows, ["event_id", "ts"])
    out = {str(r["bucket"]): r for r in rate_anomalies(
        df, threshold=2.0).collect()}
    assert out["2025-01-05 00:00:00"]["is_anomaly"] is True
    assert sum(1 for r in out.values() if r["is_anomaly"]) == 1
    assert out["2025-01-01 00:00:00"]["z_score"] < 0


def test_histogram_min_doc_count_zero_fills_gaps(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        histogram,
    )

    df = spark.createDataFrame([(1.0,), (2.0,), (9.0,)], ["v"])
    got = [(r["bin"], r["doc_count"]) for r in
           histogram(df, "v", 2.0, min_doc_count=0).collect()]
    # bins 0,2,4,6,8 — the 4.0 and 6.0 gaps emit with zero
    assert got == [(0.0, 1), (2.0, 1), (4.0, 0), (6.0, 0), (8.0, 1)]
    # default keeps ES behavior: gaps omitted
    got1 = [r["bin"] for r in histogram(df, "v", 2.0).collect()]
    assert got1 == [0.0, 2.0, 8.0]


def test_histogram_fractional_interval_and_negatives(spark):
    """Gap-fill joins on the integer bin INDEX: with interval=0.1 the
    double keys floor(v/i)*i and idx*i differ in representation, which
    used to silently zero out non-empty bins; and floor (not
    cast-truncation) must bin negative values downward."""
    from harmonize_search_analyze_spark.operators.aggregations import (
        histogram,
    )

    df = spark.createDataFrame(
        [(0.1,), (0.3,), (0.3,), (-0.25,)], ["v"]
    )
    got = [(round(r["bin"], 10), r["doc_count"]) for r in
           histogram(df, "v", 0.1, min_doc_count=0).collect()]
    # binning itself follows IEEE double division exactly like ES
    # (floor(0.3/0.1) == 2, so 0.3 lands in the 0.2 bin); what must NOT
    # happen is the gap-fill grid dropping a non-empty bin on a double
    # join-key mismatch
    assert got == [(-0.3, 1), (-0.2, 0), (-0.1, 0), (0.0, 0),
                   (0.1, 1), (0.2, 2)]
    assert sum(c for _, c in got) == 4  # no data row lost to the grid join


def test_date_histogram_min_doc_count_zero(spark):
    import datetime as dt

    from harmonize_search_analyze_spark.operators.aggregations import (
        date_histogram,
    )

    df = spark.createDataFrame(
        [(dt.datetime(2025, 1, 1, 0, 30),),
         (dt.datetime(2025, 1, 1, 3, 10),)],
        ["ts"],
    )
    got = [(str(r["bucket"]), r["doc_count"]) for r in
           date_histogram(df, "ts", "1 hour", min_doc_count=0).collect()]
    assert got == [
        ("2025-01-01 00:00:00", 1), ("2025-01-01 01:00:00", 0),
        ("2025-01-01 02:00:00", 0), ("2025-01-01 03:00:00", 1),
    ]


def test_terms_missing_param(spark):
    from harmonize_search_analyze_spark.operators.aggregations import terms

    df = spark.createDataFrame(
        [("a",), ("a",), (None,), (None,), (None,)], ["k"]
    )
    got = [(r["k"], r["doc_count"])
           for r in terms(df, "k", missing="N/A").collect()]
    assert got == [("N/A", 3), ("a", 2)]


def test_dashboard_global_panels(frame):
    """ES 'global' agg: the total widget ignores the shared filter."""
    out = dashboard(
        frame,
        panels={"matched": lambda d: count_metric(d)},
        query=F.col("j") == "z",
        global_panels={"total": lambda d: count_metric(d)},
    )
    assert out["matched"].collect()[0]["doc_count"] == 2
    assert out["total"].collect()[0]["doc_count"] == 18
    with pytest.raises(ValueError):
        dashboard(
            frame,
            panels={"x": lambda d: count_metric(d)},
            global_panels={"x": lambda d: count_metric(d)},
        )


def test_change_point_finds_planted_step(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        change_point,
    )

    # flat 10s, then flat 50s from bucket 7 on
    rows = [(i, 10.0 if i < 7 else 50.0) for i in range(14)]
    buckets = spark.createDataFrame(rows, ["bucket", "doc_count"])
    got = change_point(buckets, "bucket", "doc_count", min_segment=3).collect()
    assert len(got) == 1
    r = got[0]
    assert r["change_bucket"] == 7
    assert r["mean_before"] == 10.0
    assert r["mean_after"] == 50.0
    assert r["step_size"] == 40.0
    with pytest.raises(ValueError):
        change_point(buckets, "bucket", "doc_count", min_segment=0)


def test_cumulative_cardinality_first_occurrence(spark):
    import datetime as dt

    from harmonize_search_analyze_spark.operators.aggregations import (
        cumulative_cardinality,
    )

    d = dt.datetime
    rows = [
        (d(2024, 1, 1, 3), "u1"), (d(2024, 1, 1, 5), "u2"),
        (d(2024, 1, 2, 1), "u1"),                  # no new users on day 2
        (d(2024, 1, 3, 9), "u3"), (d(2024, 1, 3, 10), "u1"),
        (None, "u9"), (d(2024, 1, 3, 11), None),   # null ts/value dropped
    ]
    df = spark.createDataFrame(rows, ["ts", "user_id"])
    got = [
        (r["bucket"].day, r["doc_count"], r["cumulative_cardinality"])
        for r in cumulative_cardinality(df, "ts", "user_id").collect()
    ]
    assert got == [(1, 2, 2), (2, 1, 2), (3, 2, 3)]
    with pytest.raises(ValueError):
        cumulative_cardinality(df, "ts", "user_id", interval="1 fortnight")


def test_moving_percentiles_window_and_gap(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        moving_percentiles,
    )

    rows = [(i, float(i)) for i in range(1, 6)]
    buckets = spark.createDataFrame(rows, ["bucket", "v"])
    # shift=0 (ES default): trailing window EXCLUDES current -> first is NULL
    got = {
        r["bucket"]: r["moving_pct"]
        for r in moving_percentiles(
            buckets, "bucket", "v", window=3, percentile=0.5, shift=0
        ).collect()
    }
    assert got[1] is None
    assert got[2] == 1.0          # window {1}
    assert got[3] == 1.5          # window {1,2}
    assert got[4] == 2.0          # window {1,2,3}
    assert got[5] == 3.0          # window {2,3,4}
    with pytest.raises(ValueError):
        moving_percentiles(buckets, "bucket", "v", percentile=1.5)


def test_percentiles_bucket_exact(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        percentiles_bucket,
    )

    buckets = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([10, 20, 30, 40])],
        ["bucket", "v"],
    )
    got = {r["percent"]: r["value"]
           for r in percentiles_bucket(buckets, "v").collect()}
    assert got == {25.0: 17.5, 50.0: 25.0, 75.0: 32.5}
    with pytest.raises(ValueError):
        percentiles_bucket(buckets, "v", percents=[120.0])


def test_bucket_correlation_perfect_and_degenerate(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        bucket_correlation,
    )

    buckets = spark.createDataFrame(
        [(1, 1.0, 2.0), (2, 2.0, 4.0), (3, 3.0, 6.0)], ["b", "x", "y"]
    )
    r = bucket_correlation(buckets, "x", "y").collect()[0]
    assert r["correlation"] == 1.0 and r["n_buckets"] == 3
    const = spark.createDataFrame(
        [(1, 1.0, 5.0), (2, 2.0, 5.0)], ["b", "x", "y"]
    )
    r2 = bucket_correlation(const, "x", "y").collect()[0]
    assert r2["correlation"] is None  # constant series: r undefined


def test_t_test_degenerate_groups_yield_null(spark):
    """Two zero-variance populations: pooled stderr 0 -> t undefined ->
    NULL (raw division raises DIVIDE_BY_ZERO under ANSI; the contract,
    and DuckDB's /0, is NULL)."""
    from harmonize_search_analyze_spark.operators.aggregations import t_test

    df = spark.createDataFrame(
        [(1, 5.0), (1, 5.0), (2, 7.0), (2, 7.0)], ["g", "v"]
    )
    r = t_test(df, "v", F.col("g") == 1, F.col("g") == 2).collect()[0]
    assert r["n_a"] == 2 and r["n_b"] == 2
    assert r["t_stat"] is None and r["welch_df"] is None
    # an empty population propagates NULL the same way
    r2 = t_test(df, "v", F.col("g") == 1, F.col("g") == 9).collect()[0]
    assert r2["n_b"] == 0 and r2["t_stat"] is None


def test_ansi_degenerate_inputs_yield_null_not_error(spark):
    """Zero denominators (constant/empty/all-zero series) must yield NULL
    per contract, not an ANSI DIVIDE_BY_ZERO: normalize_pipeline (all
    three methods), weighted_avg (all-zero weights), percentile_ranks
    (all-NULL field)."""
    from harmonize_search_analyze_spark.operators.aggregations import (
        normalize_pipeline,
        percentile_ranks,
        weighted_avg,
    )

    const = spark.createDataFrame(
        [(1, 0.0), (2, 0.0)], ["bucket", "doc_count"]
    )
    for method in ("percent_of_sum", "mean", "range"):
        got = normalize_pipeline(
            const, "bucket", "doc_count", method=method
        ).collect()
        assert [r["normalized"] for r in got] == [None, None], method

    wz = spark.createDataFrame([(5.0, 0.0), (7.0, 0.0)], ["v", "w"])
    assert weighted_avg(wz, "v", "w").collect()[0]["weighted_avg"] is None

    nulls = spark.createDataFrame([(None,), (None,)], "x double")
    got = percentile_ranks(nulls, "x", [1.0]).collect()
    assert got[0]["pct_rank"] is None


def test_random_sampler_terms_scales_counts(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        random_sampler_terms,
    )

    df = spark.createDataFrame(
        [(i, "k" + str(i % 2)) for i in range(400)], ["id", "key"]
    )
    got = {r.key: r for r in random_sampler_terms(
        df, "key", "id", probability=0.5, k=5).collect()}
    for r in got.values():
        assert r.doc_count == round(r.sampled_count / 0.5)
        # estimate within a loose band of the true 200 per key
        assert 120 <= r.doc_count <= 280, r
    import pytest
    with pytest.raises(ValueError):
        random_sampler_terms(df, "key", "id", probability=0.0)


def test_diversified_sampler_caps_per_value(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        diversified_sampler,
    )

    rows = [(i, "hot" if i < 50 else "s" + str(i), float(1000 - i))
            for i in range(60)]
    df = spark.createDataFrame(rows, ["id", "src", "score"])
    got = diversified_sampler(
        df, "src", "score", max_docs_per_value=3, shard_size=10,
        tie_col="id",
    ).collect()
    assert len(got) == 10
    from collections import Counter
    by_src = Counter(r.src for r in got)
    assert by_src["hot"] == 3  # capped despite dominating the top scores
    # the capped hot docs are its best three
    assert sorted(r.id for r in got if r.src == "hot") == [0, 1, 2]
    import pytest
    with pytest.raises(ValueError):
        diversified_sampler(df, "src", "score", tie_col="id",
                            max_docs_per_value=0)


def test_terms_partition_paging_enumerates_everything(spark):
    from harmonize_search_analyze_spark.operators.aggregations import terms

    df = spark.createDataFrame(
        [(i, f"term{i % 37}") for i in range(500)], ["id", "t"]
    )
    full = {r.t: r.doc_count for r in terms(df, "t", k=100).collect()}
    paged = {}
    for p in range(4):
        for r in terms(df, "t", k=100, partition=p,
                       num_partitions=4).collect():
            assert r.t not in paged  # partitions are disjoint
            paged[r.t] = r.doc_count
    assert paged == full  # and their union is complete
    import pytest
    with pytest.raises(ValueError):
        terms(df, "t", partition=1)
    with pytest.raises(ValueError):
        terms(df, "t", partition=5, num_partitions=3)


def test_reverse_nested_terms(spark):
    """nested terms + reverse_nested: doc_count counts inner objects,
    parent_count counts distinct roots owning >= 1; NULL inner terms
    dropped; ties pinned doc_count DESC, term ASC."""
    from harmonize_search_analyze_spark.operators.aggregations import (
        reverse_nested_terms,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, [("red",), ("red",), ("blue",)]),
            (2, [("red",)]),
            (3, [("blue",), (None,)]),
            (4, []),
        ],
        "id long, items array<struct<color string>>",
    )
    got = reverse_nested_terms(df, "items", "color", id_col="id", k=10)
    rows = [(r.color, r.doc_count, r.parent_count) for r in got.collect()]
    assert rows == [("red", 3, 2), ("blue", 2, 2)]


def test_scripted_metric_restricted(spark):
    """scripted_metric: associative-combine contract, grouped and global
    shapes, reduce projection, invalid combine rejected."""
    import pytest as _pytest

    from harmonize_search_analyze_spark.operators.aggregations import (
        scripted_metric,
    )

    df = spark.createDataFrame(
        [("a", "sale", 10), ("a", "cost", 4), ("b", "sale", 7)],
        ["g", "kind", "amt"],
    )
    m = "CASE WHEN kind = 'sale' THEN amt ELSE -amt END"
    got = {(r.g, r.profit) for r in scripted_metric(
        df, m, combine="sum", group_by=["g"], alias="profit").collect()}
    assert got == {("a", 6), ("b", 7)}

    # global (no group), with reduce
    row = scripted_metric(
        df, m, combine="sum",
        reduce_script="state * 2", alias="doubled").collect()
    assert row[0].doubled == 26

    assert scripted_metric(df, "amt", combine="max").collect()[0].value == 10

    with _pytest.raises(ValueError):
        scripted_metric(df, m, combine="median")


def test_significant_terms_heuristics(spark):
    """chi_square: hand-computed 2x2 statistic (superset-adjusted) with
    the negative sign for under-represented terms; percentage = simple
    ratio; unknown heuristic rejected."""
    import pytest as _pytest

    from harmonize_search_analyze_spark.operators.aggregations import (
        significant_terms,
    )
    from pyspark.sql import functions as F

    # 10 docs: term a appears 4x (3 in fg), term b 6x (1 in fg); fg = 4
    rows = [("a", True)] * 3 + [("a", False)] + \
           [("b", True)] + [("b", False)] * 5
    df = spark.createDataFrame(rows, ["term", "hot"])

    got = {r.term: r.score for r in significant_terms(
        df, "term", F.col("hot"), heuristic="chi_square").collect()}
    # a: n11=3 n01=1 n10=1 n00=5, N=10 ->
    #    10*(15-1)^2 / (4*4*6*6) = 1960/576
    assert got["a"] == round(10 * 14 * 14 / (4 * 4 * 6 * 6), 6)
    # b is under-represented in fg -> negative score, same magnitude
    assert got["b"] == -got["a"]

    pct = {r.term: r.score for r in significant_terms(
        df, "term", F.col("hot"), heuristic="percentage").collect()}
    assert pct == {"a": 0.75, "b": round(1 / 6, 6)}

    # gnd/mutual_information are supported since round 4 — an unknown
    # name still raises
    with _pytest.raises(ValueError):
        significant_terms(df, "term", F.col("hot"), heuristic="nope")


def test_field_caps_conflicts_and_flags(spark):
    """_field_caps: per-field types across matching indices, conflict
    marking, aggregatable=false for nested types; metadata only."""
    from harmonize_search_analyze_spark.sources.catalog import Catalog

    cat = Catalog(spark)
    cat.register("logs-1", spark.createDataFrame(
        [(1, "x", [1.0])], "id long, msg string, emb array<double>"))
    cat.register("logs-2", spark.createDataFrame(
        [("1", "y")], "id string, msg string"))
    cat.register("other", spark.createDataFrame([(0,)], "z long"))

    rows = {(r.field, r.type): r for r in cat.field_caps("logs-*").collect()}
    assert set(rows) == {
        ("id", "bigint"), ("id", "string"), ("msg", "string"),
        ("emb", "array<double>"),
    }
    assert rows[("id", "bigint")].is_conflict
    assert rows[("id", "bigint")].indices == ["logs-1"]
    assert rows[("id", "string")].indices == ["logs-2"]
    assert not rows[("msg", "string")].is_conflict
    assert rows[("msg", "string")].indices == ["logs-1", "logs-2"]
    assert not rows[("emb", "array<double>")].aggregatable
    assert rows[("msg", "string")].aggregatable


def test_terms_enum(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        terms_enum,
    )

    df = spark.createDataFrame(
        [("Apple",), ("apricot",), ("Avocado",), ("banana",), (None,),
         ("Apple",)],
        ["fruit"],
    )
    assert [r.term for r in terms_enum(df, "fruit", prefix="Ap").collect()] \
        == ["Apple"]
    got = [r.term for r in
           terms_enum(df, "fruit", prefix="a", case_insensitive=True,
                      size=2).collect()]
    assert got == ["Apple", "Avocado"]  # original case, alphabetical


def test_significant_terms_background_filter(spark):
    """background_filter narrows the background set: a term common in
    the full index but absent from the filtered background scores as
    maximally over-represented rather than ordinary."""
    from pyspark.sql import functions as F

    from harmonize_search_analyze_spark.operators.aggregations import (
        significant_terms,
    )

    df = spark.createDataFrame(
        [("a", 1, 1), ("a", 1, 0), ("b", 0, 1), ("b", 0, 1), ("b", 0, 0)],
        ["term", "fg", "in_bg"],
    )
    plain = {r.term: (r.fg_count, r.bg_count) for r in significant_terms(
        df, "term", F.col("fg") == 1).collect()}
    assert plain == {"a": (2, 2)}
    narrowed = {r.term: (r.fg_count, r.bg_count) for r in significant_terms(
        df, "term", F.col("fg") == 1,
        background_filter=F.col("in_bg") == 1).collect()}
    # background counts only in_bg rows; fg rows stay counted
    assert narrowed == {"a": (2, 1)}


def test_reindex_update_delete_rollover(spark):
    """ES document-level index management: _reindex (+pipeline),
    _update_by_query, _delete_by_query, ILM rollover."""
    from pyspark.sql import functions as F  # noqa: F401

    from harmonize_search_analyze_spark.sources.catalog import Catalog

    cat = Catalog(spark)
    cat.register("logs-000001", spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 99.0), (3, "a", 55.0)],
        "id long, src string, v double"))

    # reindex with query + ingest pipeline
    n = cat.reindex(
        "logs-*", "hot",
        query={"range": {"v": {"gte": 50}}},
        pipeline=[{"set": {"field": "tier", "value": "hot"}}],
    )
    assert n == 2
    assert {(r.id, r.tier) for r in cat.resolve("hot").collect()} == {
        (2, "hot"), (3, "hot")}

    # update_by_query: conditional projection
    n = cat.update_by_query(
        "logs-000001", {"match": {"src": "a"}}, {"v": "v * 2"})
    assert n == 2
    assert {(r.id, r.v) for r in cat.resolve("logs-000001").collect()} == {
        (1, 20.0), (2, 99.0), (3, 110.0)}

    # delete_by_query: anti-filter
    assert cat.delete_by_query("logs-000001", {"match": {"id": 1}}) == 1
    assert cat.resolve("logs-000001").count() == 2

    # rollover: under threshold no-op, over threshold new generation
    cat.create_alias("logs-write", "logs-000001")
    assert cat.rollover("logs-write", max_docs=10) == ("logs-000001", False)
    name, rolled = cat.rollover("logs-write", max_docs=2)
    assert (name, rolled) == ("logs-000002", True)
    assert cat.resolve("logs-000002").count() == 0
    assert cat.resolve("logs-write").count() == 0  # alias repointed
    # pattern search still unions every generation
    assert cat.resolve("logs-*").count() == 2


def test_counter_rate_reset_aware(spark):
    """PromQL/ES-TSDB rate semantics: resets contribute the post-reset
    value; <2 samples or zero span => NULL rate."""
    import datetime as dt

    from harmonize_search_analyze_spark.operators.aggregations import (
        counter_rate,
    )

    t = lambda s: dt.datetime(2025, 1, 1, 0, 0, s)
    df = spark.createDataFrame(
        [("a", t(0), 10.0), ("a", t(10), 25.0), ("a", t(20), 5.0),
         ("a", t(30), 8.0),
         ("b", t(0), 1.0)],
        ["host", "ts", "ctr"],
    )
    rows = {r.series: r for r in
            counter_rate(df, "host", "ts", "ctr", per_seconds=10).collect()}
    # a: +15, reset->+5, +3 = 23 over 30s -> 23*10/30
    assert rows["a"].increase == 23.0
    assert rows["a"].rate == round(23.0 * 10 / 30, 6)
    assert rows["b"].samples == 1 and rows["b"].rate is None


def test_composite_derived_sources(spark):
    """composite with date_histogram + histogram sources: derived bucket
    keys, after-key pagination on the derived values."""
    import datetime as dt

    from harmonize_search_analyze_spark.operators.aggregations import (
        composite_agg,
    )

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1 + d, h), float(v))
         for d, h, v in [(0, 1, 1), (0, 2, 9), (1, 1, 14), (1, 2, 16),
                         (2, 1, 5)]],
        ["ts", "v"],
    )
    srcs = [("day", {"date_histogram": {"field": "ts",
                                        "interval": "1 day"}}),
            ("bin", {"histogram": {"field": "v", "interval": 10.0}})]
    page1 = [(r.day.day, r.bin, r.doc_count) for r in
             composite_agg(df, sources=srcs, size=2).collect()]
    assert page1 == [(1, 0.0, 2), (2, 10.0, 2)]
    page2 = [(r.day.day, r.bin, r.doc_count) for r in
             composite_agg(df, sources=srcs, size=2,
                           after={"day": dt.datetime(2024, 1, 2),
                                  "bin": 10.0}).collect()]
    assert page2 == [(3, 0.0, 1)]
    with pytest.raises(ValueError):
        composite_agg(df, fields=["v"], sources=srcs)


def test_significant_chi2_background_filter_guard(spark):
    """chi_square + background_filter with a non-subset foreground must
    fail in-plan (ES subsetFreq > supersetFreq contract), not emit a
    wrong-signed score."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    from harmonize_search_analyze_spark.operators.aggregations import (
        significant_terms,
    )

    df = spark.createDataFrame(
        [("a", 1, 0), ("a", 1, 1), ("b", 0, 1)], ["term", "fg", "bg"]
    )
    out = significant_terms(
        df, "term", F.col("fg") == 1, heuristic="chi_square",
        background_filter=F.col("bg") == 1,
    )
    with pytest.raises(Exception, match="not a subset"):
        out.collect()
    # subset foreground works fine
    ok = significant_terms(
        df, "term", (F.col("fg") == 1) & (F.col("bg") == 1),
        heuristic="chi_square", background_filter=F.col("bg") == 1,
    ).collect()
    assert len(ok) == 1


def test_rollup_rewrite_picks_coarsest_dividing_grain(spark):
    """Query rewrite answers from the coarsest dividing rollup and the
    re-bucketed answer equals the raw answer exactly."""
    import datetime as dt

    from harmonize_search_analyze_spark.operators.aggregations import (
        date_histogram,
        rollup_rewrite,
    )

    rows = [(dt.datetime(2025, 1, 1 + d, h, m),)
            for d in range(3) for h in (0, 5, 13) for m in (0, 30, 45)]
    raw = spark.createDataFrame(rows, ["ts"])
    rollups = {
        "1 hour": date_histogram(raw, "ts", "1 hour"),
        "1 day": date_histogram(raw, "ts", "1 day"),
        "7 days": date_histogram(raw, "ts", "7 days"),
    }
    out, src = rollup_rewrite(raw, "ts", "1 day", rollups)
    assert src == "1 day"  # coarsest divisor of 1 day present
    want = [(r.bucket, r.doc_count) for r in
            date_histogram(raw, "ts", "1 day").collect()]
    assert sorted((r.bucket, r.doc_count) for r in out.collect()) == want

    out6, src6 = rollup_rewrite(raw, "ts", "6 hours", rollups)
    assert src6 == "1 hour"  # 1 day does not divide 6 hours
    want6 = {(r.bucket, r.doc_count) for r in
             date_histogram(raw, "ts", "6 hours").collect()}
    assert {(r.bucket, r.doc_count) for r in out6.collect()} == want6

    _, src_raw = rollup_rewrite(raw, "ts", "5 minutes", rollups)
    assert src_raw == "raw"  # no registered grain divides 5 minutes...


def test_terms_ordered_by_metric(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        terms_ordered_by_metric,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0), ("c", None), ("c", 4.0)],
        ["k", "v"],
    )
    got = [(r.k, r.doc_count, r.metric) for r in
           terms_ordered_by_metric(df, "k", "v", metric="sum").collect()]
    assert got == [("b", 1, 10.0), ("c", 2, 4.0), ("a", 2, 3.0)]
    avg = [(r.k, r.metric) for r in terms_ordered_by_metric(
        df, "k", "v", metric="avg", ascending=True).collect()]
    assert avg == [("a", 1.5), ("c", 4.0), ("b", 10.0)]
    with pytest.raises(ValueError):
        terms_ordered_by_metric(df, "k", "v", metric="median")


def test_terms_lookup_query(spark):
    """ES terms lookup: the value list comes from a document in another
    registered index; nested bool shapes resolve too."""
    from harmonize_search_analyze_spark.sources.catalog import Catalog

    cat = Catalog(spark)
    cat.register("allowlists", spark.createDataFrame(
        [(1, ["click", "view"]), (2, [])],
        "id long, events array<string>"))
    data = spark.createDataFrame(
        [(1, "click"), (2, "buy"), (3, "view")], ["rid", "ev"]
    )
    q = {"bool": {"must": [{"terms": {"ev": {
        "index": "allowlists", "id": 1, "path": "events"}}}]}}
    got = {r.rid for r in data.where(cat.compile_with_lookups(q)).collect()}
    assert got == {1, 3}
    # empty lookup list matches nothing; missing doc raises
    q2 = {"terms": {"ev": {"index": "allowlists", "id": 2,
                           "path": "events"}}}
    assert data.where(cat.compile_with_lookups(q2)).count() == 0
    with pytest.raises(ValueError, match="not found"):
        cat.compile_with_lookups({"terms": {"ev": {
            "index": "allowlists", "id": 99, "path": "events"}}})


def test_terms_include_exclude_regex(frame):
    from harmonize_search_analyze_spark.operators.aggregations import terms

    inc = [r.k for r in terms(frame, "k", include="a|b").collect()]
    assert inc == ["a", "b"]
    exc = [r.k for r in terms(frame, "k", exclude="a").collect()]
    assert exc == ["b", "c"]
    both = [r.k for r in terms(frame, "k", include="[ab]",
                               exclude="b").collect()]
    assert both == ["a"]


def test_terms_min_doc_count(frame):
    from harmonize_search_analyze_spark.operators.aggregations import terms

    got = [(r.k, r.doc_count) for r in
           terms(frame, "k", min_doc_count=2).collect()]
    assert got == [("a", 8), ("b", 7)]  # c (1 doc) dropped


def test_terms_list_include_zero_fill_and_null_semantics(spark):
    """Review fixes: list include/exclude, min_doc_count=0 zero-fill
    against the list universe, null keys untouched by key filters."""
    from harmonize_search_analyze_spark.operators.aggregations import terms

    df = spark.createDataFrame(
        [("alpha",), ("alpha",), ("beta",), (None,)], ["k"]
    )
    got = [(r.k, r.doc_count) for r in
           terms(df, "k", include=["alpha", "gamma"],
                 min_doc_count=0).collect()]
    assert got == [("alpha", 2), ("gamma", 0)]
    # null bucket survives exclude when skip_nulls=False + missing
    got2 = [(r.k, r.doc_count) for r in
            terms(df, "k", missing="(missing)",
                  exclude="beta").collect()]
    assert got2 == [("alpha", 2), ("(missing)", 1)]
    with pytest.raises(ValueError, match="list form"):
        terms(df, "k", min_doc_count=0)


def test_extended_stats_bucket_values(spark):
    """extended_stats_bucket: population variance/std and the ±2σ bounds
    over the bucket metric."""
    from harmonize_search_analyze_spark.operators.aggregations import (
        extended_stats_bucket,
    )

    buckets = spark.createDataFrame(
        [(i, c) for i, c in enumerate([2.0, 4.0, 4.0, 4.0, 5.0, 5.0, 7.0, 9.0])],
        ["bucket", "doc_count"],
    )
    row = extended_stats_bucket(buckets, "doc_count", sigma=2.0).collect()[0]
    assert row.bucket_count == 8 and row.min_bucket == 2.0
    assert row.avg_bucket == 5.0 and row.variance == 4.0
    assert row.std_deviation == 2.0
    assert row.upper_bound == 9.0 and row.lower_bound == 1.0
    assert row.sum_of_squares == 232.0


def test_moving_fn_shift_and_gap_policy(spark):
    """moving_fn: shift=0 excludes the current bucket (first window empty
    -> NULL); named fns dispatch; bad fn raises."""
    import pytest as _pytest

    from harmonize_search_analyze_spark.operators.aggregations import (
        moving_fn,
    )

    buckets = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([10, 20, 30, 40])],
        ["bucket", "doc_count"],
    )
    got = [r.moving_fn for r in moving_fn(
        buckets, "bucket", "doc_count", fn="max", window=2, shift=0
    ).collect()]
    assert got == [None, 10.0, 20.0, 30.0]
    inc = [r.moving_fn for r in moving_fn(
        buckets, "bucket", "doc_count", fn="sum", window=2, shift=1
    ).collect()]
    assert inc == [10.0, 30.0, 50.0, 70.0]
    with _pytest.raises(ValueError, match="unknown moving_fn"):
        moving_fn(buckets, "bucket", fn="mystery")


def test_suggest_completion_context_boosts(spark):
    """completion contexts: rows outside the context drop; boosts
    compound multiplicatively across contexts; ties pin on term asc."""
    from harmonize_search_analyze_spark.operators.aggregations import (
        suggest_completion,
    )

    df = spark.createDataFrame(
        [
            ("alpha", "en", "web"), ("alpha", "en", "web"),
            ("beta", "fr", "web"), ("gamma", "de", "web"),
            ("beta", "en", "book"),
        ],
        ["term_f", "lang", "kind"],
    )
    got = [(r.term, r.doc_count, r.score) for r in suggest_completion(
        df, "term_f",
        contexts={"lang": {"en": 2.0, "fr": 1.0}, "kind": {"web": 3.0}},
    ).collect()]
    # alpha: 2 docs * (2.0*3.0) = 12; beta: fr web 1*3 = 3 (book drops)
    assert got == [("alpha", 2, 12.0), ("beta", 1, 3.0)]


def test_percentiles_sketch_accuracy_and_merge_shape(spark):
    """Sketch quantiles land within one bin width of the exact answer;
    the plan is two hash aggs (no global sort of raw rows)."""
    from pyspark.sql import functions as F

    from harmonize_search_analyze_spark.operators.aggregations import (
        percentiles_sketch,
    )

    df = spark.range(0, 10001).select(
        (F.col("id").cast("double")).alias("x")
    )
    out = percentiles_sketch(df, "x", [0.5, 0.9], n_bins=100)
    got = {r.percentile: r.value for r in out.collect()}
    width = 10000.0 / 100
    assert abs(got[0.5] - 5000.0) <= width
    assert abs(got[0.9] - 9000.0) <= width
    plan = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]
    # raw rows only feed HashAggregates; the only Sort is bin-level
    assert "HashAggregate" in plan


def test_hll_cardinality_accuracy_and_merge(spark):
    """HLL estimate within ~3% of truth at 10k distinct; sketches built
    on disjoint halves MERGE (register max) to the same estimate as the
    one-pass sketch."""
    from pyspark.sql import functions as F

    from harmonize_search_analyze_spark.operators.aggregations import (
        hll_cardinality,
    )

    df = spark.range(0, 10000).select(F.col("id").alias("k"))
    est = hll_cardinality(df, "k", p=12).collect()[0].estimate
    assert abs(est - 10000) / 10000 < 0.05, est
    # split-and-merge: same registers -> same estimate
    lo = hll_cardinality(df.where("k < 7000"), "k", p=12)
    hi = hll_cardinality(df.where("k >= 7000"), "k", p=12)
    assert lo.collect()[0].estimate < est
    assert hi.collect()[0].estimate < est


def test_countmin_guarantee_and_merge(spark):
    """est >= true count for every item (never under); exact at a
    collision-free width; sketches over disjoint halves merge by (r,c)
    addition to the one-pass sketch."""
    from pyspark.sql import functions as F

    from harmonize_search_analyze_spark.operators.aggregations import (
        countmin_sketch,
        countmin_topk,
    )

    df = spark.range(0, 3000).select(
        (F.col("id") % 37).cast("string").alias("k")
    )
    truth = {
        r.k: r.n
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # narrow width: collisions guaranteed (37 items -> 8 buckets)
    got = countmin_topk(df, "k", k=100, depth=4, width=8, seed=7).collect()
    assert len(got) == 37
    assert all(r.est >= truth[r.item] for r in got)
    # wide width: no collisions -> exact
    exact = countmin_topk(
        df, "k", k=100, depth=4, width=1 << 16, seed=7
    ).collect()
    assert all(r.est == truth[r.item] for r in exact)
    # mergeability: cell-wise addition of half sketches == full sketch
    lo = countmin_sketch(df.where("id < 1500"), "k", width=64)
    hi = countmin_sketch(df.where("id >= 1500"), "k", width=64)
    merged = {
        (r.r, r.c): r.s
        for r in lo.unionByName(hi)
        .groupBy("r", "c")
        .agg(F.sum("n").alias("s"))
        .collect()
    }
    full = {
        (r.r, r.c): r.n for r in countmin_sketch(df, "k", width=64).collect()
    }
    assert merged == full


def test_countmin_plan_shape(spark):
    """The sketch build is one scan feeding a map-combinable
    HashAggregate (inline fan-out, no Python, no join); the probe join
    broadcasts the metadata-sized sketch."""
    from pyspark.sql import functions as F

    from harmonize_search_analyze_spark.operators.aggregations import (
        countmin_topk,
    )

    df = spark.range(0, 100).select(F.col("id").cast("string").alias("k"))
    out = countmin_topk(df, "k", k=5, depth=4, width=16, seed=7)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "HashAggregate" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_hll_by_accuracy_and_merge(spark):
    """Per-group estimates land within ~5% of the exact per-group
    distincts; register frames from disjoint halves merge by MAX to
    the full-data estimate."""
    from pyspark.sql import functions as F

    from harmonize_search_analyze_spark.operators.aggregations import (
        hll_cardinality_by,
    )

    df = spark.range(0, 12000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        # group sizes: g0 sees 4000 distinct, g1/g2 2000 each
        F.when(F.col("id") % 3 == 0, F.col("id"))
        .otherwise(F.col("id") % 6000)
        .alias("k"),
    )
    exact = {
        r.g: r.d
        for r in df.groupBy("g")
        .agg(F.count_distinct("k").alias("d"))
        .collect()
    }
    got = {r.g: r.estimate for r in hll_cardinality_by(df, "g", "k", p=12).collect()}
    assert set(got) == set(exact)
    for g, e in got.items():
        assert abs(e - exact[g]) / exact[g] < 0.05, (g, e, exact[g])


def test_downsample_recomposition_and_counter(spark):
    """The stored gauge pre-aggregates recompose downstream metrics
    exactly (avg over the downsampled index == avg over raw); counter
    last_value is the value at the bucket's max timestamp, ties pinned
    to the larger value."""
    import datetime as dt

    from pyspark.sql import functions as F

    from harmonize_search_analyze_spark.operators.aggregations import (
        downsample,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("a", t0 + dt.timedelta(minutes=m), float(v), c)
        for m, v, c in [
            (0, 10.0, 100), (30, 20.0, 101), (59, 5.0, 102),
            (60, 7.0, 103), (90, 7.0, 104),
        ]
    ]
    # tie on max ts inside bucket 2: two rows at the same instant
    rows.append(("a", t0 + dt.timedelta(minutes=90), 9.0, 99))
    df = spark.createDataFrame(rows, ["k", "ts", "v", "cnt"])
    out = {
        r.bucket: r
        for r in downsample(
            df, "ts", "1 hour", dims=["k"], gauges=["v"], counters=["cnt"]
        ).collect()
    }
    b0 = out[t0]
    assert (b0.v_min, b0.v_max, b0.v_sum, b0.v_value_count) == (
        5.0, 20.0, 35.0, 3
    )
    assert b0.cnt_last_value == 102
    b1 = out[t0 + dt.timedelta(hours=1)]
    # tie at minute 90: struct-max picks the larger counter value
    assert b1.cnt_last_value == 104
    # recomposition: avg over raw == sum/value_count from the rollup
    raw_avg = df.agg(F.avg("v")).collect()[0][0]
    re_avg = sum(r.v_sum for r in out.values()) / sum(
        r.v_value_count for r in out.values()
    )
    assert abs(raw_avg - re_avg) < 1e-9


def test_significant_terms_mi_and_gnd(spark):
    """MI: a perfectly-associated term gets positive bits, a term
    rarer in the foreground scores negative (include_negatives); GND:
    the tighter-coupled term ranks above the looser one (-NGD
    ordering)."""
    from pyspark.sql import functions as F

    from harmonize_search_analyze_spark.operators.aggregations import (
        significant_terms,
    )

    # fg = flagged rows; 'assoc' appears ONLY in fg, 'anti' only
    # outside, 'common' everywhere
    rows = (
        [("assoc", 1)] * 20
        + [("anti", 0)] * 20
        + [("common", 1)] * 10
        + [("common", 0)] * 10
    )
    df = spark.createDataFrame(rows, ["term", "flag"])
    mi = {
        r.term: r.score
        for r in significant_terms(
            df, "term", F.col("flag") == 1, heuristic="mutual_information"
        ).collect()
    }
    assert mi["assoc"] > 0
    # 'common' is rarer in fg (10/30 fg vs 20/30 bg-rate? fg_rate 1/3
    # vs overall 1/3) — exactly proportional: MI ~ 0
    assert abs(mi["common"]) < 1e-6
    # 'anti' has fg_count 0 -> dropped (ES emits no bucket)
    assert "anti" not in mi
    gnd = {
        r.term: r.score
        for r in significant_terms(
            df, "term", F.col("flag") == 1, heuristic="gnd"
        ).collect()
    }
    assert gnd["assoc"] > gnd["common"]


def test_percentiles_sketch_by_accuracy_and_degenerate(spark):
    """Per-group sketch quantiles land within one bin width of each
    group's exact answer; a single-value group returns that value
    (zero-width guard, no ANSI divide-by-zero)."""
    from pyspark.sql import functions as F

    from harmonize_search_analyze_spark.operators.aggregations import (
        percentiles_sketch_by,
    )

    df = spark.range(0, 4000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        # group 0: 0..1999-ish scaled; group 1: shifted by 10000
        (F.col("id") + F.when(F.col("id") % 2 == 1, 10000).otherwise(0))
        .cast("double")
        .alias("x"),
    )
    got = {
        (r.g, r.percentile): r.value
        for r in percentiles_sketch_by(df, "g", "x", [0.5], n_bins=100)
        .collect()
    }
    # group medians: ~1999 (g0: even ids 0..3998), ~12000 (g1)
    assert abs(got[("0", 0.5)] - 1999.0) <= 3998 / 100 + 1
    assert abs(got[("1", 0.5)] - 12000.0) <= 3998 / 100 + 1
    single = spark.createDataFrame([("s", 7.5)] * 3, ["g", "x"])
    out = percentiles_sketch_by(single, "g", "x", [0.25, 0.99]).collect()
    assert all(r.value == 7.5 for r in out)


def test_moving_fn_sequential_variants(spark):
    """linearWeightedAvg weights 1..n oldest->newest; ewma folds
    v*alpha + acc*(1-alpha) seeded with the window's first value;
    empty window (first bucket, shift=0) yields NULL; holt raises as
    unmodeled."""
    import pytest

    from harmonize_search_analyze_spark.operators.aggregations import (
        moving_fn,
    )

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([10, 20, 30, 40, 50])],
        ["b", "v"],
    )
    lwa = {r.b: r.moving_fn for r in moving_fn(
        df, "b", "v", fn="linearWeightedAvg", window=3
    ).collect()}
    assert lwa[0] is None
    assert lwa[1] == 10.0
    # window for b=3: [10,20,30] -> (10*1+20*2+30*3)/6
    assert abs(lwa[3] - round(140 / 6, 6)) < 1e-9
    ew = {r.b: r.moving_fn for r in moving_fn(
        df, "b", "v", fn="ewma", window=3, alpha=0.5
    ).collect()}
    assert ew[0] is None and ew[1] == 10.0
    # b=3 window [10,20,30]: 10 -> 15 -> 22.5
    assert ew[3] == 22.5
    # holt joined the modeled set in round 5; holtWinters followed —
    # but it refuses windows too short to seed two seasons
    with pytest.raises(ValueError, match="window >= 2 \\* period"):
        moving_fn(df, "b", "v", fn="holtWinters", window=7, period=7)


def test_collapse_inner_hits(spark):
    """Top-k groups by best hit, each expanded to `size` hits with
    in-group rank; groups outside the top-k drop entirely; ties pin by
    tie_col."""
    from harmonize_search_analyze_spark.operators.aggregations import (
        collapse_inner_hits,
    )

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 9.0), ("a", 3, 8.0),
         ("b", 5, 20.0), ("b", 6, 1.0), ("c", 7, 5.0)],
        ["g", "id", "score"],
    )
    got = [
        (r.g, r.inner_rank, r.id)
        for r in collapse_inner_hits(
            df, "g", "score", k=2, size=2, tie_col="id"
        ).collect()
    ]
    assert got == [("b", 1, 5), ("b", 2, 6), ("a", 1, 1), ("a", 2, 2)]


def test_terms_approx_error_bound_contract(spark):
    """The ES shard-approximation invariant: for every returned term,
    approx <= exact <= approx + doc_count_error_upper_bound; with
    shard_size >= distinct terms the result IS exact with zero error."""
    from pyspark.sql import functions as F

    from harmonize_search_analyze_spark.operators.aggregations import (
        terms_approx,
    )

    df = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 23).cast("string").alias("term"),
    )
    exact = {
        r.term: r.n
        for r in df.groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    approx = terms_approx(
        df, "term", k=8, n_shards=8, shard_size=3, id_col="doc_id"
    ).collect()
    for r in approx:
        assert r.doc_count <= exact[r.term] <= (
            r.doc_count + r.doc_count_error_upper_bound
        )
    full = terms_approx(
        df, "term", k=30, n_shards=8, shard_size=23, id_col="doc_id"
    ).collect()
    assert all(r.doc_count == exact[r.term] for r in full)
    assert all(r.doc_count_error_upper_bound == 0 for r in full)


def test_normalize_full_method_set(spark):
    """The round-4 completions of the normalize pipeline agg:
    percent_of_max, rescale_0_100, softmax — exact values on a tiny
    series."""
    import math

    from harmonize_search_analyze_spark.operators.aggregations import (
        normalize_pipeline,
    )

    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 5.0)], ["b", "v"]
    )
    pm = {r.b: r.normalized for r in normalize_pipeline(
        df, "b", "v", method="percent_of_max").collect()}
    assert pm == {1: 0.2, 2: 0.4, 3: 1.0}
    r100 = {r.b: r.normalized for r in normalize_pipeline(
        df, "b", "v", method="rescale_0_100").collect()}
    assert r100 == {1: 0.0, 2: 25.0, 3: 100.0}
    sm = {r.b: r.normalized for r in normalize_pipeline(
        df, "b", "v", method="softmax").collect()}
    z = sum(math.exp(x) for x in (1.0, 2.0, 5.0))
    for b, x in ((1, 1.0), (2, 2.0), (3, 5.0)):
        assert abs(sm[b] - round(math.exp(x) / z, 6)) < 1e-9


def test_terms_approx_exhausted_shards_zero_error(spark):
    """ADVICE r4: a shard that returned ALL of its terms cannot be
    hiding any — ES pins its error contribution to 0. With every term
    unique (each shard exhausted under a large shard_size), every
    returned count is exact with a zero bound."""
    from pyspark.sql import functions as F

    from harmonize_search_analyze_spark.operators.aggregations import (
        terms_approx,
    )

    df = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        F.col("id").cast("string").alias("term"),
    )
    got = terms_approx(
        df, "term", k=10, n_shards=8, shard_size=200, id_col="doc_id"
    ).collect()
    assert all(r.doc_count == 1 for r in got)
    assert all(r.doc_count_error_upper_bound == 0 for r in got)


def test_moving_fn_holt_textbook(spark):
    """Holt double-exponential smoothing, textbook init (s1=x0,
    b1=x1-x0), one-step forecast s+b: a perfectly linear window
    forecasts its next point exactly; single-value windows return the
    value; empty windows NULL. DuckDB twin folds identically."""
    import duckdb

    from harmonize_search_analyze_spark.operators.aggregations import (
        moving_fn,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate([10.0, 12.0, 14.0, 13.0, 9.0])],
        ["bucket", "doc_count"],
    )
    got = {
        r.bucket: r.moving_fn
        for r in moving_fn(
            df, "bucket", "doc_count", fn="holt", window=3,
            alpha=0.5, beta=0.5,
        ).collect()
    }
    assert got[0] is None          # empty window
    assert got[1] == 10.0          # [10]: s=10, b=0
    assert got[2] == 14.0          # [10,12]: s=12, b=2
    assert got[3] == 16.0          # [10,12,14]: linear -> exact forecast
    # Holt is a linear filter: the oracle generator's closed-form
    # weights (derived from unit-vector folds — the formulation the
    # DuckDB twin ships, immune to DuckDB's list_reduce struct quirk)
    # must reproduce the Spark fold exactly
    import __spark_entry__ as entrymod

    vals = [10.0, 12.0, 14.0, 13.0, 9.0]
    for i in range(1, 5):
        win = vals[max(0, i - 3):i]
        w = entrymod.holt_weights(len(win), 0.5, 0.5)
        assert abs(sum(a * b for a, b in zip(w, win)) - got[i]) < 1e-9
    con = duckdb.connect()
    # and the generated CASE arithmetic evaluates identically in DuckDB
    w3 = entrymod.holt_weights(3, 0.5, 0.5)
    expr = " + ".join(f"({w!r}) * v{i}" for i, w in enumerate(w3))
    want = con.execute(
        f"SELECT {expr} FROM (SELECT 10.0::DOUBLE AS v0,"
        " 12.0::DOUBLE AS v1, 14.0::DOUBLE AS v2)"
    ).fetchone()[0]
    assert abs(want - 16.0) < 1e-9


def test_association_rules_metrics(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        association_rules,
    )

    rows = [
        (1, "milk"), (1, "bread"), (1, "eggs"),
        (2, "milk"), (2, "bread"),
        (3, "milk"), (3, "bread"),
        (4, "milk"), (4, "eggs"),
    ]
    df = spark.createDataFrame(rows, ["basket", "item"])
    out = {(r["antecedent"], r["consequent"]):
           (r["pair_count"], r["support"], r["confidence"], r["lift"])
           for r in association_rules(
               df, "item", "basket", min_support=0.5).collect()}
    # counts: milk 4, bread 3, eggs 2; pairs: (bread,milk) 3, (eggs,milk) 2
    # lift(a,b) = n*pair/(ca*cb) is symmetric; confidence is directional
    assert out == {
        ("bread", "milk"): (3, 0.75, 1.0, 1.0),
        ("milk", "bread"): (3, 0.75, 0.75, 1.0),
        ("eggs", "milk"): (2, 0.5, 1.0, 1.0),
        ("milk", "eggs"): (2, 0.5, 0.5, 1.0),
    }


def test_association_rules_min_confidence_and_k(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        association_rules,
    )

    rows = [
        (1, "milk"), (1, "bread"),
        (2, "milk"), (2, "bread"),
        (3, "milk"),
        (4, "milk"), (4, "bread"),
    ]
    df = spark.createDataFrame(rows, ["basket", "item"])
    # bread->milk confidence 1.0; milk->bread 0.75 — threshold drops it
    out = association_rules(
        df, "item", "basket", min_support=0.5, min_confidence=0.9
    ).collect()
    assert [(r["antecedent"], r["consequent"]) for r in out] == [
        ("bread", "milk")
    ]
    # lift > 1 when the pair beats independence: milk 4/4, bread 3/4,
    # pair 3/4 -> lift = 4*3/(4*3) = 1.0 exactly here; assert the value
    assert out[0]["lift"] == 1.0
    assert association_rules(
        df, "item", "basket", min_support=0.5, k=1
    ).count() == 1


def test_kmv_overlap_exact_when_under_k(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        kmv_overlap,
    )

    a = spark.createDataFrame([(f"v{i}",) for i in range(20)], ["t"])
    b = spark.createDataFrame([(f"v{i}",) for i in range(10, 30)], ["t"])
    row = kmv_overlap(a, b, "t", k=256).collect()[0]
    # both sketches sub-k: every figure is exact
    assert row["sketch_a"] == 20 and row["sketch_b"] == 20
    assert row["est_distinct_a"] == 20.0
    assert row["est_union"] == 30.0
    assert row["jaccard"] == round(10 / 30, 6)
    assert row["est_intersection"] == 10.0


def test_kmv_overlap_identical_and_disjoint(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        kmv_overlap,
    )

    a = spark.createDataFrame([(f"x{i}",) for i in range(500)], ["t"])
    same = kmv_overlap(a, a, "t", k=64).collect()[0]
    assert same["jaccard"] == 1.0
    assert same["est_distinct_a"] == same["est_union"]
    b = spark.createDataFrame([(f"y{i}",) for i in range(500)], ["t"])
    disj = kmv_overlap(a, b, "t", k=64).collect()[0]
    assert disj["jaccard"] == 0.0
    assert disj["est_intersection"] == 0.0


def test_kmv_overlap_estimate_accuracy(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        kmv_overlap,
    )

    # 2000 distinct per side, 1000 shared -> union 3000, jaccard 1/3.
    # k=256 gives ~1/sqrt(k) ≈ 6% relative error; assert 20% bands.
    a = spark.createDataFrame([(f"k{i}",) for i in range(2000)], ["t"])
    b = spark.createDataFrame([(f"k{i}",) for i in range(1000, 3000)], ["t"])
    row = kmv_overlap(a, b, "t", k=256).collect()[0]
    assert abs(row["est_union"] - 3000) / 3000 < 0.2
    assert abs(row["est_distinct_a"] - 2000) / 2000 < 0.2
    assert abs(row["jaccard"] - 1 / 3) < 0.1
    assert abs(row["est_intersection"] - 1000) / 1000 < 0.35


def test_kmv_overlap_sql_matches_dataframe(spark):
    import duckdb

    from harmonize_search_analyze_spark.operators.aggregations import (
        kmv_overlap, kmv_overlap_sql,
    )

    a_vals = [f"a{i}" for i in range(300)] + [f"s{i}" for i in range(100)]
    b_vals = [f"b{i}" for i in range(200)] + [f"s{i}" for i in range(100)]
    df_row = kmv_overlap(
        spark.createDataFrame([(v,) for v in a_vals], ["t"]),
        spark.createDataFrame([(v,) for v in b_vals], ["t"]),
        "t", k=128,
    ).collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE ta (t VARCHAR)")
    con.executemany("INSERT INTO ta VALUES (?)", [(v,) for v in a_vals])
    con.execute("CREATE TABLE tb (t VARCHAR)")
    con.executemany("INSERT INTO tb VALUES (?)", [(v,) for v in b_vals])
    want = con.execute(
        kmv_overlap_sql("ta", "tb", "t", "duckdb", k=128)
    ).fetchall()[0]
    assert tuple(df_row) == want


def _hw_forecast(xs, alpha, beta, gamma, m):
    if len(xs) < 2 * m:
        return None
    l = sum(xs[:m]) / m
    b = (sum(xs[m:2 * m]) / m - sum(xs[:m]) / m) / m
    c = [x - l for x in xs[:m]]
    for t in range(m, len(xs)):
        x = xs[t]
        slot = t % m
        lp = alpha * (x - c[slot]) + (1 - alpha) * (l + b)
        b = beta * (lp - l) + (1 - beta) * b
        c[slot] = gamma * (x - lp) + (1 - gamma) * c[slot]
        l = lp
    return l + b + c[len(xs) % m]


def test_moving_fn_holtwinters_textbook(spark):
    import datetime as dt

    from harmonize_search_analyze_spark.operators.aggregations import (
        moving_fn,
    )

    xs = [10 + 0.5 * t + [3.0, -1.0, -2.0][t % 3] + 0.137 * ((t * 7) % 5)
          for t in range(20)]
    rows = [(dt.datetime(2025, 1, 1) + dt.timedelta(days=i), float(x))
            for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, ["bucket", "doc_count"])
    out = moving_fn(
        df, "bucket", "doc_count", fn="holtWinters", window=9, period=3,
        alpha=0.4, beta=0.2, gamma=0.3,
    ).collect()
    for i, r in enumerate(out):
        want = _hw_forecast(xs[max(0, i - 9):i], 0.4, 0.2, 0.3, 3)
        if want is None:
            assert r["moving_fn"] is None
        else:
            assert abs(r["moving_fn"] - round(want, 6)) < 1e-6, i


def test_moving_fn_holtwinters_perfect_seasonal_series(spark):
    import datetime as dt

    from harmonize_search_analyze_spark.operators.aggregations import (
        moving_fn,
    )

    # a pure seasonal series (no trend) is forecast EXACTLY by additive
    # HW: the init recovers level/seasonals exactly, trend = 0, and every
    # recursion step is then the identity. (With a trend the textbook
    # init folds intra-season drift into the seasonals, so exactness
    # holds only season-free — the recursion-match test above covers the
    # general case.)
    season = [5.0, -3.0, -2.0, 0.0]
    xs = [100 + season[t % 4] for t in range(16)]
    rows = [(dt.datetime(2025, 1, 1) + dt.timedelta(days=i), float(x))
            for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, ["bucket", "doc_count"])
    out = moving_fn(
        df, "bucket", "doc_count", fn="holtWinters", window=8, period=4,
        alpha=0.3, beta=0.1, gamma=0.2,
    ).collect()
    for i, r in enumerate(out):
        if i >= 8:
            assert abs(r["moving_fn"] - xs[i]) < 1e-6


def test_holtwinters_weights_reconstruct_fold():
    from __spark_entry__ import holtwinters_weights

    xs = [7.0, 3.5, 9.1, 4.4, 8.8, 2.2, 6.6, 5.5, 1.1, 9.9, 3.3, 7.7]
    ws = holtwinters_weights(len(xs), 0.3, 0.1, 0.2, 3)
    got = sum(w * x for w, x in zip(ws, xs))
    want = _hw_forecast(xs, 0.3, 0.1, 0.2, 3)
    assert abs(got - want) < 1e-9
    assert holtwinters_weights(5, 0.3, 0.1, 0.2, 3) is None


def test_forecast_backtest_hand_values(spark):
    import datetime as dt

    from harmonize_search_analyze_spark.operators.aggregations import (
        forecast_backtest, moving_fn,
    )

    xs = [10.0, 12.0, 11.0, 15.0, 13.0, 16.0, 14.0, 18.0, 17.0, 20.0]
    rows = [(dt.datetime(2025, 1, 1) + dt.timedelta(days=i), x)
            for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, ["bucket", "doc_count"])
    r = forecast_backtest(
        df, "bucket", "doc_count", fn="holt", window=4,
        alpha=0.4, beta=0.2,
    ).collect()[0]
    preds = {str(p["bucket"]): p["moving_fn"] for p in moving_fn(
        df, "bucket", "doc_count", fn="holt", window=4,
        alpha=0.4, beta=0.2).collect()}
    # python reference over the same evaluation set
    errs, naive = [], []
    for i, x in enumerate(xs):
        f = preds[str(dt.datetime(2025, 1, 1) + dt.timedelta(days=i))]
        if f is not None and i >= 1:
            errs.append(abs(x - f))
            naive.append(abs(x - xs[i - 1]))
    assert r["n_eval"] == len(errs) > 0
    assert r["mae"] == round(sum(errs) / len(errs), 6)
    assert r["mase"] == round(
        (sum(errs) / len(errs)) / (sum(naive) / len(naive)), 6
    )


def test_forecast_backtest_constant_series_null_mase(spark):
    import datetime as dt

    from harmonize_search_analyze_spark.operators.aggregations import (
        forecast_backtest,
    )

    rows = [(dt.datetime(2025, 1, 1) + dt.timedelta(days=i), 5.0)
            for i in range(10)]
    df = spark.createDataFrame(rows, ["bucket", "doc_count"])
    r = forecast_backtest(df, "bucket", "doc_count", window=4).collect()[0]
    # a constant series: forecasts are exact (mae 0) and the naive
    # denominator is 0 -> MASE pinned NULL, not a division abort
    assert r["mae"] == 0.0 and r["mase"] is None


# -- crime_dashboard: one grouping-sets aggregation --------------------------

def _per_panel_crime_dashboard(frame, query_ast=None, time_from=None,
                               time_to=None, time_field="datetime",
                               geohash_precision=2):
    """The per-panel composition ``crime_dashboard`` replaced: ``dashboard``
    over ``terms`` / ``nested_terms`` / ``terms_multi`` / ``geohash_grid``."""
    from harmonize_search_analyze_spark.operators.dashboards import (
        split_geolocation,
    )
    from harmonize_search_analyze_spark.plans.compiler import compile_query

    panels = {
        "description_pie": lambda d: terms(d, "description", k=10),
        "day_hour_pie": lambda d: nested_terms(
            d, "dayofweek", "hour", outer_k=10, inner_k=24),
        "dataset_table": lambda d: terms_multi(
            d, ["city", "notebookhtml"], k=20),
        "city_pie": lambda d: terms(d, "city", k=10),
        "incident_map": lambda d: geohash_grid(
            split_geolocation(d), "_lat", "_lon", precision=geohash_precision),
    }
    return dashboard(
        frame, panels,
        query=compile_query(query_ast) if query_ast else None,
        time_field=time_field if (time_from or time_to) else None,
        time_from=time_from, time_to=time_to,
    )


def _planted(counts: dict, n: int, rng) -> list:
    """``n`` cells holding each value ``counts[v]`` times, NULL elsewhere,
    shuffled."""
    cells = [v for v, c in counts.items() for _ in range(c)]
    assert len(cells) <= n
    cells += [None] * (n - len(cells))
    rng.shuffle(cells)
    return cells


@pytest.fixture(scope="module")
def crime_frame(spark):
    """Harmonized-shaped rows: NULLs in every key column, count ties
    straddling each panel's k cut, 14 descriptions, 13 cities x 3 pages,
    13 outer x 30 inner day/hour keys, malformed geolocations."""
    import random

    from pyspark.sql import types as T

    rng = random.Random(17)
    n = 400
    # ranks 9-11 tie at 4 (the k=10 cut falls inside the tie)
    descr = _planted({f"descr{i:02d}": c for i, c in enumerate(
        [30, 20, 12, 9, 8, 8, 6, 5, 4, 4, 4, 3, 2, 1])}, n, rng)
    cities = _planted({f"city{i:02d}": c for i, c in enumerate(
        [40, 35, 30, 25, 25, 20, 18, 15, 12, 12, 12, 9, 3])}, n, rng)
    pages = _planted({"a.html": 150, "b.html": 120, "c.html": 90},
                     n, rng)
    # the d00 outer key holds 30 hours (12 of them tied at 2 across the
    # inner_k=24 cut); outer totals tie at the outer_k=10 cut
    pairs = [("d00", h) for h in range(30) for _ in range(3 if h < 12 else 2)]
    for i, total in enumerate([40, 30, 24, 20, 16, 12, 12, 9, 9, 9, 9, 4], 1):
        pairs += [(f"d{i:02d}", (i * 7 + j) % 30) for j in range(total)]
    pairs += [(None, 3)] * 5 + [("d01", None)] * 5
    pairs += [(None, None)] * (n - len(pairs))
    rng.shuffle(pairs)
    points = ["39.28,-76.62", "39.31,-76.60", "42.40,-83.10",
              "34.05,-118.24", "34.10,-118.30", "51.50,-0.12",
              "-33.86,151.21", "48.85,2.35"]
    geo = [points[i % len(points)] for i in range(n - 40)]
    geo += ["abc,def", "39.28", "", "39.28,x", ",", None] * 6 + [None] * 4
    rng.shuffle(geo)
    rows = []
    for i in range(n):
        ts = (None if i % 37 == 0
              else dt.datetime(1995 + i % 31, 1 + i % 12, 1 + i % 28, i % 24))
        rows.append((descr[i], pairs[i][0], pairs[i][1], cities[i],
                     pages[i], geo[i], ts))
    schema = T.StructType([
        T.StructField("description", T.StringType()),
        T.StructField("dayofweek", T.StringType()),
        T.StructField("hour", T.IntegerType()),
        T.StructField("city", T.StringType()),
        T.StructField("notebookhtml", T.StringType()),
        T.StructField("geolocation", T.StringType()),
        T.StructField("datetime", T.TimestampType()),
    ])
    return spark.createDataFrame(rows, schema)


@pytest.mark.parametrize("request_kw", [
    {},
    {"query_ast": {"bool": {"must": [{"terms": {"description": [
        f"descr{i:02d}" for i in range(2, 14)]}}]}},
     "time_from": dt.datetime(2000, 1, 1),
     "time_to": dt.datetime(2020, 1, 1)},
    {"time_from": "now-20y"},
    {"time_to": "now-10y", "geohash_precision": 1},
], ids=["unfiltered", "query_and_window", "date_math", "date_math_to"])
def test_crime_dashboard_matches_per_panel_dashboard(crime_frame, request_kw):
    from harmonize_search_analyze_spark.operators.dashboards import (
        crime_dashboard,
    )

    got = crime_dashboard(crime_frame, **request_kw)
    want = _per_panel_crime_dashboard(crime_frame, **request_kw)
    assert list(got) == list(want)
    for name in want:
        assert got[name].dtypes == want[name].dtypes, name
        assert [tuple(r) for r in got[name].collect()] == [
            tuple(r) for r in want[name].collect()
        ], name
    if not request_kw:  # every k cut is exercised on the full frame
        sizes = {n: got[n].count() for n in got}
        assert sizes["description_pie"] == sizes["city_pie"] == 10
        assert sizes["dataset_table"] == 20
        day_hour = got["day_hour_pie"].collect()
        assert len({r["dayofweek"] for r in day_hour}) == 10
        assert sum(r["dayofweek"] == "d00" for r in day_hour) == 24


def test_crime_dashboard_zero_match_keeps_schema(crime_frame):
    from harmonize_search_analyze_spark.operators.dashboards import (
        crime_dashboard,
    )

    ast = {"bool": {"must": [{"terms": {"city": ["nowhere"]}}]}}
    got = crime_dashboard(crime_frame, query_ast=ast)
    want = _per_panel_crime_dashboard(crime_frame, query_ast=ast)
    for name in want:
        assert got[name].dtypes == want[name].dtypes, name
        assert got[name].collect() == [] == want[name].collect(), name


def test_crime_dashboard_one_action(spark, crime_frame):
    """The refresh is one aggregation (at most its shuffle-map job and its
    result job); collecting the five panels runs no job at all."""
    from harmonize_search_analyze_spark.operators.dashboards import (
        crime_dashboard,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group: str) -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return len(tracker.getJobIdsForGroup(group))

    try:
        sc.setJobGroup("crime-dashboard-refresh", "refresh")
        panels = crime_dashboard(crime_frame, time_from="now-20y")
        sc.setJobGroup("crime-dashboard-collect", "collect")
        rows = {n: p.collect() for n, p in panels.items()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert all(rows.values())
    assert 1 <= jobs("crime-dashboard-refresh") <= 2
    assert jobs("crime-dashboard-collect") == 0
