"""global_order (distributed contiguous rank) and assign_split
(deterministic hash splitting): correctness vs the single-window form,
partitioning invariance, plan shape, split disjointness/stability."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from harmonize_search_analyze_spark.operators.ordering import (
    assign_split,
    global_order,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, (i * 37) % 101) for i in range(500)]
    return spark.createDataFrame(rows, ["doc_id", "quality"])


def test_global_order_matches_single_window(docs):
    got = {
        r.doc_id: r.rank
        for r in global_order(docs, ["quality", "doc_id"]).collect()
    }
    from pyspark.sql import Window

    want = {
        r.doc_id: r.rank
        for r in docs.withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.asc("quality"), F.asc("doc_id"))
            )
            - 1,
        ).collect()
    }
    assert got == want
    assert sorted(got.values()) == list(range(500))  # contiguous 0..N-1


def test_global_order_partitioning_invariant(docs):
    a = {r.doc_id: r.rank for r in global_order(
        docs, ["quality", "doc_id"], num_partitions=3).collect()}
    b = {r.doc_id: r.rank for r in global_order(
        docs.repartition(13), ["quality", "doc_id"], num_partitions=7
    ).collect()}
    assert a == b


def test_global_order_descending_and_validation(docs):
    top = (
        global_order(docs, ["quality", "doc_id"], ascending=False)
        .where(F.col("rank") == 0)
        .collect()
    )
    assert len(top) == 1 and top[0].quality == 100
    with pytest.raises(ValueError):
        global_order(docs, [])


def test_global_order_no_single_reducer_window(docs):
    """The ranking window must be partitioned (parallel), never a global
    row_number: no SinglePartition exchange feeding a Window."""
    out = global_order(docs, ["quality", "doc_id"], num_partitions=4)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    windows = [
        seg for seg in plan.split("\n") if "Window" in seg and "__local" in seg
    ]
    assert windows, plan
    # the row-volume window runs partitioned by __pid — the plan's only
    # SinglePartition exchange may feed the metadata-sized offsets frame,
    # never the ranked row stream (which arrives range-partitioned)
    assert "partitionBy=[__pid]" in windows[0] or "__pid" in windows[0], plan


def test_assign_split_disjoint_stable_and_proportional(docs):
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = assign_split(docs, "doc_id", fr)
    counts = {r.split: r.c for r in out.groupBy("split").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    assert set(counts) <= {"train", "val", "test"}
    assert sum(counts.values()) == 500
    assert counts["train"] > 350  # ~400 expected
    # stability: same labels on a repartitioned frame
    a = {r.doc_id: r.split for r in out.collect()}
    b = {r.doc_id: r.split for r in assign_split(
        docs.repartition(11), "doc_id", fr).collect()}
    assert a == b
    # append-safety: adding rows never relabels existing keys
    more = docs.sparkSession.createDataFrame(
        [(10_000 + i, 0) for i in range(50)], ["doc_id", "quality"]
    )
    c = {r.doc_id: r.split for r in assign_split(
        docs.unionByName(more), "doc_id", fr).collect()}
    assert all(c[k] == v for k, v in a.items())


def test_assign_split_validation(docs):
    with pytest.raises(ValueError):
        assign_split(docs, "doc_id", {})
    with pytest.raises(ValueError):
        assign_split(docs, "doc_id", {"a": 0.5, "b": 0.4})
    with pytest.raises(ValueError):
        assign_split(docs, "doc_id", {"a": 1.5, "b": -0.5})


def test_assign_split_is_map_only(docs):
    out = assign_split(docs, "doc_id", {"train": 0.9, "val": 0.1})
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_latest_transform_keeps_newest_with_tiebreak(spark):
    import datetime as dt

    from harmonize_search_analyze_spark.operators.ordering import (
        latest_transform,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 10, t0, "a"),
        (2, 11, t0 + dt.timedelta(hours=1), "b"),
        (3, 10, t0 + dt.timedelta(hours=2), "c"),   # newest for key 10
        (4, 11, t0 + dt.timedelta(hours=1), "d"),   # ts tie: event_id wins
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    got = {r["user_id"]: (r["event_id"], r["event_type"])
           for r in latest_transform(df, ["user_id"], "ts",
                                     tiebreak="event_id").collect()}
    assert got == {10: (3, "c"), 11: (4, "d")}
    out = latest_transform(df, ["user_id"], "ts", tiebreak="event_id")
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_epoch_shuffle_determinism_and_coverage(spark):
    """Each epoch is a full, differently-ordered copy; positions are
    epoch-major contiguous; identical across runs; epochs validated."""
    import pytest as _pytest

    from harmonize_search_analyze_spark.operators.ordering import (
        epoch_shuffle,
    )

    df = spark.createDataFrame([(i,) for i in range(40)], ["doc_id"])
    out = epoch_shuffle(df, "doc_id", epochs=3, seed=5, rank=True).collect()
    assert len(out) == 120
    assert sorted(r.pos for r in out) == list(range(120))
    by_epoch = {}
    for r in out:
        by_epoch.setdefault(r.epoch, []).append(r)
    assert set(by_epoch) == {0, 1, 2}
    for e, rows in by_epoch.items():
        assert sorted(r.doc_id for r in rows) == list(range(40))
        assert sorted(r.pos for r in rows) == list(
            range(e * 40, (e + 1) * 40)
        )
    orders = [
        [r.doc_id for r in sorted(rows, key=lambda r: r.pos)]
        for _, rows in sorted(by_epoch.items())
    ]
    assert orders[0] != orders[1] and orders[1] != orders[2]

    again = epoch_shuffle(df, "doc_id", epochs=3, seed=5, rank=True).collect()
    assert sorted((r.epoch, r.doc_id, r.pos) for r in again) == \
        sorted((r.epoch, r.doc_id, r.pos) for r in out)

    with _pytest.raises(ValueError):
        epoch_shuffle(df, "doc_id", epochs=0)


def test_pivot_transform(spark):
    """ES pivot transform: entity summary with the associative agg set;
    cardinality split into its own aggregation (no Expand cliff); dest
    registration; validation."""
    import pytest as _pytest

    from harmonize_search_analyze_spark.operators.ordering import (
        pivot_transform,
    )
    from harmonize_search_analyze_spark.sources.catalog import Catalog

    df = spark.createDataFrame(
        [("a", "x", 10.0), ("a", "y", 30.0), ("b", "x", 5.0),
         ("a", "x", 20.0)],
        ["ent", "dev", "v"],
    )
    out = pivot_transform(
        df, ["ent"],
        {"total": ("sum", "v"), "n": ("value_count", "v"),
         "devices": ("cardinality", "dev"), "peak": ("max", "v")},
    )
    rows = {r.ent: (r.total, r.n, r.devices, r.peak) for r in out.collect()}
    assert rows == {"a": (60.0, 3, 2, 30.0), "b": (5.0, 1, 1, 5.0)}
    # the Expand anti-pattern never appears in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan

    cat = Catalog(spark)
    pivot_transform(df, ["ent"], {"total": ("sum", "v")},
                    catalog=cat, dest="ent_summary")
    assert cat.resolve("ent_summary").count() == 2

    with _pytest.raises(ValueError):
        pivot_transform(df, [], {"t": ("sum", "v")})
    with _pytest.raises(ValueError):
        pivot_transform(df, ["ent"], {})
    with _pytest.raises(ValueError):
        pivot_transform(df, ["ent"], {"t": ("median", "v")})


def test_pivot_transform_null_group_key_survives_cardinality(spark):
    """Review finding: a NULL group key must survive the per-distinct
    join back (null-safe equality), matching the plain-agg path."""
    from harmonize_search_analyze_spark.operators.ordering import (
        pivot_transform,
    )

    df = spark.createDataFrame(
        [("a", "x", 1.0), (None, "y", 2.0), (None, "z", 3.0)],
        ["ent", "dev", "v"],
    )
    out = pivot_transform(
        df, ["ent"],
        {"total": ("sum", "v"), "devices": ("cardinality", "dev")},
    ).collect()
    rows = {r.ent: (r.total, r.devices) for r in out}
    assert rows == {"a": (1.0, 1), None: (5.0, 2)}


def test_epoch_shuffle_column_collision_rejected(spark):
    import pytest as _pytest

    from harmonize_search_analyze_spark.operators.ordering import (
        epoch_shuffle,
    )

    df = spark.createDataFrame([(1, 0)], ["doc_id", "epoch"])
    with _pytest.raises(ValueError, match="collide"):
        epoch_shuffle(df, "doc_id", epochs=2)


def test_scd2_merge_all_branches(spark):
    import datetime as dt

    from harmonize_search_analyze_spark.operators.ordering import scd2_merge

    t = dt.datetime
    dim = spark.createDataFrame(
        [
            # closed history row: passes through untouched
            (1, "a", t(2024, 1, 1), t(2025, 1, 1)),
            # open rows
            (1, "b", t(2025, 1, 1), None),   # unchanged in snapshot
            (2, "x", t(2025, 1, 1), None),   # changed -> close + reopen
            (3, "z", t(2025, 1, 1), None),   # missing -> close (delete)
        ],
        ["id", "seg", "valid_from", "valid_to"],
    )
    snap = spark.createDataFrame(
        [(1, "b"), (2, "y"), (4, "new")], ["id", "seg"]
    )
    out = scd2_merge(dim, snap, "id", ["seg"], "2025-06-01").collect()
    rows = {(r["id"], r["seg"], r["valid_from"], r["valid_to"])
            for r in out}
    assert rows == {
        (1, "a", t(2024, 1, 1), t(2025, 1, 1)),      # history
        (1, "b", t(2025, 1, 1), None),               # unchanged, open
        (2, "x", t(2025, 1, 1), t(2025, 6, 1)),      # closed old version
        (2, "y", t(2025, 6, 1), None),               # reopened new value
        (3, "z", t(2025, 1, 1), t(2025, 6, 1)),      # delete-closed
        (4, "new", t(2025, 6, 1), None),             # insert
    }
    assert len(out) == 6


def test_scd2_merge_null_safe_change_detection(spark):
    import datetime as dt

    from harmonize_search_analyze_spark.operators.ordering import scd2_merge

    t = dt.datetime
    dim = spark.createDataFrame(
        [(1, None, t(2025, 1, 1), None), (2, "v", t(2025, 1, 1), None)],
        "id int, seg string, valid_from timestamp, valid_to timestamp",
    )
    snap = spark.createDataFrame(
        [(1, None), (2, None)], "id int, seg string"
    )
    out = scd2_merge(dim, snap, "id", ["seg"], "2025-06-01").collect()
    # NULL == NULL is "unchanged" (null-safe); value -> NULL is a change
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r)
    assert len(by_id[1]) == 1 and by_id[1][0]["valid_to"] is None
    assert len(by_id[2]) == 2


def test_scd2_merge_sql_matches_dataframe(spark):
    import duckdb
    import datetime as dt

    from harmonize_search_analyze_spark.operators.ordering import (
        scd2_merge, scd2_merge_sql,
    )

    t = dt.datetime
    dim_rows = [
        (i, f"s{i % 4}", float(i), t(2025, 1, 1),
         t(2025, 3, 1) if i % 9 == 0 else None)
        for i in range(40)
    ]
    snap_rows = [
        (i, f"s{(i + (1 if i % 5 == 0 else 0)) % 4}", float(i))
        for i in range(5, 45)
    ]
    df = scd2_merge(
        spark.createDataFrame(
            dim_rows,
            "id int, seg string, bal double, valid_from timestamp,"
            " valid_to timestamp"),
        spark.createDataFrame(snap_rows, "id int, seg string, bal double"),
        "id", ["seg", "bal"], "2025-06-01",
    ).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE d (id INT, seg VARCHAR, bal DOUBLE,"
                " valid_from TIMESTAMP, valid_to TIMESTAMP)")
    con.executemany("INSERT INTO d VALUES (?,?,?,?,?)", dim_rows)
    con.execute("CREATE TABLE s (id INT, seg VARCHAR, bal DOUBLE)")
    con.executemany("INSERT INTO s VALUES (?,?,?)", snap_rows)
    want = con.execute(scd2_merge_sql(
        "SELECT * FROM d", "SELECT * FROM s", "id", ["seg", "bal"],
        "2025-06-01", "duckdb",
    )).fetchall()
    assert sorted(tuple(r) for r in df) == sorted(tuple(r) for r in want)


# -- in-plan boundary sampling (_lazy_bounds_frame) ---------------------------


def _mk(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "v DOUBLE")


@pytest.mark.parametrize("asc", [True, False])
def test_lazy_bucket_ids_match_eager(spark, asc):
    """The in-plan bounds frame must reproduce the literal path's bucket
    ids exactly: same percentile aggregate, same size(filter()) id, NULL
    keys pinned identically (asc -> 0, desc -> len(bounds))."""
    from harmonize_search_analyze_spark.operators import ordering as od

    vals = [1.0, 1.0, 2.5, 3.0, 3.0, 3.0, 7.5, 9.0, None, 4.2, 0.5]
    df = _mk(spark, vals)
    spec = [("v", asc)]
    eager_k, eager_bounds = od._bucket_boundaries(df, "v", asc, 4)
    tagged_eager = od._with_bucket(df, spec, 4, "pid", eager_bounds)
    bf = od._lazy_bounds_frame(df, spec, 4)
    tagged_lazy = od._with_bucket(df, spec, 4, "pid", None, bf)

    def key(frame):
        return sorted(
            ((r["v"], r["pid"]) for r in frame.collect()),
            key=lambda t: (t[0] is None, t[0]),
        )

    assert key(tagged_eager) == key(tagged_lazy)
    # lazy bucket ids are monotone in the sort order over non-null keys
    nn = [p for v, p in key(tagged_lazy) if v is not None]
    assert nn == sorted(nn) if asc else nn == sorted(nn, reverse=True)


def test_lazy_bounds_empty_and_constant_input(spark):
    from harmonize_search_analyze_spark.operators import ordering as od

    empty = _mk(spark, [])
    bf = od._lazy_bounds_frame(empty, [("v", True)], 4)
    out = od._with_bucket(empty, [("v", True)], 4, "pid", None, bf)
    assert out.count() == 0
    const = _mk(spark, [5.0] * 6)
    bf = od._lazy_bounds_frame(const, [("v", True)], 4)
    out = od._with_bucket(const, [("v", True)], 4, "pid", None, bf)
    assert {r["pid"] for r in out.collect()} == {0}


def test_lazy_bounds_frame_none_for_strings(spark):
    from harmonize_search_analyze_spark.operators import ordering as od

    df = spark.createDataFrame([("a",), ("b",)], "v STRING")
    assert od._lazy_bounds_frame(df, [("v", True)], 4) is None


def test_ntile_multi_rejects_string_axis(spark):
    from harmonize_search_analyze_spark.operators.ordering import ntile_multi

    df = spark.createDataFrame([("a", 1), ("b", 2)], "s STRING, v INT")
    with pytest.raises(ValueError, match="ntile_multi needs"):
        ntile_multi(df, {"t": [("s", True)], "u": [("v", True)]}, 2)


def test_prefix_sums_lazy_matches_eager(spark):
    from harmonize_search_analyze_spark.operators.ordering import (
        prefix_sums,
        sample_boundaries,
    )

    per = (
        _mk(spark, [3.0, 1.0, 2.0, 2.0, 9.0, 4.0, 4.0, 8.0])
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lazy = {r["v"]: r["cum"]
            for r in prefix_sums(per, ["v"], {"c": "cum"}).collect()}
    eager = {r["v"]: r["cum"]
             for r in prefix_sums(
                 per, ["v"], {"c": "cum"}, lazy_bounds=False).collect()}
    bounds = sample_boundaries(per, ["v"], num_partitions=4)["v"]
    explicit = {r["v"]: r["cum"]
                for r in prefix_sums(
                    per, ["v"], {"c": "cum"}, boundaries=bounds).collect()}
    assert lazy == eager == explicit
    ordered = sorted(lazy)
    assert [lazy[v] for v in ordered] == sorted(lazy[v] for v in ordered)
