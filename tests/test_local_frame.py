"""local_frame (sources/tables.py): the one JVM-LocalRelation builder for
small driver-assembled frames (one Arrow batch) must be value-, wire-type-
and nullability-identical to spark.createDataFrame, collect without a job,
and fall back to createDataFrame whenever the schema is unknown or a cell is
outside the type allowlist."""

from __future__ import annotations

import datetime
import decimal
import warnings

import pytest
from pyspark.sql import types as T

from harmonize_search_analyze_spark.sources.tables import local_frame


def _same(spark, rows, schema):
    a = local_frame(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.dtypes == b.dtypes, (a.dtypes, b.dtypes)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    return a


def test_ddl_schema_identity(spark):
    _same(
        spark,
        [(0, "a", 1.5, 10), (1, "b", -2.25, 20)],
        "rank INT, piece STRING, logprob DOUBLE, total BIGINT",
    )


def test_name_list_schema_identity(spark):
    _same(spark, [(0, "en"), (1, "fr")], ["pos", "token"])


def test_struct_type_schema_identity(spark):
    schema = T.StructType([
        T.StructField("dict_field", T.StringType()),
        T.StructField("dict_vartype", T.StringType()),
    ])
    _same(spark, [("a", "Continuous"), ("b", "Class")], schema)


def test_string_escaping_and_nulls(spark):
    rows = [
        ("it's", None),
        ('say "hi"\nnewline\ttab', 1),
        ("back\\slash ; -- comment :p0 ${x}", 2),
    ]
    _same(spark, rows, "s STRING, n BIGINT")


def test_bool_and_temporal_cells(spark):
    rows = [
        (True, datetime.date(2020, 2, 29),
         datetime.datetime(2021, 3, 4, 5, 6, 7, 250000)),
        (False, None, None),
    ]
    _same(spark, rows, "b BOOLEAN, d DATE, ts TIMESTAMP")


def test_fast_path_is_local_relation(spark):
    df = local_frame(spark, [(1, "x")], "i INT, s STRING")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert "Scan ExistingRDD" not in plan


def test_fallback_on_empty_rows(spark):
    df = local_frame(spark, [], "i INT, s STRING")
    assert df.dtypes == [("i", "int"), ("s", "string")]
    assert df.count() == 0


def test_fallback_on_array_cells(spark):
    # an array of arrays, or an array cell holding a mistyped element, is
    # outside the allowlist: createDataFrame builds it
    for rows, ddl in [
        ([(0, [[1.0], [2.0, 3.0]])], "i INT, m ARRAY<ARRAY<DOUBLE>>"),
        ([(0, (1.0, 2.0))], "i INT, v ARRAY<DOUBLE>"),
    ]:
        df = _same(spark, rows, ddl)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" not in plan  # took the createDataFrame path


def _collect_jobs(spark, df) -> tuple[list, int]:
    sc = spark.sparkContext
    group = f"local-frame-{id(df)}"
    try:
        sc.setJobGroup(group, "collect")
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_param_overflow_takes_arrow_local_relation(spark):
    # 4 cols -> well over the cap (day_hour_pie's 7 x 24 x 4 shape);
    # NULLs in every column, timestamps on both sides of a DST change
    rows = [
        (i if i % 5 else None, i / 3 if i % 7 else None,
         f"s{i}" if i % 3 else None,
         datetime.datetime(2021, 3, 14, 1, 30) + datetime.timedelta(hours=i)
         if i % 4 else None)
        for i in range(168)
    ]
    schema = "n BIGINT, x DOUBLE, s STRING, ts TIMESTAMP"
    df = local_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert df.dtypes == ref.dtypes
    got, jobs = _collect_jobs(spark, df)
    assert got == ref.collect()  # same rows, same order
    assert jobs == 0
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation")


def test_empty_rows_collect_without_job(spark):
    df = local_frame(spark, [], "i INT, s STRING")
    assert df.dtypes == [("i", "int"), ("s", "string")]
    assert _collect_jobs(spark, df) == ([], 0)


def test_generator_rows_materialize_once(spark):
    df = local_frame(spark, ((i, f"s{i}") for i in range(3)), ["i", "s"])
    assert sorted(map(tuple, df.collect())) == [(0, "s0"), (1, "s1"), (2, "s2")]


def test_bare_atomic_ddl_falls_back(spark):
    a = local_frame(spark, [1, 2], "long")
    b = spark.createDataFrame([1, 2], "long")
    assert a.dtypes == b.dtypes
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_type_mismatch_not_silently_coerced(spark):
    # createDataFrame rejects a stringified number into BIGINT; the
    # drop-in must surface the SAME error, not CAST-coerce it
    import pytest
    from pyspark.errors import PySparkTypeError

    with pytest.raises(PySparkTypeError):
        spark.createDataFrame([("5",)], "n BIGINT")
    with pytest.raises(PySparkTypeError):
        local_frame(spark, [("5",)], "n BIGINT")


def test_bool_not_coerced_into_bigint(spark):
    import pytest
    from pyspark.errors import PySparkTypeError

    with pytest.raises(PySparkTypeError):
        spark.createDataFrame([(True,)], "n BIGINT")
    with pytest.raises(PySparkTypeError):
        local_frame(spark, [(True,)], "n BIGINT")


def test_empty_pairs_connected_components(spark):
    # regression: observe() SUM over an empty frame is NULL; the CC loop
    # must terminate immediately, not spin to max_iters and raise
    from harmonize_search_analyze_spark.operators.dedup import (
        connected_components,
    )

    empty = spark.createDataFrame([], "id1 long, id2 long")
    assert connected_components(empty).collect() == []


def test_name_list_mixed_column_falls_back(spark):
    # int + float in one column: the inference bails to createDataFrame,
    # which itself rejects the merge — the drop-in surfaces the SAME error
    import pytest
    from pyspark.errors import PySparkTypeError

    rows = [(1,), (2.5,)]
    with pytest.raises(PySparkTypeError):
        spark.createDataFrame(rows, ["x"])
    with pytest.raises(PySparkTypeError):
        local_frame(spark, rows, ["x"])


@pytest.mark.parametrize("cells", [2, 20, 60, 256, 960])
def test_every_size_is_one_local_relation(spark, cells):
    # 2 columns, 1 to 480 rows, a NULL in each column
    rows = [(i if i % 7 else None, f"k{i}" if i % 5 else None)
            for i in range(cells // 2)]
    schema = "n BIGINT, s STRING"
    df = local_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert df.dtypes == ref.dtypes
    got, jobs = _collect_jobs(spark, df)
    assert got == ref.collect()
    assert jobs == 0
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation")


def test_every_allowlisted_type_and_array_cells(spark):
    rows = [
        (decimal.Decimal("1234567.125"), b"\x00\xff",
         datetime.date(1999, 12, 31), -128, 32767, 1.5, True,
         [1.0, None, -2.5], ["a", None, ""]),
        (None, b"", None, 127, None, None, False, [], []),
        (decimal.Decimal("-0.001"), None, datetime.date(1970, 1, 1), None,
         -32768, -0.25, None, None, None),
    ]
    ddl = ("d DECIMAL(10,3), b BINARY, dt DATE, t TINYINT, sm SMALLINT, "
           "f FLOAT, bo BOOLEAN, av ARRAY<DOUBLE>, as_ ARRAY<STRING>")
    df = local_frame(spark, rows, ddl)
    ref = spark.createDataFrame(rows, ddl)
    assert df.dtypes == ref.dtypes
    got, jobs = _collect_jobs(spark, df)
    assert got == ref.collect()
    assert jobs == 0
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation")


def test_schema_matches_ddl_nullability_included(spark):
    # no NULL cell in any column: still nullable, as createDataFrame makes it
    ddl = "rank INT, piece STRING, logprob DOUBLE"
    df = local_frame(spark, [(0, "a", 1.5), (1, "b", 2.0)], ddl)
    assert df.schema == T.StructType.fromDDL(ddl)
    assert df.schema == spark.createDataFrame([], ddl).schema
    assert local_frame(spark, [], ddl).schema == T.StructType.fromDDL(ddl)


def test_decimal_past_the_scale_falls_back_silently(spark):
    # more fractional digits than DECIMAL(10,3) holds: Arrow refuses the
    # rescale, so the cell takes createDataFrame's rounding, with no warning
    rows = [(decimal.Decimal("1.23456"),), (decimal.Decimal("2.5"),)]
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        got = local_frame(spark, rows, "d DECIMAL(10,3)").collect()
    assert got == spark.createDataFrame(rows, "d DECIMAL(10,3)").collect()
    assert [r.d for r in got] == [decimal.Decimal("1.235"),
                                  decimal.Decimal("2.500")]
