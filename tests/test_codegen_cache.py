"""Spark's generated-code cache (``spark.sql.codegen.cache.maxEntries``,
set in session.get_spark): the engine's repeated entries must find their
classes still cached instead of re-running Janino and the JIT on every
call. The cache's default of 100 entries is smaller than one curation pass
(130-145 classes), so with it every entry evicts the next one's classes."""

from __future__ import annotations

from pyspark.sql import functions as F


def _compiles(spark) -> int:
    """Classes Spark has compiled in this JVM (one per codegen cache miss)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _projection(spark, i):
    # the literal is inlined into the generated code: new classes per value
    return spark.range(10).select((F.col("id") * F.lit(i)).alias("x"))


def test_cache_cap_is_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_working_set_above_default_cap_stays_cached(spark):
    base = 7_000_000  # literals no other test uses
    for i in range(150):
        assert _projection(spark, base + i).collect()[-1].x == 9 * (base + i)
    before = _compiles(spark)
    for i in range(20):
        _projection(spark, base + i).collect()
    assert _compiles(spark) == before


def test_k_core_rerun_reuses_generated_classes(spark):
    from harmonize_search_analyze_spark.operators.graph import k_core

    # K4 core {1,2,3,4} + a path tendril 4-5-6 that peels away over several
    # iterations; a value that differs per call (an object id, a counter)
    # inlined into an iteration's generated code would recompile every call
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        ["src", "dst"],
    )
    first = k_core(edges, k=3, iters=4).collect()
    before = _compiles(spark)
    second = k_core(edges, k=3, iters=4).collect()
    # AQE may pick the other build side of a join on a rerun, which is a
    # new class; anything more is code generated per call
    assert _compiles(spark) - before <= 5
    assert second == first
    assert [r.node for r in second] == [1, 2, 3, 4]
