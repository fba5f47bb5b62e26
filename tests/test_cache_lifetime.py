"""Storage lifetime of operator intermediates (``functions.caching``).

An intermediate an operator stores for its lazy plan must stay stored for
as long as any plan reads it, including frames the query or the caller
derives from the operator's result after the result itself is dropped.
``release`` frees every checkpoint an operator made, its loops' included,
and a stream's epoch frees its own. The source guards keep that one
mechanism the only one in the operators and the streams, and
``sources.tables.local_frame`` the one builder of driver-assembled frames.
"""

from __future__ import annotations

import ast
import gc
import pathlib
import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__
from harmonize_search_analyze_spark.functions.caching import release
from harmonize_search_analyze_spark.operators import analytics, dedup, graph
from harmonize_search_analyze_spark.operators.similarity import (
    embedding_near_dup_lsh,
)

PACKAGE = (pathlib.Path(__file__).resolve().parents[1]
           / "harmonize_search_analyze_spark")
OPERATORS = PACKAGE / "operators"

# queries whose plan derives a new frame from an operator result that
# stores an intermediate, and then drops the result
DERIVED = ["roc_auc", "pr_curve", "mann_whitney", "kruskal_wallis",
           "rfm_segments", "negative_sampling", "shard_manifest",
           "embedding_lsh"]


def _reads_stored(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "InMemoryTableScan" in plan or "Scan ExistingRDD" in plan


@pytest.mark.parametrize("name", DERIVED)
def test_query_plan_reads_its_stored_intermediate(spark, name):
    df = __spark_entry__.queries()[name](spark, __spark_entry__.SF0001)
    gc.collect()
    df.collect()
    assert _reads_stored(df)


def test_derived_frame_keeps_the_checkpoint(spark):
    # built from a range, so the only stored scan is the operator's
    vecs = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") + j) for j in range(16)])
        .alias("embedding"),
    )
    out = embedding_near_dup_lsh(vecs, threshold=0.99, dim=16,
                                 n_bands=4, bits_per_band=4)
    ids = out.select(F.col("id1"))
    del out
    gc.collect()
    ids.collect()
    assert _reads_stored(ids)


def _edges(spark):
    # i -> i+1, i+2, i+3 (mod 8): degree 6, with triangles; nodes 8 and 9
    # hang off it with degree 1, so k_core peels
    ring = spark.range(24).select(
        (F.col("id") % 8).alias("src"),
        ((F.col("id") % 8 + F.floor(F.col("id") / 8) + 1) % 8).alias("dst"),
    )
    return ring.unionByName(
        spark.range(8, 10).select(
            F.col("id").alias("src"), (F.col("id") - 8).alias("dst")
        )
    )


# operators whose loops or intermediates store checkpoints, on small inputs
RELEASED = {
    "pagerank": lambda s: graph.pagerank(_edges(s)),
    "k_core": lambda s: graph.k_core(_edges(s), k=3),
    "triangle_count": lambda s: graph.triangle_count(_edges(s)),
    "markov_stationary": lambda s: analytics.markov_stationary(
        s.range(40).select(
            (F.col("id") % 4).alias("user"),
            F.col("id").alias("ts"),
            (F.col("id") * 7 % 3).alias("event"),
            F.col("id").alias("event_id"),
        ),
        "user", "ts", "event",
    ),
    "connected_components": lambda s: dedup.connected_components(
        s.range(12).select(
            F.col("id").alias("id1"), (F.col("id") + 1).alias("id2")
        )
    ),
    # 10 nodes, i -> 3i+1 (mod 10): eager edge and node checkpoints
    "hits_scores": lambda s: graph.hits_scores(
        s.range(20).select(
            (F.col("id") % 10).alias("src"),
            ((F.col("id") * 3 + 1) % 10).alias("dst"),
        )
    ),
    "graph_explore": lambda s: graph.graph_explore(
        s.range(20).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", F.lit("seed"), (F.col("id") % 5).cast("string"),
                        (F.col("id") % 3 + 10).cast("string")).alias("text"),
        ),
        "text", "seed", min_doc_count=1,
    ),
}


def _stored(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


@pytest.mark.parametrize("name", sorted(RELEASED))
def test_release_frees_every_checkpoint_the_operator_made(spark, name):
    # the ContextCleaner only ever removes entries, so whatever is stored
    # after release and was not before is the operator's leak
    before = _stored(spark)
    out = RELEASED[name](spark)
    assert out.collect()
    release(out)
    assert _stored(spark) <= before


def test_stream_epochs_release_their_checkpoints(spark, tmp_path):
    # two micro-batches through the SCD2 upsert: each epoch's eager
    # checkpoint is freed once its write is done
    import datetime as dt

    from pyspark.sql import types as T

    from harmonize_search_analyze_spark.streaming.windows import (
        read_document_stream,
        scd2_upsert_stream,
    )

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("seg", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src = tmp_path / "src"
    for wave, mode in [([(1, "a", dt.datetime(2025, 1, 1)),
                         (2, "b", dt.datetime(2025, 1, 1))], "overwrite"),
                       ([(2, "c", dt.datetime(2025, 2, 1))], "append")]:
        spark.createDataFrame(wave, schema).coalesce(1).write.mode(
            mode).parquet(str(src))
    before = _stored(spark)
    q = scd2_upsert_stream(
        read_document_stream(spark, str(src), schema),
        str(tmp_path / "dim"), str(tmp_path / "ckpt"),
        id_col="id", tracked=["seg"], ts_col="ts",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.read.parquet(str(tmp_path / "dim")).count() == 3
    assert _stored(spark) <= before


@pytest.mark.parametrize(
    "path",
    sorted(OPERATORS.glob("*.py"))
    + sorted((PACKAGE / "streaming").glob("*.py")),
    ids=lambda p: p.name,
)
def test_operators_use_one_lifetime_mechanism(path):
    src = path.read_text()
    assert not re.search(r"\btether|\btransfer\(|\.cache\(\)", src)
    # the per-site A/B kept no persist in the operators (PERFORMANCE.md
    # decision 10); a stream's persist is scoped to one micro-batch
    if path.parent == OPERATORS:
        assert ".persist(" not in src
    else:
        assert src.count(".persist(") == src.count(".unpersist(")
    # a raw checkpoint, lazy or eager, is one release cannot free
    assert ".localCheckpoint(" not in src
    # fixpoints are caching.iterate's; Observation stays only for metrics
    if path.name in ("dedup.py", "graph.py"):
        assert "Observation" not in src
    for node in ast.walk(ast.parse(src)):
        if (isinstance(node, ast.ImportFrom) and node.module
                == "harmonize_search_analyze_spark.functions.caching"):
            assert ({a.name for a in node.names}
                    <= {"checkpoint", "iterate", "release"})


def test_driver_frames_have_one_builder():
    """Driver-assembled frames are built by ``sources.tables.local_frame``
    only: no other module calls createDataFrame or builds a VALUES
    statement."""
    found = [
        f"{p.relative_to(PACKAGE)}:{n}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.relative_to(PACKAGE).as_posix() != "sources/tables.py"
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "createDataFrame(" in line or 'spark.sql("VALUES' in line
    ]
    assert found == []
