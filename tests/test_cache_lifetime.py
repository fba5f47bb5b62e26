"""Storage lifetime of operator intermediates (``functions.caching``).

An intermediate an operator stores for its lazy plan must stay stored for
as long as any plan reads it, including frames the query or the caller
derives from the operator's result after the result itself is dropped.
The source guard keeps that one mechanism the only one in the operators.
"""

from __future__ import annotations

import ast
import gc
import pathlib
import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__
from harmonize_search_analyze_spark.operators.similarity import (
    embedding_near_dup_lsh,
)

OPERATORS = (pathlib.Path(__file__).resolve().parents[1]
             / "harmonize_search_analyze_spark" / "operators")

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


@pytest.mark.parametrize("path", sorted(OPERATORS.glob("*.py")),
                         ids=lambda p: p.name)
def test_operators_use_one_lifetime_mechanism(path):
    src = path.read_text()
    # the per-site A/B kept no scoped persist (PERFORMANCE.md decision 10)
    assert not re.search(r"\btether|\btransfer\(|\.persist\(|\.cache\(\)", src)
    for node in ast.walk(ast.parse(src)):
        if (isinstance(node, ast.ImportFrom) and node.module
                == "harmonize_search_analyze_spark.functions.caching"):
            assert {a.name for a in node.names} <= {"checkpoint", "release"}
