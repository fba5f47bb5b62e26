"""DSIR importance-resampling tests: selection shifts toward the target
distribution, weights are exact integers identical across engines and
partitionings, and the plan keeps the documented scale shape."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from harmonize_search_analyze_spark.operators.dsir import (
    dsir_sample,
    dsir_sample_sql,
    dsir_weights,
    dsir_weights_sql,
)


@pytest.fixture(scope="module")
def corpus(spark):
    # two clearly separated vocabularies: "good" docs speak apples,
    # "junk" docs speak widgets — the target predicate picks the apples
    rows = []
    for i in range(120):
        if i % 3 == 0:
            rows.append((i, "apple orchard ripe apple harvest sweet", "tgt"))
        else:
            rows.append((i, "widget sprocket gizmo widget flange bolt", "raw"))
    return spark.createDataFrame(rows, ["doc_id", "text", "kind"])


def test_selection_shifts_toward_target(corpus):
    picked = dsir_sample(corpus, "kind = 'tgt'", k=30, m=64).collect()
    ids = {r.doc_id for r in picked}
    tgt_share = sum(1 for i in ids if i % 3 == 0) / len(ids)
    # corpus share of target-looking docs is 1/3; resampling must enrich
    assert tgt_share > 0.8, tgt_share


def test_weights_order_and_sign(corpus):
    w = {r.doc_id: r.logw_micro for r in dsir_weights(
        corpus, "kind = 'tgt'", m=64).collect()}
    assert len(w) == 120
    tgt = [v for k, v in w.items() if k % 3 == 0]
    raw = [v for k, v in w.items() if k % 3 != 0]
    assert min(tgt) > max(raw)
    assert all(v > 0 for v in tgt) and all(v < 0 for v in raw)


def test_weights_partitioning_invariant(corpus):
    a = sorted(
        (r.doc_id, r.logw_micro)
        for r in dsir_weights(corpus, "kind = 'tgt'", m=64).collect()
    )
    b = sorted(
        (r.doc_id, r.logw_micro)
        for r in dsir_weights(
            corpus.repartition(7), "kind = 'tgt'", m=64
        ).collect()
    )
    assert a == b  # integer micro-nat sums: exact, order-free


def test_empty_text_doc_keeps_zero_weight(spark):
    df = spark.createDataFrame(
        [(1, "apple apple", "tgt"), (2, "", "raw"), (3, "widget", "raw")],
        ["doc_id", "text", "kind"],
    )
    w = {r.doc_id: (r.n_grams, r.logw_micro) for r in dsir_weights(
        df, "kind = 'tgt'", m=16).collect()}
    assert w[2] == (0, 0)
    assert len(w) == 3


def test_spark_sql_twin_matches_dataframe(corpus, spark):
    corpus.createOrReplaceTempView("dsir_docs")
    try:
        df_w = sorted(
            (r.doc_id, r.n_grams, r.logw_micro)
            for r in dsir_weights(corpus, "kind = 'tgt'", m=64).collect()
        )
        sql_w = sorted(
            (r.doc_id, r.n_grams, r.logw_micro)
            for r in spark.sql(
                dsir_weights_sql("dsir_docs", "kind = 'tgt'", "spark", m=64)
            ).collect()
        )
        assert df_w == sql_w
    finally:
        spark.catalog.dropTempView("dsir_docs")


def test_duckdb_twin_exact_weights(corpus):
    pdf = corpus.toPandas()
    con = duckdb.connect()
    con.register("dsir_docs", pdf)
    duck = sorted(
        map(tuple, con.execute(
            dsir_weights_sql("dsir_docs", "kind = 'tgt'", "duckdb", m=64)
        ).fetchall())
    )
    spark_side = sorted(
        (r.doc_id, r.n_grams, r.logw_micro)
        for r in dsir_weights(corpus, "kind = 'tgt'", m=64).collect()
    )
    assert duck == spark_side


def test_checkpointed_grams_match_duckdb_twin(spark):
    """The eagerly checkpointed gram frame feeds the fit and weight
    passes; weights stay identical to the DuckDB twin on the same rows."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} beta", i % 2 == 0)
         for i in range(12)],
        "doc_id LONG, text STRING, is_en BOOLEAN",
    )
    got = sorted(map(tuple, dsir_weights(docs, "is_en").collect()))
    con = duckdb.connect()
    con.register("dsir_bool_docs", docs.toPandas())
    want = sorted(map(tuple, con.execute(
        dsir_weights_sql("dsir_bool_docs", "is_en", "duckdb")
    ).fetchall()))
    assert got == want and len(got) == 12


def test_validation():
    from harmonize_search_analyze_spark.operators.dsir import (
        dsir_bucket_ratios,
    )

    with pytest.raises(ValueError):
        dsir_bucket_ratios(None, "x", m=0)
    with pytest.raises(ValueError):
        dsir_bucket_ratios(None, "x", alpha=0.0)
    with pytest.raises(ValueError):
        dsir_sample(None, "x", k=0)


def test_plan_shape_weight_pass(corpus):
    """Weight stage: ratio table broadcast onto the exploded grams, ONE
    row-volume hash-agg exchange on doc id (plus the metadata-sized
    fit-side exchanges), zero Python stages."""
    out = dsir_weights(corpus, "kind = 'tgt'", m=64)
    out.count()
    full = out._jdf.queryExecution().executedPlan().toString()
    p = full.split("== Initial Plan ==")[0]
    assert "Python" not in p, p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p


def test_sample_uses_takeordered(corpus):
    out = dsir_sample(corpus, "kind = 'tgt'", k=10, m=64)
    out.collect()
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p, p
