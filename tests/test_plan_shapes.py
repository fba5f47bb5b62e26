"""Plan-shape regression tests for the round-2 operators: assert the
EXECUTED plan has the scale shape each docstring promises (shuffle counts,
pushed filters, no Python in filter-only paths). A correctness-fine but
shape-regressed operator fails here before it fails a 100x scale-up."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    """Executed plan text, FINAL plan only (AQE prints the initial plan
    too, which double-counts every Exchange)."""
    full = df._jdf.queryExecution().executedPlan().toString()
    return full.split("== Initial Plan ==")[0]


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"alpha beta gamma doc{i}", "src" + str(i % 3))
            for i in range(200)]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_mix_sources_is_map_only(docs):
    """Domain mixing must stay a scan+filter — zero exchanges, zero
    Python stages."""
    from harmonize_search_analyze_spark.operators.sampling import mix_sources

    out = mix_sources(docs, "source", {"src0": 1.0, "src1": 0.5}, "doc_id")
    out.count()
    p = _plan(out)
    assert "Exchange" not in p, p
    assert "Python" not in p, p


def test_upsample_is_map_only(docs):
    from harmonize_search_analyze_spark.operators.sampling import (
        upsample_sources,
    )

    out = upsample_sources(docs, "source", {"src0": 2.0}, "doc_id")
    out.count()
    p = _plan(out)
    assert "Exchange" not in p, p


def test_percolate_single_scan_no_exchange(docs):
    """All stored queries evaluate in one codegen'd projection."""
    from harmonize_search_analyze_spark.plans.compiler import percolate

    stored = {
        "a": {"prefix": {"text": "alpha"}},
        "b": {"wildcard": {"source": "src?"}},
    }
    out = percolate(docs, stored, ["doc_id"])
    out.count()
    p = _plan(out)
    assert "Exchange" not in p, p
    assert "Python" not in p, p


def test_geotile_grid_single_exchange(docs, spark):
    """scan -> codegen projection -> partial/final hash agg: exactly one
    exchange, TakeOrdered for the top-k."""
    from harmonize_search_analyze_spark.operators.aggregations import (
        geotile_grid,
    )

    df = spark.createDataFrame(
        [(40.0 + i * 0.1, -74.0 + i * 0.1) for i in range(50)],
        ["lat", "lon"],
    )
    out = geotile_grid(df, "lat", "lon", zoom=7, k=5)
    out.collect()
    p = _plan(out)
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "TakeOrderedAndProject" in p, p


def test_matrix_stats_single_aggregation_pass(spark):
    """The whole k x k matrix rides ONE aggregate (single exchange to the
    1-row final agg), then a constant-fanout generate."""
    from harmonize_search_analyze_spark.operators.aggregations import (
        matrix_stats,
    )

    df = spark.createDataFrame(
        [(float(i), float(i * 2), float(i % 3)) for i in range(100)],
        ["x", "y", "z"],
    )
    out = matrix_stats(df, ["x", "y", "z"])
    out.collect()
    p = _plan(out)
    assert p.count("Exchange") <= 2, p  # partial->final single-partition + sort
    assert "Python" not in p, p


def test_funnel_single_user_shuffle(spark):
    """The per-user conditional-MIN agg is the only wide stage."""
    import datetime as dt

    from harmonize_search_analyze_spark.operators.analytics import funnel

    df = spark.createDataFrame(
        [(i % 10, "view" if i % 2 else "click",
          dt.datetime(2025, 1, 1 + i % 20)) for i in range(200)],
        ["user_id", "event_type", "ts"],
    )
    steps = [
        ("view", F.col("event_type") == "view"),
        ("click", F.col("event_type") == "click"),
    ]
    out = funnel(df, steps)
    rows = out.collect()
    assert rows[0]["users"] > 0


def test_highlight_no_python_stage(docs):
    from harmonize_search_analyze_spark.operators.text import highlight

    out = docs.select("doc_id", highlight("text", "beta").alias("s"))
    out.count()
    p = _plan(out)
    assert "Exchange" not in p and "Python" not in p, p


def test_line_dedup_two_wide_stages(docs):
    """One line-key window shuffle + one doc-reassembly agg shuffle — and
    nothing else wide."""
    from harmonize_search_analyze_spark.operators.dedup import line_dedup

    out = line_dedup(docs, "doc_id", "text")
    out.count()
    p = _plan(out)
    assert p.count("Exchange hashpartitioning") == 2, p


def test_weighted_sample_takeordered_no_shuffle(docs, spark):
    """A-ES draw must be priority projection + TakeOrderedAndProject —
    never a full sort or an exchange."""
    from harmonize_search_analyze_spark.operators.sampling import (
        weighted_sample,
    )

    df = docs.withColumn("w", (F.col("doc_id") % 7 + 1).cast("double"))
    out = weighted_sample(df, "w", 10, "doc_id")
    out.collect()
    p = _plan(out)
    assert "TakeOrderedAndProject" in p, p
    assert "Exchange hashpartitioning" not in p, p
    assert "Sort " not in p, p


def test_collapse_single_window_exchange(spark):
    from harmonize_search_analyze_spark.operators.aggregations import (
        collapse,
    )

    df = spark.createDataFrame(
        [("g" + str(i % 5), i, float(i % 13)) for i in range(100)],
        ["grp", "id", "score"],
    )
    out = collapse(df, "grp", "score", k=3, tie_col="id")
    out.collect()
    p = _plan(out)
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "TakeOrderedAndProject" in p, p


def test_geo_line_bounds_state_before_collect(spark):
    """The row_number truncation window must run BEFORE the collect_list
    agg (bounded per-group state), share its exchange with the agg (one
    shuffle total), and keep results identical to sort-then-slice."""
    from harmonize_search_analyze_spark.operators.aggregations import (
        geo_line,
    )

    rows = [("t1", 40.0 + i * 0.01, -70.0, i) for i in range(50)]
    df = spark.createDataFrame(rows, ["grp", "lat", "lon", "seq"])
    out = geo_line(df, "grp", "lat", "lon", "seq", max_points=5)
    got = out.collect()
    assert got[0]["n_points"] == 5
    # first 5 points in seq order survive the truncation
    assert got[0]["line"][0] == [-70.0, 40.0]
    assert got[0]["line"][4] == [-70.0, 40.04]
    p = _plan(out)
    assert "Window" in p, p
    # the optimizer turns row_number()<=k into WindowGroupLimit with a
    # PARTIAL pre-shuffle pass: each mapper ships at most max_points rows
    # per group — the state bound holds before the exchange, not just
    # before the collect
    assert "WindowGroupLimit" in p, p
    assert "Partial" in p.split("WindowGroupLimit")[-1] or \
        p.count("WindowGroupLimit") == 2, p
    # exactly two shuffles: the shared group-key hash exchange (window +
    # agg reuse it) and the final orderBy range exchange
    assert p.count("Exchange") == 2, p
    # and the Window node sits below the final aggregate in the tree
    assert p.index("ObjectHashAggregate") < p.index("Window"), p


@pytest.mark.slow
def test_percolate_600_queries_single_stage(spark):
    """VERDICT r2 item 8: percolation with hundreds of stored queries
    stays ONE scan + ONE projection — no exchange, no Python stage, no
    per-query pass — with the match array built in bounded chunks."""
    from harmonize_search_analyze_spark.plans.compiler import percolate

    df = spark.createDataFrame(
        [(i, f"cat{i % 7}", float(i)) for i in range(500)],
        ["doc_id", "category", "price"],
    )
    stored = {}
    for q in range(600):
        stored[f"alert_{q:04d}"] = {
            "bool": {"must": [
                {"term": {"category": f"cat{q % 7}"}},
                {"range": {"price": {"gte": q % 100}}},
            ]}
        }
    out = percolate(df, stored, ["doc_id"])
    rows = out.collect()
    assert rows  # matches exist
    # spot-check one (doc, query): doc 10 is cat3, price 10.0 — alert_0003
    # wants cat3 and price >= 3
    matched = {(r["doc_id"], r["query_id"]) for r in rows}
    assert (10, "alert_0003") in matched
    assert (10, "alert_0011") not in matched  # wants cat4; doc 10 is cat3
    p = _plan(out)
    assert "Exchange" not in p, p
    assert "Python" not in p, p


def test_percolate_chunking_matches_unchunked(spark):
    """Chunked evaluation (chunk_size=8) returns exactly the single-array
    result for the same query set."""
    from harmonize_search_analyze_spark.plans.compiler import percolate

    df = spark.createDataFrame(
        [(i, f"cat{i % 3}") for i in range(30)], ["doc_id", "category"]
    )
    stored = {f"q{j}": {"term": {"category": f"cat{j % 3}"}}
              for j in range(20)}
    one = {(r["doc_id"], r["query_id"]) for r in
           percolate(df, stored, ["doc_id"], chunk_size=10_000).collect()}
    chunked = {(r["doc_id"], r["query_id"]) for r in
               percolate(df, stored, ["doc_id"], chunk_size=8).collect()}
    assert chunked == one and one


def test_substring_dedup_wide_stages_bounded(docs):
    """Gram-key window + deleted-distinct + anti-join + reassembly: the
    wide stages are fixed in number (no per-window explode of k tokens
    before the shuffle) and no Python stage appears."""
    from harmonize_search_analyze_spark.operators.dedup import (
        substring_dedup,
    )

    out = substring_dedup(docs, "doc_id", "text", k=3)
    out.count()
    p = _plan(out)
    assert "Python" not in p, p
    # the sliding windows ride ONE generate over the transform'd array
    # (gram structs), plus one for deleted-position expansion and one for
    # the token rows — never tokens x windows
    assert p.count("Generate") <= 3, p
    assert p.count("Exchange hashpartitioning") <= 5, p


def test_quality_mix_is_map_only(docs):
    """Quality-banded sampling is a scan+filter: the score and the hash
    threshold are pure column expressions — zero exchanges, zero Python."""
    from harmonize_search_analyze_spark.operators.sampling import quality_mix

    out = quality_mix(docs, "text", "doc_id", cuts=[0.5], rates=[1.0, 0.2])
    out.count()
    p = _plan(out)
    assert "Exchange" not in p, p
    assert "Python" not in p, p


def test_token_budget_sample_single_source_exchange(docs):
    """Budget enforcement is ONE window shuffle keyed by source — the
    prefix sum and the per-source budget resolve in the same stage."""
    from harmonize_search_analyze_spark.operators.sampling import (
        token_budget_sample,
    )

    out = token_budget_sample(
        docs, "source", {"src0": 50}, "doc_id", "text", default_budget=40
    )
    out.count()
    p = _plan(out)
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Python" not in p, p


def test_incremental_dedup_anti_join_no_python(docs, spark):
    """Digest anti-join + one batch-side agg; corpus side reads only the
    digest projection (column pruning must reach the scan)."""
    from harmonize_search_analyze_spark.operators.dedup import (
        incremental_dedup,
    )

    batch = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    out = incremental_dedup(batch, corpus, "doc_id", "text")
    out.count()
    p = _plan(out)
    assert "LeftAnti" in p, p
    assert "Python" not in p, p


def test_fuzzy_decontaminate_broadcasts_bench_side(docs, spark):
    """The benchmark side must broadcast at BOTH joins (candidate
    generation and shingle verification) — the corpus side never
    self-joins or broadcasts."""
    from harmonize_search_analyze_spark.operators.contamination import (
        fuzzy_decontaminate,
    )

    bench = (
        docs.where(F.col("doc_id") % 50 == 0)
        .select(F.col("doc_id").alias("bench_id"), "text")
    )
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    out = fuzzy_decontaminate(corpus, bench, threshold=0.5)
    out.count()
    p = _plan(out)
    assert p.count("BroadcastExchange") >= 2, p
    assert "CartesianProduct" not in p, p


def test_mrl_topk_two_takeordered_stages(spark):
    """Both ranking stages are TakeOrderedAndProject (no global sort);
    the rerank joins the bounded shortlist back, it never rescans
    all-pairs."""
    from harmonize_search_analyze_spark.operators.similarity import mrl_topk

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0, 0.5]) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    out = mrl_topk(emb, "embedding", [1.0, 0.2, 0.3, 0.4], dims=2, k=5)
    out.collect()
    p = _plan(out)
    assert p.count("TakeOrderedAndProject") == 2, p
    assert "Sort " not in p or "SortMergeJoin" in p, p


def test_intervals_single_projection_no_join(docs):
    """Position-aware matching stays one codegen'd projection: no
    explode-generated row expansion, no join, no pre-agg exchange."""
    from harmonize_search_analyze_spark.plans.compiler import compile_query

    out = docs.where(compile_query({"intervals": {"text.split": {
        "match": {"query": "alpha beta", "ordered": True, "max_gaps": 1}}}}))
    out.count()
    p = _plan(out)
    assert "Exchange" not in p, p
    assert "Generate" not in p, p
    assert "Join" not in p, p
    assert "Python" not in p, p


def test_random_sampler_filter_before_exchange(docs):
    """The p-cut must be a residual filter on the scan side — the shuffle
    sees only sampled rows."""
    from harmonize_search_analyze_spark.operators.aggregations import (
        random_sampler_terms,
    )

    out = random_sampler_terms(docs, "source", "doc_id", probability=0.5)
    out.collect()
    p = _plan(out)
    assert "TakeOrderedAndProject" in p, p
    assert "Python" not in p, p
    # exactly one row-volume exchange (the terms agg)
    assert p.count("Exchange hashpartitioning") == 1, p


def test_rescore_two_takeordered_cascade(docs):
    from harmonize_search_analyze_spark.operators.ranking import rescore
    from pyspark.sql import functions as F

    hits = docs.select("doc_id", F.length("text").alias("score"), "text")
    out = rescore(hits, "score", F.length("text") * 2, window_size=20, k=5)
    out.collect()
    p = _plan(out)
    assert p.count("TakeOrderedAndProject") == 2, p
    assert "Exchange hashpartitioning" not in p, p


def test_search_after_cursor_pushed_to_scan(spark, tmp_path):
    """The keyset cursor must reach the parquet scan as a pushed filter."""
    from harmonize_search_analyze_spark.operators.ranking import search_after

    path = str(tmp_path / "sa.parquet")
    spark.range(1000).selectExpr(
        "id AS doc_id", "CAST(id % 97 AS DOUBLE) AS s"
    ).write.parquet(path)
    df = spark.read.parquet(path)
    out = search_after(df, "s", (50.0, 10), id_col="doc_id", size=5)
    out.collect()
    p = _plan(out)
    assert "TakeOrderedAndProject" in p, p
    pushed = p.split("PushedFilters: [", 1)
    assert len(pushed) == 2, p
    # the sort-key strict inequality reaches the scan (Or(LessThan..))
    assert "LessThan" in pushed[1].split("]")[0], p


def test_unimax_single_source_agg_plus_broadcast(docs):
    """Water-fill allocation: one exchange for the per-source totals (the
    window over it is source-cardinality-sized), broadcast join back,
    epoch explode — and nothing else touching row volume."""
    from harmonize_search_analyze_spark.operators.sampling import (
        unimax_sample,
    )

    out = unimax_sample(docs, "source", "doc_id", budget=100.0)
    out.count()
    p = _plan(out)
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p
    assert "Python" not in p, p


def test_term_suggest_vocab_agg_broadcast_queries(docs):
    from harmonize_search_analyze_spark.operators.ranking import term_suggest

    out = term_suggest(docs, "text", "alpah", k=2)
    out.collect()
    p = _plan(out)
    # query-token side broadcasts; corpus text never re-shuffles beyond
    # the vocab agg + the per-token rank window over candidates
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p
    assert "Python" not in p, p


def test_has_child_semi_join_fast_path(spark, tmp_path):
    """min_children=1 must be ONE LeftSemi join with the child predicate
    pushed to the child scan — no aggregation exchange at all."""
    from harmonize_search_analyze_spark.operators.joins import has_child

    pdir = str(tmp_path / "p")
    cdir = str(tmp_path / "c")
    spark.createDataFrame(
        [(i, "s") for i in range(100)], ["pk", "seg"]
    ).write.parquet(pdir)
    spark.createDataFrame(
        [(i, i % 50, "x" if i % 2 else "y") for i in range(400)],
        ["ck", "fk", "tag"],
    ).write.parquet(cdir)
    parent = spark.read.parquet(pdir)
    child = spark.read.parquet(cdir)

    out = has_child(parent, child, parent_key="pk", child_key="fk",
                    child_pred=F.col("tag") == "x")
    out.count()
    p = _plan(out)
    assert "LeftSemi" in p, p
    assert "HashAggregate" not in p, p
    assert "PushedFilters: [IsNotNull(tag), EqualTo(tag,x)" in p, p

    # counted path: the child aggregates BEFORE the join (bounded by
    # distinct parents), still semi-join output
    out2 = has_child(parent, child, parent_key="pk", child_key="fk",
                     child_pred=F.col("tag") == "x", min_children=2,
                     max_children=5)
    out2.count()
    p2 = _plan(out2)
    assert "LeftSemi" in p2, p2
    assert "HashAggregate" in p2, p2


def test_rank_feature_scan_prunes_columns(spark, tmp_path):
    """The score projection must read ONLY (id, field) from the scan and
    end in TakeOrderedAndProject — never a full sort."""
    from harmonize_search_analyze_spark.operators.ranking import (
        rank_feature,
    )

    d = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"t{i}", "s", i * 3) for i in range(300)],
        ["doc_id", "text", "source", "n_chars"],
    ).write.parquet(d)
    out = rank_feature(spark.read.parquet(d), "n_chars", pivot=100.0, k=5)
    out.count()
    p = _plan(out)
    assert "TakeOrderedAndProject" in p, p
    assert "ReadSchema: struct<doc_id:bigint,n_chars:bigint>" in p, p
    assert "Python" not in p, p


def test_batch_by_length_window_keyed_by_shard(docs):
    """The rank window must partition on (bucket, shard) — ONE exchange
    on the composite key, no global per-bucket sort."""
    from harmonize_search_analyze_spark.operators.packing import (
        batch_by_length,
    )

    df = docs.withColumn("n", F.length("text"))
    out = batch_by_length(df, "doc_id", "n", boundaries=[20, 30],
                          batch_size=8, n_shards=4)
    out.count()
    p = _plan(out)
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "bucket" in p and "__shard" in p, p
    assert "Python" not in p, p


def test_scripted_metric_single_agg_map_side(docs):
    """One hash aggregation (partial + final = same operator twice), the
    map script inside the projection, no extra exchange."""
    from harmonize_search_analyze_spark.operators.aggregations import (
        scripted_metric,
    )

    out = scripted_metric(
        docs, "CASE WHEN source = 'src0' THEN 1 ELSE -1 END",
        combine="sum", group_by=["source"],
    )
    out.count()
    p = _plan(out)
    assert p.count("Exchange hashpartitioning") <= 2, p  # agg + sort
    assert "Python" not in p, p


def test_analyze_chain_single_projection(docs):
    """The whole analyzer chain is one codegen'd projection: no Python
    stage, no exchange before the explode+agg, and the let-binding keeps
    it a single Generate over the scan."""
    from harmonize_search_analyze_spark.functions.analyze import analyze

    out = docs.select(F.explode(analyze("text", filters=[
        "lowercase", ("stop", {}), ("shingle", {}),
    ])).alias("tok"))
    out.count()
    p = _plan(out)
    assert "Exchange" not in p, p
    assert "Python" not in p, p
    assert p.count("Generate") == 1, p


def test_ingest_pipeline_map_only_filter_fused(docs):
    """A processor chain is one projection+filter over the scan — zero
    exchanges, zero Python; drop compiles to a plain Filter."""
    from harmonize_search_analyze_spark.operators.ingest_pipeline import (
        run_pipeline,
    )

    out = run_pipeline(docs, [
        {"grok": {"field": "text",
                  "pattern": "%{WORD:w1} %{GREEDYDATA:rest}"}},
        {"uppercase": {"field": "w1"}},
        {"convert": {"field": "doc_id", "type": "string",
                     "target_field": "id_s"}},
        {"drop": {"if": "source = 'src2'"}},
    ])
    out.count()
    p = _plan(out)
    assert "Exchange" not in p, p
    assert "Python" not in p, p
    assert "Filter" in p, p


def test_bbq_two_takeordered_stages(spark):
    """bbq_topk = Hamming TakeOrdered shortlist -> cosine TakeOrdered
    rerank; no global sort, no Python."""
    import math

    from harmonize_search_analyze_spark.operators.similarity import bbq_topk

    df = spark.createDataFrame(
        [(i, [math.sin(i + j) for j in range(8)]) for i in range(100)],
        ["vec_id", "embedding"],
    )
    out = bbq_topk(df, [0.5] * 8, k=3, shortlist=10)
    out.count()
    p = _plan(out)
    assert p.count("TakeOrderedAndProject") == 2, p
    assert "Sort " not in p, p
    assert "Python" not in p, p


def test_bigram_lm_no_per_doc_window(docs):
    """The bigram pair stream is zip-with-shift inside the row: the plan
    must contain NO Window (the usual bigram shape) — only the count
    aggs' exchanges."""
    from harmonize_search_analyze_spark.operators.contamination import (
        bigram_lm_score,
    )

    out = bigram_lm_score(docs)
    out.count()
    p = _plan(out)
    assert "Window" not in p, p
    assert "Python" not in p, p


def test_msearch_single_scan_one_ranking_exchange(docs):
    """All msearch predicates share one percolate projection; the only
    exchange partitions by query_name for the ranking window."""
    from harmonize_search_analyze_spark.plans.compiler import msearch

    out = msearch(
        docs,
        {"a": {"prefix": {"text": "alpha"}},
         "b": {"match": {"source": "src1"}}},
        sort_field="doc_id",
        id_col="doc_id",
        k=2,
    )
    out.count()
    p = _plan(out)
    assert p.count("Scan ExistingRDD") == 1, p
    # exactly two exchanges: ONE hash partition on query_id for the
    # ranking window (count rides it), plus the presentation range sort
    assert p.count("Exchange") == 2, p
    assert p.count("hashpartitioning(query_id") == 1, p
    assert "rangepartitioning" in p, p
    # Spark 4's WindowGroupLimit prunes each query's rows to k before the
    # full window evaluates — keep that optimization locked in
    assert "WindowGroupLimit" in p, p


def test_sparse_vector_single_scan_takeordered(docs):
    """sparse_vector: token explode pre-filtered to query terms, one tf
    agg, broadcast VALUES weights, TakeOrdered — no Python, no sort."""
    from harmonize_search_analyze_spark.operators.ranking import (
        sparse_vector_search,
    )

    out = sparse_vector_search(
        docs, "doc_id", "text", {"alpha": 2.0, "beta": 1.0}, k=5
    )
    out.count()
    p = _plan(out)
    assert "Python" not in p, p
    assert "TakeOrderedAndProject" in p, p
    assert p.count("Scan ExistingRDD") == 1, p


def test_assign_shards_no_global_window(docs):
    """Shard assignment rides global_order: a deterministic-bucket
    exchange + per-bucket windows keyed by pid — never an unpartitioned
    window over the rows."""
    from harmonize_search_analyze_spark.operators.sharding import (
        assign_shards,
    )

    out = assign_shards(docs, "doc_id", docs_per_shard=50)
    out.count()
    p = _plan(out)
    assert "hashpartitioning(__pid" in p, p
    # every Window in the plan is partitioned (windowspecdefinition
    # always lists the pid key before the ordering spec)
    import re as _re

    for m in _re.finditer(r"windowspecdefinition\(([^)]*)\)", p):
        assert "__pid" in m.group(1), m.group(0)


def test_corpus_pipeline_filters_fuse_one_exchange(docs):
    """Curation pipeline: every filter stage fuses into the scan; the
    exact_dedup window (+WindowGroupLimit prune) is the only exchange."""
    from harmonize_search_analyze_spark.operators.curation_pipeline import (
        run_corpus_pipeline,
    )

    out = run_corpus_pipeline(docs, [
        {"length_filter": {"min_chars": 5}},
        {"sample": {"fraction": 0.9}},
        {"exact_dedup": {}},
    ])
    out.count()
    p = _plan(out)
    assert p.count("Exchange") == 1, p
    assert "Python" not in p, p
    assert "WindowGroupLimit" in p, p


def test_step_transitions_no_window(spark):
    """The per-user pair stream is zip-with-shift over ONE collected
    array per user — no Window operator anywhere in the plan."""
    import datetime as dt

    from harmonize_search_analyze_spark.operators.analytics import (
        step_transitions,
    )

    df = spark.createDataFrame(
        [(i % 7, dt.datetime(2025, 1, 1 + i % 20), "e" + str(i % 3))
         for i in range(100)],
        ["uid", "ts", "ev"],
    )
    out = step_transitions(df, "uid", "ts", "ev")
    out.count()
    p = _plan(out)
    assert "Window" not in p, p
    assert "Python" not in p, p


def test_ks_drift_single_scan_bounded_window(spark):
    """Raw rows collapse to per-value counts before the CDF window; one
    scan, window input is the distinct-value frame. The raw rows are read
    once, into the checkpointed per-value frame, so the result's plan
    reads that checkpoint and never the input itself."""
    from pyspark.sql import functions as F

    from harmonize_search_analyze_spark.operators.analytics import ks_drift

    # a range input, so the only stored scans are the operator's own
    df = spark.range(200).select(
        F.when(F.col("id") % 2 == 1, "a").otherwise("b").alias("g"),
        (F.col("id") % 13).cast("double").alias("v"),
    )
    out = ks_drift(df, "v", "g", "a", "b")
    out.collect()
    p = _plan(out)
    assert "Range (" not in p, p
    assert "Scan ExistingRDD" in p, p
    assert "Python" not in p, p
