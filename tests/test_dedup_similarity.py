"""Operator-level dedup/similarity tests on constructed data — the recall
and containment properties the SQL-oracle gate can't express:

- LSH candidates are a SUBSET of brute-force pairs (no false positives
  after verification) and catch planted near-duplicates
- identical inputs collapse: simhash distance 0, jaccard 1, fingerprints eq
- IVF search returns a subset of the brute top-k ranking (recall <= 1)
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from harmonize_search_analyze_spark.functions.caching import (
    persisted_count,
    release,
)
from harmonize_search_analyze_spark.operators.dedup import (
    SIMHASH_BITS,
    exact_dedup,
    near_dup_pairs_brute,
    near_dup_pairs_lsh,
    simhash,
    simhash_band_bounds,
    simhash_near_dup_pairs,
    simhash_near_dup_pairs_banded,
)
from harmonize_search_analyze_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_lsh,
    embedding_near_dup_pairs,
    ivf_assign,
    ivf_search,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun light"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),                                   # exact duplicate
        (3, BASE.replace("lazy", "sleepy")),         # near duplicate
        (4, "completely different content about spark query engines and "
            "distributed columnar execution at large scale"),
        (5, "another unrelated text mentioning minhash banding and "
            "locality sensitive hashing for candidate generation"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(docs):
    out = {r["keep_id"]: r["n_copies"] for r in
           exact_dedup(docs, "doc_id", "text").collect()}
    assert out[1] == 2          # docs 1+2 collapse
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_lsh_subset_of_brute_and_catches_near_dups(docs):
    brute = {(r["id1"], r["id2"]): r["jaccard"] for r in
             near_dup_pairs_brute(docs, "doc_id", "text",
                                  threshold=0.5, n=2).collect()}
    lsh = {(r["id1"], r["id2"]): r["jaccard"] for r in
           near_dup_pairs_lsh(docs, "doc_id", "text",
                              threshold=0.5, k=8, n=2,
                              rows_per_band=2).collect()}
    # verification makes LSH pairs a subset of brute with equal scores
    assert set(lsh) <= set(brute)
    for pair, j in lsh.items():
        assert j == brute[pair]
    # the exact duplicate must be caught by any banding
    assert (1, 2) in lsh and lsh[(1, 2)] == 1.0
    # the near-duplicate (one word changed) survives at threshold 0.5
    assert (1, 3) in brute


def test_simhash_identical_zero_distance(docs):
    sk = {r["doc_id"]: r["simhash"] for r in
          simhash(docs, "doc_id", "text").collect()}
    assert sk[1] == sk[2]
    # 64-bit sketch, stored two's-complement in a signed BIGINT
    assert -(1 << 63) <= sk[1] < (1 << 63)
    pairs = {(r["id1"], r["id2"]): r["hamming"] for r in
             simhash_near_dup_pairs(docs, "doc_id", "text",
                                    max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0
    # near-duplicate within a few bits; unrelated docs far away
    assert pairs.get((1, 3), 99) <= 3
    assert (1, 4) not in pairs


def test_simhash_band_bounds_partition():
    for n_bands in (1, 4, 7, 32):
        bounds = simhash_band_bounds(SIMHASH_BITS, n_bands)
        assert len(bounds) == n_bands
        covered = []
        for lo, width in bounds:
            assert width >= 1
            covered.extend(range(lo, lo + width))
        assert covered == list(range(SIMHASH_BITS))   # contiguous, complete
    with pytest.raises(ValueError):
        simhash_band_bounds(SIMHASH_BITS, 0)
    with pytest.raises(ValueError):
        simhash_band_bounds(SIMHASH_BITS, SIMHASH_BITS + 1)


def test_simhash_banded_equals_brute(docs):
    """Pigeonhole banding is exact: banded output == brute output at the
    same threshold (the brute operator is the banded one's oracle)."""
    for d in (0, 3, 6):
        brute = {(r["id1"], r["id2"]): r["hamming"] for r in
                 simhash_near_dup_pairs(docs, "doc_id", "text",
                                        max_hamming=d).collect()}
        banded = {(r["id1"], r["id2"]): r["hamming"] for r in
                  simhash_near_dup_pairs_banded(docs, "doc_id", "text",
                                                max_hamming=d).collect()}
        assert banded == brute, f"max_hamming={d}"


def test_simhash_shingle_features(spark, docs):
    """feature_n > 1 (the realistic-corpus production config): identical
    docs still collapse, banding still equals brute, near-dup sketches
    stay closer than unrelated ones, and the Spark/DuckDB twins agree."""
    import duckdb

    from harmonize_search_analyze_spark.operators.dedup import (
        simhash_select_sql,
    )

    sk = {r["doc_id"]: r["simhash"] for r in
          simhash(docs, "doc_id", "text", feature_n=3).collect()}
    assert sk[1] == sk[2]
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert ham(sk[1], sk[3]) < ham(sk[1], sk[4])
    # trigram features decorrelate unrelated docs far beyond unigrams
    assert ham(sk[4], sk[5]) > 3

    for d in (0, 6):
        brute = {(r["id1"], r["id2"]): r["hamming"] for r in
                 simhash_near_dup_pairs(docs, "doc_id", "text",
                                        max_hamming=d,
                                        feature_n=3).collect()}
        banded = {(r["id1"], r["id2"]): r["hamming"] for r in
                  simhash_near_dup_pairs_banded(docs, "doc_id", "text",
                                                max_hamming=d,
                                                feature_n=3).collect()}
        assert banded == brute, f"max_hamming={d}"

    # dual-dialect twin equality at feature_n=3
    docs.createOrReplaceTempView("__sh3_docs")
    want = {r["doc_id"]: r["simhash"] for r in spark.sql(
        simhash_select_sql("__sh3_docs", "doc_id", "text", "spark",
                           feature_n=3)).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)",
                    [(r["doc_id"], r["text"]) for r in docs.collect()])
    got = dict(con.execute(
        simhash_select_sql("d", "doc_id", "text", "duckdb", feature_n=3)
    ).fetchall())
    assert want == got

    # feature_n=1 is byte-identical to the pre-knob default
    assert (simhash(docs, "doc_id", "text").collect()
            == simhash(docs, "doc_id", "text", feature_n=1).collect())


def test_persisted_frames_released(spark, docs):
    """Round-1 verdict item 7: operators must not leak cached blocks in a
    long-lived session. After release() (or GC of the result) the context
    tracks no persisted RDDs from these operators."""
    import gc
    import time

    gc.collect()
    # Drain the ASYNC ContextCleaner before pinning the baseline: RDDs
    # checkpointed by earlier tests (localCheckpoint persists
    # MEMORY_AND_DISK under the hood) are unpersisted by a background
    # thread after their frames are GC'd — a cleanup landing between the
    # base read and the equality asserts below shifts the count through
    # no fault of the operators under test. Wait until the count is a
    # fixed point for two consecutive reads.
    # a dropped checkpoint's storage is freed only after the JVM-side RDD
    # object is collected — python gc alone never triggers that
    spark._jvm.System.gc()
    base = persisted_count(spark)
    stable = 0
    for _ in range(40):
        time.sleep(0.25)
        b2 = persisted_count(spark)
        stable = stable + 1 if b2 == base else 0
        base = b2
        if stable >= 4:
            break
    out = simhash_near_dup_pairs_banded(docs, "doc_id", "text", max_hamming=3)
    out.collect()
    assert persisted_count(spark) > base     # intermediates are cached
    release(out)
    assert persisted_count(spark) == base    # ...and eagerly freed

    out2 = simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3)
    out2.collect()
    assert persisted_count(spark) > base
    # GC path: the checkpoints are freed by Spark's ContextCleaner once the
    # JVM collects the last plan that reads them — asynchronously, seconds
    # after the Python frame is dropped
    del out2
    for _ in range(240):
        gc.collect()
        spark._jvm.System.gc()
        if persisted_count(spark) <= base:
            break
        time.sleep(0.5)
    assert persisted_count(spark) <= base


@pytest.fixture(scope="module")
def vectors(spark):
    def vec(seed, dim=16):
        return [math.sin(seed + i) for i in range(dim)]

    rows = [(i, vec(i)) for i in range(40)]
    rows.append((100, [v + 0.001 for v in vec(0)]))   # near-dup of vec 0
    return spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .withColumn("embedding", F.col("embedding").cast("array<double>"))


def test_embedding_lsh_subset_and_recall(vectors):
    brute = {(r["id1"], r["id2"]) for r in
             embedding_near_dup_pairs(vectors, threshold=0.99).collect()}
    lsh = {(r["id1"], r["id2"]) for r in
           embedding_near_dup_lsh(vectors, threshold=0.99, dim=16,
                                  n_bands=4, bits_per_band=4).collect()}
    assert lsh <= brute
    assert (0, 100) in brute
    assert (0, 100) in lsh     # near-identical vectors share every band


def test_ivf_recall_against_brute(vectors):
    q = [math.sin(0.5 + i) for i in range(16)]
    brute = [r["vec_id"] for r in
             cosine_topk(vectors, "embedding", q, k=5).collect()]
    centroids, assign = ivf_assign(vectors, n_centroids=4)
    ivf = [r["vec_id"] for r in
           ivf_search(vectors, centroids, assign, q, k=5, nprobe=2).collect()]
    # IVF results come from probed lists only: a subset of the full ranking
    assert set(ivf) <= set(r["vec_id"] for r in
                           cosine_topk(vectors, "embedding", q, k=40).collect())
    # with half the lists probed, most of the true top-5 should surface
    assert len(set(ivf) & set(brute)) >= 3


def test_similarity_join_batch_topk(vectors):
    """Batch top-k == per-query cosine_topk for every query; self-match
    ranks first; plan broadcasts the query side."""
    from harmonize_search_analyze_spark.operators.similarity import (
        similarity_join,
    )

    queries = vectors.where(F.col("vec_id").isin([0, 7, 100])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity_join(vectors, queries, k=3)
    rows = out.collect()
    assert len(rows) == 9
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, hits in by_q.items():
        hits.sort(key=lambda r: r["rank"])
        assert [h["rank"] for h in hits] == [1, 2, 3]
        assert hits[0]["corpus_id"] == qid         # self-match first
        assert hits[0]["cosine"] == 1.0
    # per-query twin agrees
    qvec = [r["embedding"] for r in
            vectors.where(F.col("vec_id") == 7).collect()][0]
    solo = [(r["vec_id"], r["cosine"]) for r in
            cosine_topk(vectors, "embedding", list(qvec), k=3).collect()]
    batch = [(r["corpus_id"], r["cosine"]) for r in by_q[7]]
    assert batch == solo
    # scale shape: query side broadcast (no shuffle of the corpus for scoring)
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" in plan


@pytest.mark.slow
def test_kmeans_monotone_inertia_and_separable_blobs(spark):
    """Lloyd invariant: inertia never increases per iteration; on three
    well-separated blobs the trained clusters align with the blobs."""
    import math

    from harmonize_search_analyze_spark.operators.similarity import (
        assign_centroids,
        kmeans_inertia,
        kmeans_train,
    )

    def blob(center, n, spread=0.05):
        return [
            [center[d] + spread * math.sin(i * 7 + d) for d in range(4)]
            for i in range(n)
        ]

    pts = (blob([0, 0, 0, 0], 20) + blob([10, 10, 10, 10], 20)
           + blob([-10, 5, -5, 10], 20))
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(pts)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    prev = None
    for iters in (1, 2, 4):
        c = kmeans_train(df, n_centroids=3, n_iters=iters)
        inertia = kmeans_inertia(df, c)
        if prev is not None:
            assert inertia <= prev + 1e-6
        prev = inertia
    # converged: each blob is one pure cluster
    final = kmeans_train(df, n_centroids=3, n_iters=4)
    a = assign_centroids(df, final).collect()
    by_blob = {}
    for r in a:
        by_blob.setdefault(r["vec_id"] // 20, set()).add(r["centroid_id"])
    assert all(len(s) == 1 for s in by_blob.values())
    assert len({s.pop() for s in by_blob.values()}) == 3


def test_connected_components_chain_and_islands(spark):
    """Transitive chain a~b~c collapses to one cluster labeled min-id;
    disjoint pairs stay separate; ids absent from pairs don't appear."""
    from harmonize_search_analyze_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id1 long, id2 long"
    )
    out = {r["id"]: r["cluster_id"]
           for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    """A 13-node path needs multiple propagation rounds; the fixpoint must
    still be the global min id, and a too-small max_iters raises. An
    n-node path takes n - 1 steps to carry the min label to its far end
    and one more to see nothing change: it converges at max_iters=n and
    raises at n - 1, for either parity of n."""
    import pytest

    from harmonize_search_analyze_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id1 long, id2 long"
    )
    out = {r["id"]: r["cluster_id"]
           for r in connected_components(pairs).collect()}
    assert set(out.values()) == {0}
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(pairs, max_iters=2)
    for n in (12, 13):
        path = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id1 long, id2 long"
        )
        labels = connected_components(path, max_iters=n).collect()
        assert sorted(r["id"] for r in labels) == list(range(n))
        assert {r["cluster_id"] for r in labels} == {0}
        with pytest.raises(RuntimeError, match="converge"):
            connected_components(path, max_iters=n - 1)


def test_connected_components_rejects_non_integral_ids(spark):
    # the fixpoint test sums labels exactly, which only integral ids allow
    import pytest

    from harmonize_search_analyze_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame([("a", "b")], "id1 string, id2 string")
    with pytest.raises(TypeError, match="integral"):
        connected_components(pairs)


def test_line_dedup_keeps_first_occurrence(spark):
    from harmonize_search_analyze_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "the same boilerplate line\nunique alpha content"),
            (2, "the same boilerplate line\nunique beta content"),
            (3, "---\nunique gamma content"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in
            line_dedup(docs, "doc_id", "text", min_line_chars=5).collect()}
    # doc 1 owns the first occurrence; doc 2 loses it
    assert rows[1]["text"] == "the same boilerplate line\nunique alpha content"
    assert rows[2]["text"] == "unique beta content"
    assert rows[2]["n_dropped"] == 1
    # '---' is under min_line_chars: exempt, kept even though short
    assert rows[3]["text"] == "---\nunique gamma content"
    assert rows[3]["n_dropped"] == 0


def test_line_dedup_all_lines_dropped(spark):
    from harmonize_search_analyze_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "duplicated content line"), (2, "duplicated content line")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in
            line_dedup(docs, "doc_id", "text", min_line_chars=5).collect()}
    assert rows[1]["n_kept"] == 1
    assert rows[2]["text"] == "" and rows[2]["n_kept"] == 0


def test_pq_refs_codebooks_and_encode(spark):
    from harmonize_search_analyze_spark.operators.similarity import (
        pq_encode,
        pq_refs_codebooks,
    )

    # 4-dim vectors, m=2 subspaces of d=2; refs = ids 1,2
    rows = [
        (1, [0.0, 0.0, 10.0, 10.0]),
        (2, [5.0, 5.0, 0.0, 0.0]),
        (3, [0.1, -0.1, 0.2, 0.1]),   # sub0 -> ref1(cid0), sub1 -> ref2(cid1)
        (4, [4.9, 5.2, 9.0, 9.0]),    # sub0 -> ref2(cid1), sub1 -> ref1(cid0)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = pq_refs_codebooks(df, [1, 2], m=2)
    got = {(r["subspace"], r["centroid_id"]): r["cvec"]
           for r in books.collect()}
    assert got[(0, 0)] == [0.0, 0.0] and got[(1, 0)] == [10.0, 10.0]
    assert got[(0, 1)] == [5.0, 5.0] and got[(1, 1)] == [0.0, 0.0]
    codes = {r["vec_id"]: list(r["codes"])
             for r in pq_encode(df, books).collect()}
    assert codes[3] == [0, 1]
    assert codes[4] == [1, 0]


@pytest.mark.slow
def test_pq_train_reduces_distortion(spark):
    import numpy as np

    from harmonize_search_analyze_spark.operators.similarity import (
        _collect_codebooks,
        pq_encode,
        pq_refs_codebooks,
        pq_train,
    )

    # two tight clusters per subspace, refs start off-center
    base = [(i, [float(i % 2) * 4.0 + 0.1 * (i % 5),
                 -float(i % 2) * 4.0,
                 float((i + 1) % 2) * 2.0,
                 0.05 * (i % 3)]) for i in range(1, 41)]
    df = spark.createDataFrame(base, ["vec_id", "embedding"])

    def distortion(books):
        bk = _collect_codebooks(books)
        codes = {r["vec_id"]: r["codes"]
                 for r in pq_encode(df, books).collect()}
        tot = 0.0
        for vid, vec in base:
            v = np.asarray(vec).reshape(len(bk), -1)
            for j in range(len(bk)):
                cid = codes[vid][j]
                idx = list(bk[j][0]).index(cid)
                tot += float(((v[j] - bk[j][1][idx]) ** 2).sum())
        return tot

    init = pq_refs_codebooks(df, [1, 2], m=2)
    trained = pq_train(df, m=2, n_centroids=2, n_iters=3, ref_ids=[1, 2])
    assert distortion(trained) <= distortion(init) + 1e-9
    # deterministic
    t2 = pq_train(df, m=2, n_centroids=2, n_iters=3, ref_ids=[1, 2])
    assert sorted(map(tuple, trained.collect())) == sorted(map(tuple, t2.collect()))


def test_pq_topk_finds_exact_duplicate(spark):
    from harmonize_search_analyze_spark.operators.similarity import (
        pq_refs_codebooks,
        pq_topk,
    )

    q = [1.0, 2.0, 3.0, 4.0]
    rows = [(1, q), (2, [10.0, -3.0, 7.0, 1.0]), (3, [0.9, 2.1, 3.2, 3.9]),
            (4, [-5.0, -5.0, -5.0, -5.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = pq_refs_codebooks(df, [1, 2, 4], m=2)
    out = pq_topk(df, books, q, k=2).collect()
    # the exact duplicate encodes to the query-nearest centroids -> dist 0
    assert out[0]["vec_id"] in (1, 3) and out[0]["approx_d2"] == 0.0


def test_pq_topk_ivf_prunes_and_matches_probed_full_scan(spark):
    from harmonize_search_analyze_spark.operators.similarity import (
        ivf_assign,
        pq_refs_codebooks,
        pq_topk,
        pq_topk_ivf,
    )

    rows = [(i, [float((i * 7) % 13) - 6.0, float((i * 3) % 11) - 5.0,
                 float(i % 5) - 2.0, float((i * 5) % 9) - 4.0])
            for i in range(1, 61)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    coarse, assignments = ivf_assign(df, n_centroids=4)
    books = pq_refs_codebooks(df, [1, 2, 3, 4], m=2)
    q = [1.0, -2.0, 0.5, 3.0]
    pruned = pq_topk_ivf(
        df, coarse, assignments, books, q, k=5, nprobe=4
    ).collect()
    # nprobe == n_centroids -> no pruning: must equal the full PQ scan
    full = pq_topk(df, books, q, k=5).collect()
    assert [tuple(r) for r in pruned] == [tuple(r) for r in full]
    # real pruning returns a subset drawn only from probed lists
    p1 = pq_topk_ivf(df, coarse, assignments, books, q, k=5, nprobe=1)
    assert 0 < p1.count() <= 5


def test_semantic_dedup_groups_and_representatives(spark):
    from harmonize_search_analyze_spark.operators.similarity import (
        semantic_dedup,
    )

    # odd ids: an x-axis near-dup family (1, 3, 5); even ids: two distinct
    # y/z-plane vectors. n_centroids=2 picks centroid seeds from ids 1 and
    # 2 (id-hash buckets), so each family lands in one cluster — blocking
    # only finds pairs INSIDE a cluster (the SemDeDup recall contract:
    # duplicates straddling cluster boundaries are the accepted miss).
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.999, 0.01, 0.0, 0.0]),   # cosine ~0.99995 with 1
        (5, [2.0, 0.0, 0.0, 0.0]),      # scaled copy of 1 (cosine 1.0)
        (2, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.8, 0.6, 0.0]),      # cosine 0.8 with 2: not a dup
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in semantic_dedup(
        df, n_centroids=2, threshold=0.99).collect()}
    # transitive group {1, 3, 5} labels to min id 1; only 1 kept
    assert out[1]["cluster_id"] == 1 and out[1]["keep"] is True
    assert out[3]["cluster_id"] == 1 and out[3]["keep"] is False
    assert out[5]["cluster_id"] == 1 and out[5]["keep"] is False
    assert out[2]["keep"] is True and out[4]["keep"] is True
    # every input row present exactly once
    assert sorted(out) == [1, 2, 3, 4, 5]


def test_grams_empty_doc_cross_engine(spark):
    """The zero-token-document edge: Spark concat_ws gives '', DuckDB
    array_to_string gives NULL — the oracle dialect must COALESCE or the
    shingle of an empty doc diverges between engines."""
    import duckdb

    from harmonize_search_analyze_spark.operators.dedup import grams_sql

    df = spark.createDataFrame([("",), ("  ",), ("one",)], ["text"])
    s = [r[0] for r in df.selectExpr(grams_sql("text", "spark", 3)).collect()]
    d = [duckdb.sql("SELECT " + grams_sql("'" + t + "'", "duckdb", 3))
         .fetchall()[0][0] for t in ("", "  ", "one")]
    assert s == d == [[""], [""], ["one"]]


def test_simhash_banded_pruning_power(spark):
    """The 64-bit sketch's reason to exist: banded candidate generation at
    d=3 (4 bands x 16 bits) must prune the candidate space to a small
    fraction of all pairs on a real corpus — the 32-bit sketch's 4-5-bit
    bands degenerated toward all-pairs."""
    import os

    from harmonize_search_analyze_spark.operators.dedup import (
        simhash,
        simhash_candidate_pairs,
    )
    from harmonize_search_analyze_spark.sources.tables import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    sk = simhash(docs, "doc_id", "text").persist()
    try:
        cands = simhash_candidate_pairs(sk, "doc_id", max_hamming=3).count()
    finally:
        sk.unpersist()
    all_pairs = n * (n - 1) // 2
    # measured: 1.7% at sf0.1 (5k docs), similar at sf0.01 — assert an
    # order of magnitude of pruning with headroom for corpus variation
    assert cands < 0.10 * all_pairs, (cands, all_pairs)


_BANDS = "band_idx int, band_key string"


def test_band_join_self_distinct_ordered_pairs(spark):
    """Self-join: ids sharing buckets in several bands yield ONE pair; no
    (i, i) self-pairs and no reversed (j, i) duplicates; an equal key in a
    DIFFERENT band is not a match."""
    from harmonize_search_analyze_spark.operators.dedup import (
        band_frame,
        band_join,
    )

    bands = spark.createDataFrame(
        [(2, 0, "a"), (1, 0, "a"), (1, 1, "b"), (2, 1, "b"), (3, 1, "b"),
         (3, 0, "c"), (4, 2, "a")],
        f"doc_id long, {_BANDS}",
    )
    out = band_join(bands)
    assert sorted(tuple(r) for r in out.collect()) == [(1, 2), (1, 3), (2, 3)]
    assert out.columns == ["id1", "id2"]
    release(out)

    # per-band key columns and an array column band identically
    sigs = spark.createDataFrame(
        [(1, "a", "b"), (2, "a", "x"), (3, "y", "b")],
        "doc_id long, k0 string, k1 string",
    )
    from_cols = band_frame(sigs, "doc_id", [F.col("k0"), F.col("k1")])
    from_arr = band_frame(
        sigs.select("doc_id", F.array("k0", "k1").alias("keys")),
        "doc_id", "keys",
    )
    assert from_cols.columns == ["doc_id", "band_idx", "band_key"]
    assert sorted(from_cols.collect()) == sorted(from_arr.collect())
    out = band_join(from_arr)
    assert sorted(tuple(r) for r in out.collect()) == [(1, 2), (1, 3)]
    release(out)


def test_band_join_cross_keeps_equal_ids_and_empty_is_empty(spark):
    """Cross join: a corpus id and a bench id that are numerically equal
    still pair (the id spaces are unrelated, so no id predicate applies),
    each pair once; empty band frames give empty results on both paths."""
    from harmonize_search_analyze_spark.operators.dedup import band_join

    corpus = spark.createDataFrame(
        [(7, 0, "k"), (7, 1, "m"), (8, 0, "z"), (9, 1, "m")],
        f"doc_id long, {_BANDS}",
    )
    bench = spark.createDataFrame(
        [(7, 0, "k"), (7, 1, "m"), (5, 1, "z")], f"bench_id long, {_BANDS}"
    )
    assert sorted(
        tuple(r) for r in band_join(corpus, F.broadcast(bench)).collect()
    ) == [(7, 7), (9, 7)]

    empty = corpus.limit(0)
    assert band_join(corpus, empty).collect() == []
    out = band_join(empty)
    assert out.collect() == []
    release(out)


@pytest.mark.parametrize("k, rows_per_band", [(8, 0), (8, -2), (9, 2), (8, 3)])
def test_minhash_bands_rejects_non_divisor(spark, k, rows_per_band):
    """rows_per_band must divide k: 0 used to be a ZeroDivisionError and a
    non-divisor silently left the trailing mh_ columns out of every band
    (lost recall with no error)."""
    from harmonize_search_analyze_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_bands,
    )

    sigs = spark.createDataFrame(
        [(1, *range(k))],
        "doc_id long, " + ", ".join(f"mh_{i} long" for i in range(k)),
    )
    with pytest.raises(ValueError, match="rows_per_band"):
        minhash_bands(sigs, "doc_id", k, rows_per_band)
    with pytest.raises(ValueError, match="rows_per_band"):
        lsh_candidate_pairs(sigs, "doc_id", k=k, rows_per_band=rows_per_band)


def _persisted_ids(spark) -> set:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {k for k in jmap.keySet().toArray()}


def test_scoped_release_no_gc(spark, docs, vectors):
    """VERDICT r2 item 5: explicit-scope runs of the LSH / simhash /
    embedding-LSH operators leave ZERO persisted RDDs behind without any
    garbage-collector involvement. Asserted on persisted RDD IDS, not
    counts: earlier tests' GC-tethered frames may unpersist at any
    allocation-triggered collection mid-test, so a global count is racy —
    the invariant under test is that no id NEW to this scope survives it."""
    from harmonize_search_analyze_spark.functions.caching import scoped

    base = _persisted_ids(spark)
    with scoped(simhash_near_dup_pairs_banded(
            docs, "doc_id", "text", max_hamming=3)) as pairs:
        assert pairs.count() >= 0
        assert _persisted_ids(spark) - base
    assert not _persisted_ids(spark) - base

    with scoped(near_dup_pairs_lsh(docs, "doc_id", "text", threshold=0.5,
                                   k=8, n=2, rows_per_band=2)) as pairs:
        pairs.collect()
    assert not _persisted_ids(spark) - base

    with scoped(embedding_near_dup_lsh(vectors, threshold=0.99, dim=16,
                                       n_bands=4, bits_per_band=4)) as pairs:
        pairs.collect()
    assert not _persisted_ids(spark) - base


def test_substring_dedup_removes_duplicated_spans(spark):
    """ExactSubstr-style k-gram span dedup: a duplicated k-token window
    keeps its first (doc, pos) occurrence only; short docs pass through;
    the DuckDB oracle replays the identical formula."""
    import duckdb
    import pandas as pd

    from harmonize_search_analyze_spark.operators.dedup import (
        substring_dedup,
        substring_dedup_sql,
    )

    span = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    rows = [
        (1, f"intro words {span} closing remarks"),
        (2, f"other opening {span} different tail tokens"),   # span dup
        (3, "short doc"),                                     # < k tokens
        (4, ""),                                              # empty
        (5, f"{span}"),                                       # exactly the span
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           substring_dedup(df, "doc_id", "text", k=8).collect()}
    # doc 1 is the first occurrence -> untouched
    assert got[1]["text"] == f"intro words {span} closing remarks"
    assert got[1]["n_dropped"] == 0
    # doc 2 loses exactly the 8 duplicated tokens
    assert got[2]["text"] == "other opening different tail tokens"
    assert got[2]["n_dropped"] == 8
    # short and empty docs pass through
    assert got[3]["text"] == "short doc" and got[3]["n_dropped"] == 0
    assert got[4]["text"] == "" and got[4]["n_kept"] == 0
    # doc 5: whole text is a later occurrence of the span -> emptied
    assert got[5]["text"] == "" and got[5]["n_dropped"] == 8

    con = duckdb.connect()
    con.register("docs", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {r[0]: r for r in con.sql(
        substring_dedup_sql("docs", "doc_id", "text", k=8)).fetchall()}
    for i in got:
        g = got[i]
        assert (g["text"], g["n_kept"], g["n_dropped"]) == \
            (want[i][1], want[i][2], want[i][3]), i


def test_substring_dedup_overlapping_windows_union(spark):
    """Overlapping duplicated windows union their covered positions —
    a long duplicated run is removed once, not fragmented."""
    from harmonize_search_analyze_spark.operators.dedup import (
        substring_dedup,
    )

    run = " ".join(f"tok{i}" for i in range(12))  # 12-token run, k=8
    rows = [(1, f"first {run} end"), (2, f"second {run} tail")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           substring_dedup(df, "doc_id", "text", k=8).collect()}
    assert got[1]["n_dropped"] == 0
    # all 12 run tokens covered by the union of 5 overlapping windows
    assert got[2]["text"] == "second tail"
    assert got[2]["n_dropped"] == 12


def test_substring_dedup_preserves_untouched_text_verbatim(spark):
    """Documents with no removed spans keep their ORIGINAL bytes — case,
    punctuation, whitespace — not a normalized token rendering."""
    from harmonize_search_analyze_spark.operators.dedup import (
        substring_dedup,
    )

    rows = [(1, "Hello, World!  (untouched)"),
            (2, "Different CONTENT; also untouched...")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["text"] for r in
           substring_dedup(df, "doc_id", "text", k=8).collect()}
    assert got[1] == "Hello, World!  (untouched)"
    assert got[2] == "Different CONTENT; also untouched..."


def test_incremental_dedup_semantics(spark):
    from harmonize_search_analyze_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (10, "Seen Before  "),   # normalizes to a corpus digest -> dropped
            (11, "brand new"),
            (12, "brand new"),       # in-batch dup -> canonicalized
            (13, "another new"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["keep_id"]: r["n_copies"]
        for r in incremental_dedup(batch, corpus, "doc_id", "text").collect()
    }
    assert got == {11: 2, 13: 1}


def test_fuzzy_decontaminate_finds_planted_overlap(spark):
    from harmonize_search_analyze_spark.operators.contamination import (
        fuzzy_decontaminate,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words entirely here now"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps over the lazy dog")],
        ["bench_id", "text"],
    )
    got = fuzzy_decontaminate(
        corpus, bench, threshold=0.8, k=8, n=1, rows_per_band=2
    ).collect()
    assert [(r["doc_id"], r["bench_id"]) for r in got] == [(1, 100)]
    assert got[0]["jaccard"] >= 0.8


def test_cosine_zero_vector_yields_null_not_abort(spark):
    """A zero embedding has norm 0: cosine undefined -> NULL row score
    (raw division aborts the whole job under ANSI mode)."""
    from harmonize_search_analyze_spark.operators.similarity import (
        cosine_score,
        cosine_topk,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.6, 0.8])],
        "vec_id long, embedding array<double>",
    )
    scores = {
        r["vec_id"]: r["c"]
        for r in df.select(
            "vec_id", cosine_score("embedding", [1.0, 0.0]).alias("c")
        ).collect()
    }
    assert scores[1] == 1.0 and scores[2] is None
    # NULL scores sort last under DESC: the zero vector never outranks
    got = [r["vec_id"] for r in cosine_topk(df, "embedding", [1.0, 0.0], k=2).collect()]
    assert got == [1, 3]


def test_mrl_topk_recall_and_validation(spark):
    """The truncated first stage must surface the true top hit when the
    prefix carries the signal, and the rerank must order by FULL-width
    cosine (a decoy that looks good truncated but bad full-width ranks
    below a true match)."""
    from harmonize_search_analyze_spark.operators.similarity import mrl_topk

    q = [1.0, 0.0, 0.0, 1.0]
    rows = [
        (1, [1.0, 0.0, 0.0, 1.0]),   # exact match
        (2, [1.0, 0.0, 0.0, -1.0]),  # perfect on the 2-dim prefix, bad full
        (3, [0.9, 0.1, 0.1, 0.9]),   # close full-width
        (4, [-1.0, 0.0, 0.0, -1.0]), # anti-match
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = mrl_topk(df, "embedding", q, dims=2, k=3, oversample=2).collect()
    assert [r["vec_id"] for r in got] == [1, 3, 2]
    assert got[0]["cosine"] == 1.0
    # shortlist ran on the prefix: every returned row carries its stage-1
    # score, and the decoy's prefix score beats its full score
    decoy = next(r for r in got if r["vec_id"] == 2)
    assert decoy["cosine_trunc"] == 1.0 and decoy["cosine"] == 0.0
    with pytest.raises(ValueError):
        mrl_topk(df, "embedding", q, dims=0, k=3)
    with pytest.raises(ValueError):
        mrl_topk(df, "embedding", q, dims=8, k=3)


def test_lsh_incremental_equivalence_and_statelessness(spark):
    """Feeding batches through successive calls must find exactly the
    pairs a single call over the whole corpus finds (modulo pair
    orientation), and the state must be signatures only (k BIGINTs per
    doc, no text)."""
    from harmonize_search_analyze_spark.operators.dedup import lsh_incremental

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),        # dup of 1
        (3, "epsilon zeta eta theta"),
        (10, "alpha beta gamma delta"),        # dup of 1/2, later batch
        (11, "iota kappa lambda mu"),
        (12, "iota kappa lambda mu"),          # within-batch dup
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    b1 = df.where(F.col("doc_id") < 10)
    b2 = df.where(F.col("doc_id") >= 10)

    d1, state = lsh_incremental(b1, None, "doc_id", "text", n=1)
    got1 = {(r["id_new"], r["id_prior"]) for r in d1.collect()}
    assert got1 == {(1, 2)}
    assert set(state.columns) == {"doc_id"} | {f"mh_{i}" for i in range(8)}

    d2, state2 = lsh_incremental(b2, state, "doc_id", "text", n=1)
    got2 = {(r["id_new"], r["id_prior"]) for r in d2.collect()}
    assert got2 == {(10, 1), (10, 2), (11, 12)}
    assert state2.count() == 6

    # one-shot over everything finds the same pair set (as frozensets)
    all_pairs, _ = lsh_incremental(df, None, "doc_id", "text", n=1)
    one_shot = {
        frozenset((r["id_new"], r["id_prior"])) for r in all_pairs.collect()
    }
    incremental = {frozenset(p) for p in got1 | got2}
    assert one_shot == incremental

    # estimator values ride along and are exact for identical docs
    assert all(r["est_jaccard"] == 1.0 for r in d2.collect())
    with pytest.raises(ValueError):
        lsh_incremental(df, None, "doc_id", "text", est_threshold=1.5)


def test_simhash_long_document_no_lane_bound(spark):
    """A 40k-token document must sketch fine (the 4x16-bit SWAR packing
    aborted at 32767 tokens; the shipped 2x32-bit lanes have no bound a
    real document can reach) and agree with the DuckDB twin."""
    import duckdb
    import pandas as pd

    from harmonize_search_analyze_spark.operators.dedup import (
        simhash,
        simhash_select_sql,
    )

    long_text = " ".join(f"w{i % 997}" for i in range(40000))
    df = spark.createDataFrame([(1, long_text), (2, "short doc")],
                               ["doc_id", "text"])
    got = {r["doc_id"]: r["simhash"] for r in
           simhash(df, "doc_id", "text").collect()}
    assert set(got) == {1, 2}

    con = duckdb.connect()
    con.register("t", pd.DataFrame(
        [(1, long_text), (2, "short doc")], columns=["doc_id", "text"]))
    want = dict(con.sql(
        simhash_select_sql("t", "doc_id", "text", "duckdb")).fetchall())
    assert got == want


def test_lsh_incremental_reingested_id_does_not_corrupt_state(spark):
    from harmonize_search_analyze_spark.operators.dedup import lsh_incremental

    b1 = spark.createDataFrame(
        [(5, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    _, state = lsh_incremental(b1, None, "doc_id", "text", n=1)
    # batch 2 re-ingests id 5 (plus a genuine dup under a new id)
    b2 = spark.createDataFrame(
        [(5, "alpha beta gamma delta"), (6, "alpha beta gamma delta")],
        ["doc_id", "text"],
    )
    dups, state2 = lsh_incremental(b2, state, "doc_id", "text", n=1)
    got = sorted((r["id_new"], r["id_prior"]) for r in dups.collect())
    # no self-pair for the re-ingested id; the new id still pairs with
    # both the stored doc and the re-ingested batch row (same id -> one)
    assert (5, 5) not in got
    assert (6, 5) in got or (5, 6) in got
    # state stays one row per id
    assert state2.count() == 2
    assert state2.select("doc_id").distinct().count() == 2


def test_mrl_full_width_equals_brute_topk(spark):
    """dims = full width makes the MRL cascade degenerate to exact brute
    top-k: identical ids AND identical scores."""
    from harmonize_search_analyze_spark.operators.similarity import (
        cosine_topk,
        mrl_topk,
    )

    rows = [(i, [float((i * 7 + j) % 11) for j in range(4)])
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [0.5, 1.0, 0.25, 2.0]
    brute = [(r["vec_id"], r["cosine"])
             for r in cosine_topk(df, "embedding", q, k=8).collect()]
    mrl = [(r["vec_id"], r["cosine"])
           for r in mrl_topk(df, "embedding", q, dims=4, k=8,
                             oversample=8).collect()]
    assert mrl == brute


@pytest.mark.slow
def test_lsh_incremental_split_point_invariance(spark):
    """The accumulated pair set is invariant to WHERE the batch boundary
    falls (any split of the same corpus yields the same pairs)."""
    from harmonize_search_analyze_spark.operators.dedup import lsh_incremental

    texts = ["alpha beta gamma", "delta epsilon zeta", "alpha beta gamma",
             "eta theta iota", "delta epsilon zeta", "alpha beta gamma"]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])

    def run(splits):
        state, pairs = None, set()
        prev = 0
        for s in splits + [len(texts)]:
            b = df.where((F.col("doc_id") >= prev) & (F.col("doc_id") < s))
            d, state = lsh_incremental(b, state, "doc_id", "text", n=1)
            pairs |= {frozenset((r["id_new"], r["id_prior"]))
                      for r in d.collect()}
            prev = s
        return pairs

    assert run([2]) == run([1, 4]) == run([])


def test_knn_filtered_exact_path_matches_filtered_brute(spark):
    from harmonize_search_analyze_spark.operators.similarity import (
        cosine_topk,
        knn_filtered,
    )
    import math

    rows = [
        (i, [math.sin(i + d) for d in range(8)], i % 3) for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    q = [math.sin(d) for d in range(8)]
    got = knn_filtered(
        df, "embedding", q, {"term": {"label": 1}}, k=5
    ).collect()
    want = cosine_topk(
        df.where("label = 1"), "embedding", q, 5
    ).collect()
    assert [(r.vec_id, r.cosine) for r in got] == [
        (r.vec_id, r.cosine) for r in want
    ]
    # every hit satisfies the filter (pre-filter semantics)
    labels = {r.vec_id % 3 for r in got}
    assert labels == {1}


def test_knn_filtered_ann_path_respects_filter_and_recalls(spark):
    from harmonize_search_analyze_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        knn_filtered,
    )
    import math

    rows = [
        (i, [math.sin(i * 0.7 + d) for d in range(8)], i % 2)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    q = [math.sin(d * 1.3) for d in range(8)]
    index = ivf_assign(df, "embedding", "vec_id", n_centroids=8)
    # brute_threshold=0 forces the ANN path; nprobe = all lists makes it
    # exhaustive, so it must EQUAL the filtered brute answer
    got = knn_filtered(
        df, "embedding", q, {"term": {"label": 0}},
        k=5, index=index, nprobe=8, brute_threshold=0,
    ).collect()
    want = cosine_topk(df.where("label = 0"), "embedding", q, 5).collect()
    assert [r.vec_id for r in got] == [r.vec_id for r in want]
    assert all(r.vec_id % 2 == 0 for r in got)


def test_hard_negatives_label_filter_before_rank(spark):
    import math
    from harmonize_search_analyze_spark.operators.similarity import (
        mine_hard_negatives,
    )

    # anchor 0 (label A) sits in a dense same-label cluster; its top
    # DIFFERENT-label neighbors must still surface (filter before rank)
    def vec(theta):
        return [math.cos(theta), math.sin(theta)] + [0.0] * 6

    rows = (
        [(0, vec(0.0), "A")]
        + [(i, vec(0.001 * i), "A") for i in range(1, 6)]   # same-label wall
        + [(10, vec(0.2), "B"), (11, vec(0.3), "B"), (12, vec(2.0), "C")]
    )
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = mine_hard_negatives(df, df.where("vec_id = 0"), k=2).collect()
    assert [(r.negative_id, r.rank) for r in got] == [(10, 1), (11, 2)]
    assert all(r.negative_label != "A" for r in got)
    assert all(r.anchor_id == 0 for r in got)
    # self exclusion + validation
    import pytest
    with pytest.raises(ValueError):
        mine_hard_negatives(df, df, k=0)


def test_pair_metrics_hand_case(spark):
    from harmonize_search_analyze_spark.operators.dedup import pair_metrics

    # candidates miss one true pair and add one false pair; orientation
    # and duplicates must not matter
    cand = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (9, 8)], ["id1", "id2"]
    )
    truth = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], ["id1", "id2"]
    )
    r = pair_metrics(cand, truth).collect()[0]
    assert (r.n_candidates, r.n_truth, r.tp) == (3, 3, 2)
    assert r.precision == round(2 / 3, 6)
    assert r.recall == round(2 / 3, 6)
    assert r.f1 == round(2 / 3, 6)


def test_pair_metrics_empty_sides(spark):
    from harmonize_search_analyze_spark.operators.dedup import pair_metrics

    empty = spark.createDataFrame([], "id1 long, id2 long")
    truth = spark.createDataFrame([(1, 2)], ["id1", "id2"])
    r = pair_metrics(empty, truth).collect()[0]
    assert (r.precision, r.recall, r.f1) == (0.0, 0.0, 0.0)


def test_knn_classify_separable_clusters(spark):
    """Two well-separated embedding clusters: k-NN vote must recover
    every held-out label."""
    import numpy as np

    from harmonize_search_analyze_spark.operators.similarity import (
        knn_classify,
    )

    rng = np.random.RandomState(3)
    rows = []
    for i in range(120):
        lab = i % 2
        base = np.zeros(8)
        base[lab] = 10.0
        v = (base + rng.normal(0, 0.1, 8)).tolist()
        rows.append((i, [float(x) for x in v], lab))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = knn_classify(emb, k=5, test_pct=20).collect()
    assert len(out) > 10
    assert all(r["correct"] for r in out), [
        (r["vec_id"], r["true_label"], r["pred_label"]) for r in out
        if not r["correct"]]


def test_knn_classify_ivf_path_agrees(spark):
    """The probe-pruned IVF neighbor search feeds the same voting
    pipeline: on separable clusters it must classify every held-out
    vector correctly too (and reject unknown methods)."""
    import numpy as np
    import pytest as _pytest

    from harmonize_search_analyze_spark.operators.similarity import (
        knn_classify,
    )

    rng = np.random.RandomState(3)
    rows = []
    for i in range(120):
        lab = i % 2
        base = np.zeros(8)
        base[lab] = 10.0
        v = (base + rng.normal(0, 0.1, 8)).tolist()
        rows.append((i, [float(x) for x in v], lab))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = knn_classify(emb, k=5, test_pct=20, method="ivf",
                       nprobe=2, n_centroids=4).collect()
    assert len(out) > 10
    assert all(r["correct"] for r in out)
    exact_ids = {r["vec_id"] for r in
                 knn_classify(emb, k=5, test_pct=20).collect()}
    assert {r["vec_id"] for r in out} == exact_ids  # same hash holdout
    with _pytest.raises(ValueError, match="method"):
        knn_classify(emb, method="annoy")


def test_resolve_duplicates_keeps_best(spark):
    """Quality policy: within a cluster the highest-quality doc (ties to
    lowest id) is kept; singletons keep themselves; ascending flag
    inverts the policy."""
    from harmonize_search_analyze_spark.operators.dedup import (
        resolve_duplicates,
    )

    docs = spark.createDataFrame(
        [(1, 50), (2, 90), (3, 90), (9, 10)], ["doc_id", "q"]
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], ["id", "cluster_id"]
    )
    got = {r.doc_id: (r.cluster_id, r.keep) for r in resolve_duplicates(
        docs, labels, id_col="doc_id", quality_col="q").collect()}
    assert got == {1: (1, False), 2: (1, True), 3: (1, False),
                   9: (9, True)}

    worst = {r.doc_id: r.keep for r in resolve_duplicates(
        docs, labels, id_col="doc_id", quality_col="q",
        quality_ascending=True).collect()}
    assert worst == {1: True, 2: False, 3: False, 9: True}


def test_soft_dedup_weights(spark):
    """SoftDedup reweighting: weight = size^-alpha; cluster mass sums to
    1 at alpha=1; singletons weigh 1; alpha=0 disables; validation."""
    import pytest as _pytest

    from harmonize_search_analyze_spark.operators.dedup import (
        soft_dedup_weights,
    )

    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 9)], ["doc_id"])
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], ["id", "cluster_id"]
    )
    got = {r.doc_id: (r.cluster_size, r.weight) for r in
           soft_dedup_weights(docs, labels, id_col="doc_id").collect()}
    assert got == {1: (3, round(1 / 3, 6)), 2: (3, round(1 / 3, 6)),
                   3: (3, round(1 / 3, 6)), 9: (1, 1.0)}

    flat = {r.doc_id: r.weight for r in soft_dedup_weights(
        docs, labels, id_col="doc_id", alpha=0.0).collect()}
    assert set(flat.values()) == {1.0}

    with _pytest.raises(ValueError):
        soft_dedup_weights(docs, labels, id_col="doc_id", alpha=-1.0)


def test_cluster_resolution_rejects_output_collisions(spark):
    import pytest as _pytest

    from harmonize_search_analyze_spark.operators.dedup import (
        resolve_duplicates,
        soft_dedup_weights,
    )

    labels = spark.createDataFrame([(1, 1)], ["id", "cluster_id"])
    bad = spark.createDataFrame([(1, 2, 0.5)],
                                ["doc_id", "cluster_id", "weight"])
    with _pytest.raises(ValueError, match="collide"):
        resolve_duplicates(bad, labels, id_col="doc_id",
                           quality_col="weight")
    with _pytest.raises(ValueError, match="collide"):
        soft_dedup_weights(bad, labels, id_col="doc_id")


def test_signatures_from_shingles_identical_to_raw_stream(spark):
    """MIN is duplicate-invariant: signatures built from the distinct
    shingle SET must be byte-identical to the raw-gram-stream build —
    the invariant that lets near_dup_pairs_lsh tokenize once."""
    from pyspark.sql import functions as F

    from harmonize_search_analyze_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_from_shingles,
        shingles_sql,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog the quick"),
            (2, "pack my box with five dozen liquor jugs pack my box"),
            (3, "the quick brown fox jumps over the lazy dog the quick"),
            (4, None),
        ],
        ["doc_id", "text"],
    )
    raw = {
        r["doc_id"]: tuple(r)[1:]
        for r in minhash_signatures(df, "doc_id", "text", k=8, n=3).collect()
    }
    sh = df.select(
        "doc_id", F.expr(shingles_sql("text", "spark", 3)).alias("shingles")
    )
    via_set = {
        r["doc_id"]: tuple(r)[1:]
        for r in minhash_signatures_from_shingles(
            sh, "doc_id", k=8
        ).collect()
    }
    assert raw == via_set and set(raw) == {1, 2, 3}


def test_lsh_pipeline_single_tokenization_pass(spark):
    """The signature build tokenizes ONCE: it reads a persisted shingle
    frame (InMemoryTableScan) as is. The full pipeline stores nothing
    (a checkpoint measured slower, PERFORMANCE.md decision 10): its
    shingle readers share the repartition exchange instead."""
    from pyspark.sql import functions as F

    from harmonize_search_analyze_spark.operators.dedup import (
        minhash_signatures_from_shingles,
        near_dup_pairs_lsh,
        shingles_sql,
    )

    df = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon doc "),
                 (F.col("id") % 3).cast("string")).alias("text"),
    )
    # wiring: a materialized shingle cache feeds the signature build
    sh = df.select(
        "doc_id", F.expr(shingles_sql("text", "spark", 3)).alias("shingles")
    ).persist()
    sh.count()
    sig_plan = (
        minhash_signatures_from_shingles(sh, "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "InMemoryTableScan" in sig_plan
    sh.unpersist()

    # end-to-end: nothing stored, the readers reuse the shared exchange
    out = near_dup_pairs_lsh(df, "doc_id", "text", threshold=0.5)
    assert out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan and "InMemoryTableScan" not in plan
    assert "ReusedExchange" in plan


def test_cluster_balanced_sample_caps_per_cluster(spark):
    """Diversity cap: no cluster contributes more than `cap` vectors,
    clusters under the cap keep everything, and the pick is
    deterministic (hash order, ties to lowest id)."""
    import numpy as np

    from harmonize_search_analyze_spark.operators.similarity import (
        cluster_balanced_sample,
    )

    rng = np.random.default_rng(5)
    rows = []
    # cluster 0: 40 vecs near e0 (dense); cluster 1: 3 vecs near e1
    for i in range(40):
        v = np.zeros(8); v[0] = 10.0
        rows.append((i, [float(x) for x in v + rng.normal(0, 0.1, 8)]))
    for i in range(40, 43):
        v = np.zeros(8); v[1] = 10.0
        rows.append((i, [float(x) for x in v + rng.normal(0, 0.1, 8)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [10.0] + [0.0] * 7), (1, [0.0, 10.0] + [0.0] * 6)],
        "centroid_id int, cvec array<double>",
    )
    out = cluster_balanced_sample(emb, cents, 10)
    rows1 = out.collect()
    by_c = {}
    for r in rows1:
        by_c.setdefault(r.centroid_id, set()).add(r.vec_id)
    assert len(by_c[0]) == 10          # dense cluster capped
    assert by_c[1] == {40, 41, 42}     # sparse cluster intact
    rows2 = cluster_balanced_sample(emb, cents, 10).collect()
    assert sorted(map(tuple, rows1)) == sorted(map(tuple, rows2))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="cap"):
        cluster_balanced_sample(emb, cents, 0)


def test_corpus_diff_statuses(spark):
    """added/removed/changed/unchanged truth table; whitespace/case-only
    edits do NOT count as changes (the exact_dedup digest contract)."""
    from harmonize_search_analyze_spark.operators.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "gets removed"),
         (4, "Case  And   Spaces")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(1, "same text"), (2, "has changed"), (5, "brand new"),
         (4, "case and spaces")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.status for r in corpus_diff(
        old, new, "doc_id", "text"
    ).collect()}
    assert got == {
        1: "unchanged", 2: "changed", 3: "removed",
        4: "unchanged", 5: "added",
    }


def test_corpus_diff_null_text(spark):
    """ADVICE r4: presence comes from explicit per-side flags, not
    digest nullness — a NULL-text doc present on both sides is
    'unchanged' (text coalesced to '' before hashing), NULL-vs-text is
    'changed', and added/removed track row existence only. Operator and
    DuckDB twin agree."""
    import duckdb

    from harmonize_search_analyze_spark.operators.dedup import (
        corpus_diff,
        corpus_diff_sql,
    )

    schema = "doc_id int, text string"
    old = spark.createDataFrame(
        [(1, None), (2, "a"), (3, None), (4, "stays")], schema
    )
    new = spark.createDataFrame(
        [(1, None), (2, None), (4, "stays"), (5, None)], schema
    )
    got = {
        r.doc_id: r.status
        for r in corpus_diff(old, new, "doc_id", "text").collect()
    }
    assert got == {
        1: "unchanged", 2: "changed", 3: "removed",
        4: "unchanged", 5: "added",
    }
    con = duckdb.connect()
    con.register("old_t", old.toPandas())
    con.register("new_t", new.toPandas())
    want = dict(
        con.execute(
            corpus_diff_sql("old_t", "new_t", "doc_id", "text", "duckdb")
        ).fetchall()
    )
    assert want == got


def test_near_dup_pairs_brute_guard(spark):
    """The brute exact-Jaccard oracle raises above max_rows (same
    contract as embedding_near_dup_pairs) instead of launching an
    unguarded quadratic job."""
    import pytest

    from harmonize_search_analyze_spark.operators.dedup import (
        near_dup_pairs_brute,
    )

    df = spark.createDataFrame(
        [(i, f"some text number {i}") for i in range(6)],
        ["doc_id", "text"],
    )
    with pytest.raises(ValueError, match="max_rows"):
        near_dup_pairs_brute(df, "doc_id", "text", max_rows=5)
    assert near_dup_pairs_brute(
        df, "doc_id", "text", max_rows=10
    ).count() >= 0


def test_record_linkage_block_and_verify(spark):
    from harmonize_search_analyze_spark.operators.dedup import record_linkage

    rows = [
        (1, "jon smith", "smith"), (2, "john smith", "smith"),
        (3, "john smyth", "smyth"),           # near-dup of 2 but blocked apart
        (4, "mary jones", "jones"), (5, "marie jones", "jones"),
        (6, None, "x"), (7, "ok", None),
    ]
    df = spark.createDataFrame(rows, ["id", "name", "blk_src"])
    out = record_linkage(df, "id", "name", "blk_src", max_edit=2).collect()
    got = [(r["id1"], r["id2"], r["edit_distance"], r["similarity"])
           for r in out]
    # (1,2) d=1 sim 1-1/10; (4,5) d=2 sim 1-2/11; (2,3) excluded by block
    assert got == [(1, 2, 1, 0.9), (4, 5, 2, 0.818182)]


def test_record_linkage_max_block_size_skips_hot_block(spark):
    from harmonize_search_analyze_spark.operators.dedup import record_linkage

    rows = [(i, f"name{i}", "hot") for i in range(10)] + [
        (100, "abc", "cold"), (101, "abd", "cold")]
    df = spark.createDataFrame(rows, ["id", "name", "blk"])
    capped = record_linkage(
        df, "id", "name", "blk", max_edit=5, max_block_size=5
    ).collect()
    assert [(r["id1"], r["id2"]) for r in capped] == [(100, 101)]
    # without the cap the hot block contributes its 45 pairs
    assert record_linkage(df, "id", "name", "blk", max_edit=5).count() == 46


def test_record_linkage_sql_matches_dataframe(spark):
    import duckdb

    from harmonize_search_analyze_spark.operators.dedup import (
        record_linkage, record_linkage_sql,
    )

    rows = [(i, f"rec-{i % 7}-{(i * i) % 13}", f"b{i % 3}")
            for i in range(60)]
    df_rows = record_linkage(
        spark.createDataFrame(rows, ["id", "name", "blk"]),
        "id", "name", "blk", max_edit=2, max_block_size=30,
    ).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INT, name VARCHAR, blk VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    want = con.execute(record_linkage_sql(
        "t", "id", "name", "blk", "duckdb", max_edit=2, max_block_size=30,
    )).fetchall()
    assert [tuple(r) for r in df_rows] == want


def test_containment_pairs_asymmetric(spark):
    from harmonize_search_analyze_spark.operators.dedup import (
        containment_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base),                     # full doc
        (2, base + " iota kappa"),     # superset: 1 contained in 2
        (3, "totally different words here entirely unrelated"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = containment_pairs(
        df, "doc_id", "text", threshold=0.99, n=1, k=8, rows_per_band=2
    ).collect()
    got = {(r["id1"], r["id2"]): (r["c12"], r["c21"]) for r in out}
    assert (1, 2) in got
    c12, c21 = got[(1, 2)]
    assert c12 == 1.0          # all of doc 1's tokens appear in doc 2
    assert c21 == 0.8          # 8 of doc 2's 10 tokens appear in doc 1
    assert (1, 3) not in got and (2, 3) not in got


def test_containment_sql_cross_engine(spark):
    import duckdb

    from harmonize_search_analyze_spark.operators.dedup import (
        containment_sql,
    )

    s = spark.sql(
        "SELECT "
        + containment_sql("array('a','b')", "array('a','b','c')", "spark")
        + " AS c"
    ).collect()[0]["c"]
    d = duckdb.sql(
        "SELECT "
        + containment_sql("['a','b']", "['a','b','c']", "duckdb")
        + " AS c"
    ).fetchall()[0][0]
    assert s == d == round(2 / 2, 6)


def test_set_similarity_join_exact_no_false_negatives(spark):
    """Prefix filtering must return EXACTLY the brute-force pair set —
    the no-false-negative property LSH gives up."""
    from harmonize_search_analyze_spark.operators.dedup import (
        near_dup_pairs_brute, set_similarity_join,
    )

    texts = [
        (0, "alpha beta gamma delta epsilon"),
        (1, "alpha beta gamma delta zeta"),       # j=4/6 vs 0
        (2, "alpha beta gamma delta epsilon"),    # exact dup of 0
        (3, "one two three four five"),
        (4, "one two three four five six"),       # j=5/6 vs 3
        (5, "unrelated words entirely here now"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    for t in (0.5, 0.8, 0.95):
        got = {(r["id1"], r["id2"]): r["jaccard"]
               for r in set_similarity_join(
                   df, "doc_id", "text", threshold=t, n=1).collect()}
        want = {(r["id1"], r["id2"]): r["jaccard"]
                for r in near_dup_pairs_brute(
                    df, "doc_id", "text", threshold=t, n=1).collect()}
        assert got == want, t
    assert (0, 2) in {
        (r["id1"], r["id2"]) for r in set_similarity_join(
            df, "doc_id", "text", threshold=0.95, n=1).collect()
    }


def test_set_similarity_join_sql_matches_dataframe(spark):
    import duckdb

    from harmonize_search_analyze_spark.operators.dedup import (
        set_similarity_join, set_similarity_join_sql,
    )

    rows = [(i, f"w{i % 4} w{(i * 3) % 7} w{(i * 5) % 9} common shared")
            for i in range(40)]
    df_rows = sorted(tuple(r) for r in set_similarity_join(
        spark.createDataFrame(rows, ["doc_id", "text"]),
        "doc_id", "text", threshold=0.6, n=1,
    ).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    want = sorted(con.execute(set_similarity_join_sql(
        "t", "doc_id", "text", "duckdb", threshold=0.6, n=1,
    )).fetchall())
    assert df_rows == want and len(want) > 0


def test_winnow_guarantee_shared_substring(spark):
    """The winnowing guarantee: any shared substring of length >=
    window + ngram - 1 chars yields at least one shared fingerprint."""
    from harmonize_search_analyze_spark.operators.dedup import (
        winnow_fingerprints,
    )

    shared = "copied passage that appears verbatim"
    rows = [
        (1, "prefix one " + shared + " suffix alpha"),
        (2, "other intro " + shared + " different tail"),
        (3, "completely unrelated sentence about weather patterns"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {}
    for r in winnow_fingerprints(
        df, "doc_id", "text", ngram=8, window=4
    ).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert fps[1] & fps[2]            # the guarantee
    assert not (fps[1] & fps[3] & fps[2] & fps[3])


def test_winnow_pairs_stop_fingerprint_cap(spark):
    from harmonize_search_analyze_spark.operators.dedup import (
        winnow_pairs,
    )

    # every doc shares the same boilerplate; only 1-2 truly overlap
    boiler = "standard footer text appearing everywhere always"
    rows = [(i, f"unique body {i} {'x' * (i % 5)} " + boiler)
            for i in range(10)]
    rows += [(100, "the stolen paragraph sits right here in full"),
             (101, "intro the stolen paragraph sits right here in full")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # cap postings at 3: the 10-doc boilerplate fingerprints drop,
    # the genuine pair survives
    out = winnow_pairs(
        df, "doc_id", "text", ngram=8, window=4,
        min_shared=2, max_postings=3,
    ).collect()
    assert (100, 101) in {(r["id1"], r["id2"]) for r in out}
    assert all(r["id1"] >= 100 or r["shared"] < 10 for r in out)
