import pytest


def test_bbq_pack_and_rerank(spark):
    """Binary quantization: Spark-side packed words equal the driver-side
    sign_words twin; hamming(self)=0; with shortlist covering the whole
    corpus the rerank equals exact cosine_topk."""
    import math

    from harmonize_search_analyze_spark.operators.similarity import (
        bbq_topk,
        binary_quantize,
        cosine_topk,
        sign_words,
    )

    vecs = [
        [math.sin(i * 7 + j) for j in range(40)] for i in range(30)
    ] + [[0.0] * 40]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    packed = {
        r.vec_id: list(r.bits)
        for r in binary_quantize(df, 40).collect()
    }
    for i, v in enumerate(vecs):
        assert packed[i] == sign_words(v), i

    q = vecs[3]
    got = bbq_topk(df, q, k=5, shortlist=31).collect()
    exact = cosine_topk(df, "embedding", q, k=5).collect()
    assert [(r.vec_id, r.cosine) for r in got] == [
        (r.vec_id, r.cosine) for r in exact
    ]
    assert got[0].vec_id == 3 and got[0].hamming == 0


def test_knn_similarity_threshold(spark):
    """ES knn `similarity`: hits under the cosine floor drop even when
    fewer than k remain."""
    from harmonize_search_analyze_spark.operators.similarity import (
        knn_filtered,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    all_hits = knn_filtered(df, "embedding", [1.0, 0.0], None, k=3)
    assert all_hits.count() == 3
    cut = knn_filtered(
        df, "embedding", [1.0, 0.0], None, k=3, similarity=0.9
    ).collect()
    assert {r.vec_id for r in cut} == {1, 2}


def test_maxsim_topk_late_interaction(spark):
    """maxsim: per-query-vector best dot then summed; broadcast query
    side; vectors never cross a shuffle (plan has no vector exchange)."""
    from harmonize_search_analyze_spark.operators.similarity import (
        maxsim_topk,
    )

    corpus = spark.createDataFrame(
        [
            # doc 1: one vector aligned with q0, one with q1 -> score 2
            (1, [1.0, 0.0]), (1, [0.0, 1.0]),
            # doc 2: only q0-aligned -> best q0 = 1, best q1 = 0
            (2, [1.0, 0.0]), (2, [0.5, 0.0]),
        ],
        ["doc_id", "embedding"],
    )
    query = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["qid", "embedding"]
    )
    out = maxsim_topk(corpus, query, k=5)
    got = [(r.doc_id, r.maxsim) for r in out.collect()]
    assert got == [(1, 2.0), (2, 1.0)]
    plan = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_mmr_rerank_diversifies(spark):
    """MMR: with two near-identical top-relevance vectors, rank 2 skips
    the duplicate in favor of a diverse candidate; lam=1 degenerates to
    pure relevance order."""
    from harmonize_search_analyze_spark.operators.similarity import (
        mmr_rerank,
    )

    q = [1.0, 0.0]
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),      # rel 1.0
            (2, [0.999, 0.01]),   # rel ~0.999, near-dup of 1
            (3, [0.2, 0.98]),     # rel 0.2, nearly orthogonal to 1
        ],
        ["vec_id", "embedding"],
    )
    # lam=0.3 weighs diversity: the near-dup scores 0.3*0.999-0.7*0.999
    # = -0.4 while the diverse vec scores 0.3*0.2-0.7*0.2 = -0.08
    got = [(r["rank"], r.vec_id) for r in
           mmr_rerank(df, q, k=3, pool=3, lam=0.3).collect()]
    assert got == [(1, 1), (2, 3), (3, 2)]
    pure = [(r["rank"], r.vec_id) for r in
            mmr_rerank(df, q, k=3, pool=3, lam=1.0).collect()]
    assert pure == [(1, 1), (2, 2), (3, 3)]


def test_int8_quantization_identity_and_recall(spark):
    """The corrective de-quantized dot reproduces the true dot within
    quantization error (|err| <= dim * s * (|a|_inf + |b|_inf) bound is
    loose; check a practical tolerance); top-k recall vs exact cosine
    is perfect on a spread-out corpus; constant corpus (vmax == vmin)
    doesn't divide by zero."""
    import math

    from pyspark.sql import functions as F  # noqa: F401

    from harmonize_search_analyze_spark.operators.similarity import (
        cosine_topk,
        int8_topk,
    )

    qvec = [math.sin(i * 0.7 + 0.3) for i in range(16)]
    rows = [
        (i, [math.cos(i * j * 0.13) for j in range(16)]) for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = int8_topk(df, qvec, k=10, shortlist=60).collect()
    exact = cosine_topk(df, "embedding", qvec, k=10).collect()
    assert {r.vec_id for r in got} == {r.vec_id for r in exact}
    # int8_score approximates the true dot
    byid = {r[0]: r[1] for r in rows}
    for r in got:
        true_dot = sum(a * b for a, b in zip(byid[r.vec_id], qvec))
        assert abs(r.int8_score - true_dot) < 0.05, (r, true_dot)
    # degenerate: all components equal -> scale pins to 1, no crash
    const = spark.createDataFrame(
        [(i, [0.5] * 16) for i in range(5)], ["vec_id", "embedding"]
    )
    out = int8_topk(const, qvec, k=3, shortlist=5).collect()
    assert len(out) == 3


def test_random_projection_jl_property(spark):
    """Pairwise squared distances are preserved in expectation: with
    out_dim=64 over 32-d inputs, every sampled pair's distance ratio
    lands within the eps ~ sqrt(8 ln n / k) JL envelope; the projection
    plan is map-only (no shuffle)."""
    import math
    import itertools

    from harmonize_search_analyze_spark.operators.similarity import (
        random_project,
    )

    rows = [
        (i, [math.sin(0.7 * i * j + 0.2 * j) for j in range(32)])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = random_project(df, 32, 64, seed=11)
    got = {r.vec_id: list(r.projected) for r in out.collect()}
    byid = dict(rows)

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    for i, j in itertools.combinations(range(20), 2):
        orig = d2(byid[i], byid[j])
        proj = d2(got[i], got[j])
        assert 0.4 < proj / orig < 1.9, (i, j, proj / orig)
    # map-only: no exchange in the projection plan
    plan = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_random_projection_deterministic(spark):
    """Same (in_dim, out_dim, seed) -> identical projection across
    sessions/calls (the literal-plane pin)."""
    from harmonize_search_analyze_spark.operators.similarity import (
        _project_vec,
        random_project,
    )

    v = [float(j % 5) - 2.0 for j in range(16)]
    df = spark.createDataFrame([(0, v)], ["vec_id", "embedding"])
    a = list(random_project(df, 16, 8, seed=3).collect()[0].projected)
    b = list(random_project(df, 16, 8, seed=3).collect()[0].projected)
    assert a == b
    # the driver-side twin matches the distributed expression exactly
    c = _project_vec(v, 8, 3)
    assert all(abs(x - y) < 1e-12 for x, y in zip(a, c))


def test_ivf_persisted_index_partition_pruning(spark, tmp_path):
    """The persisted IVF index makes probing a PARTITION PRUNE: the
    executed scan opens only the nprobe partitions' files (counted via
    input_file_name on the same filtered frame), and the indexed
    search returns exactly the in-memory ivf_search answer."""
    import math

    from pyspark.sql import functions as F

    from harmonize_search_analyze_spark.operators.similarity import (
        assign_centroids,
        ivf_search,
        ivf_search_indexed,
        ivf_write,
        kmeans_train,
    )

    rows = [
        (i, [math.sin(0.31 * i * j + 0.17 * j) for j in range(16)])
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qvec = [math.cos(0.23 * j) for j in range(16)]
    cents = kmeans_train(df, n_centroids=8, n_iters=4, vec_col="embedding")
    path = str(tmp_path / "ivf")
    ivf_write(df, cents, path)
    got = [
        (r.vec_id, r.cosine)
        for r in ivf_search_indexed(
            spark, path, qvec, k=10, nprobe=2
        ).collect()
    ]
    assigned = assign_centroids(df, cents)
    want = [
        (r.vec_id, r.cosine)
        for r in ivf_search(
            df, cents, assigned, qvec, k=10, nprobe=2
        ).collect()
    ]
    assert got == want
    # pruning: the probed scan touches files from exactly 2 partitions
    vectors = spark.read.parquet(f"{path}/vectors")
    all_parts = {
        r.centroid_id for r in vectors.select("centroid_id").distinct().collect()
    }
    assert len(all_parts) > 2
    centroids = spark.read.parquet(f"{path}/centroids")
    from harmonize_search_analyze_spark.operators.similarity import (
        cosine_score,
    )

    probe = [
        r.centroid_id
        for r in centroids.select(
            "centroid_id",
            F.round(cosine_score("cvec", qvec), 6).alias("s"),
        ).orderBy(F.desc("s"), F.asc("centroid_id")).limit(2).collect()
    ]
    touched = (
        vectors.where(F.col("centroid_id").isin(probe))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    dirs = {r.f.rsplit("/", 2)[-2] for r in touched}
    assert dirs == {f"centroid_id={p}" for p in probe}


def test_int8_persisted_index_storage_and_answer(spark, tmp_path):
    """The persisted quantized index is genuinely ~4x smaller on disk
    than the raw float vectors (TINYINT physical type), and the
    indexed search returns EXACTLY the in-memory int8_topk answer."""
    import math
    import pathlib

    from harmonize_search_analyze_spark.operators.similarity import (
        int8_search_indexed,
        int8_topk,
        int8_write,
    )

    rows = [
        (i, [math.sin(0.41 * i * j + 0.05 * j) for j in range(64)])
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qvec = [math.cos(0.19 * j) for j in range(64)]
    base = str(tmp_path / "idx")
    int8_write(df, base)
    raw_path = str(tmp_path / "raw")
    df.write.mode("overwrite").parquet(raw_path)

    def du(p):
        return sum(
            f.stat().st_size
            for f in pathlib.Path(p).rglob("*.parquet")
        )

    ratio = du(raw_path) / du(f"{base}/q")
    assert ratio > 3.0, ratio
    got = [tuple(r) for r in int8_search_indexed(
        spark, base, df, qvec, k=10, shortlist=100
    ).collect()]
    want = [tuple(r) for r in int8_topk(
        df, qvec, k=10, shortlist=100
    ).collect()]
    assert got == want


def test_bitext_mine_margin_and_strategies(spark):
    """Margin scoring demotes hub vectors (high raw cosine to
    everything, low margin); intersect keeps mutual nearest pairs only;
    threshold filters; bad args raise."""
    import pytest

    from harmonize_search_analyze_spark.operators.similarity import (
        bitext_mine,
    )

    # src 1 and tgt 11 are a clean pair; tgt 12 is a HUB (close to both
    # sources but closer to src 2's direction); src 2 pairs with it
    src = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    tgt = spark.createDataFrame(
        [(11, [0.98, 0.1, 0.0]), (12, [0.5, 0.85, 0.0]),
         (13, [0.0, 0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    fwd = {
        (r.src_id, r.tgt_id): (r.cosine, r.margin)
        for r in bitext_mine(
            src, tgt, k=2, threshold=0.0, strategy="forward"
        ).collect()
    }
    assert set(fwd) == {(1, 11), (2, 12)}
    # the clean pair's margin beats the hub-mediated pair's
    assert fwd[(1, 11)][1] > fwd[(2, 12)][1]
    inter = bitext_mine(
        src, tgt, k=2, threshold=0.0, strategy="intersect"
    ).collect()
    assert {(r.src_id, r.tgt_id) for r in inter} == {(1, 11), (2, 12)}
    # a high threshold drops the weaker pair
    strict = bitext_mine(
        src, tgt, k=2, threshold=fwd[(2, 12)][1] + 1e-6,
        strategy="forward",
    ).collect()
    assert {(r.src_id, r.tgt_id) for r in strict} == {(1, 11)}
    with pytest.raises(ValueError, match="strategy"):
        bitext_mine(src, tgt, strategy="union")
    with pytest.raises(ValueError, match="k"):
        bitext_mine(src, tgt, k=0)


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    from harmonize_search_analyze_spark.operators.similarity import (
        embedding_covariance,
    )

    rng = np.random.RandomState(7)
    x = rng.randn(200, 5)
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)],
        "id long, embedding array<double>",
    )
    got = {(r["i"], r["j"]): r["cov"]
           for r in embedding_covariance(df, "embedding", d=5).collect()}
    want = np.cov(x, rowvar=False, bias=True)
    assert len(got) == 15
    for (i, j), v in got.items():
        assert abs(v - want[i, j]) < 1e-6, (i, j)


def test_embedding_pca_recovers_dominant_direction(spark):
    import numpy as np

    from harmonize_search_analyze_spark.operators.similarity import (
        embedding_pca,
    )

    rng = np.random.RandomState(3)
    # variance concentrated on a known direction
    direction = np.array([3.0, 1.0, 0.0, 0.0])
    direction /= np.linalg.norm(direction)
    t = rng.randn(300)
    x = np.outer(t * 10.0, direction) + rng.randn(300, 4) * 0.1
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)],
        "id long, embedding array<double>",
    )
    rows = embedding_pca(df, "id", "embedding", d=4, k=1).collect()
    comp = {r["id"]: r["components"][0] for r in rows}
    proj = np.array([comp[i] for i in range(300)])
    # PC1 scores correlate ~1 with the generating coefficient
    corr = np.corrcoef(proj, t)[0, 1]
    assert abs(corr) > 0.99
    # sign pin: largest-|coeff| axis positive means proj sign tracks
    # the direction's dominant (first) axis -> positive correlation
    assert corr > 0


def test_embedding_pca_whiten_unit_variance(spark):
    import numpy as np

    from harmonize_search_analyze_spark.operators.similarity import (
        embedding_pca,
    )

    rng = np.random.RandomState(11)
    x = rng.randn(500, 6) * np.array([5.0, 3.0, 1.0, 0.5, 0.2, 0.1])
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)],
        "id long, embedding array<double>",
    )
    rows = embedding_pca(
        df, "id", "embedding", d=6, k=3, whiten=True
    ).collect()
    p = np.array([r["components"] for r in rows])
    v = p.var(axis=0)
    assert np.all(np.abs(v - 1.0) < 0.05), v


def test_embedding_pca_deterministic_across_partitionings(spark):
    import numpy as np

    from harmonize_search_analyze_spark.operators.similarity import (
        embedding_pca,
    )

    rng = np.random.RandomState(5)
    x = rng.randn(120, 4)
    rows = [(i, r.tolist()) for i, r in enumerate(x)]
    a = spark.createDataFrame(rows, "id long, embedding array<double>")
    b = spark.createDataFrame(rows, "id long, embedding array<double>") \
        .repartition(7)
    pa = {r["id"]: r["components"]
          for r in embedding_pca(a, "id", "embedding", d=4, k=2).collect()}
    pb = {r["id"]: r["components"]
          for r in embedding_pca(b, "id", "embedding", d=4, k=2).collect()}
    # rounded-6 outputs identical under different partitionings
    assert pa == pb


def test_kcenter_select_farthest_point_property(spark):
    from harmonize_search_analyze_spark.operators.similarity import (
        kcenter_select,
    )

    # three tight clusters far apart + noise: the first 3 picks must
    # land in 3 DIFFERENT clusters (the whole point of k-center)
    pts = (
        [(i, [0.0 + 0.01 * i, 0.0]) for i in range(10)]
        + [(100 + i, [100.0 + 0.01 * i, 0.0]) for i in range(10)]
        + [(200 + i, [50.0, 87.0 + 0.01 * i]) for i in range(10)]
    )
    df = spark.createDataFrame(pts, "id long, v array<double>")
    out = kcenter_select(df, "id", "v", k=3).collect()
    clusters = {r["id"] // 100 for r in out}
    assert clusters == {0, 1, 2}
    # ranks are 0..2 and coverage radii non-increasing after the seed
    assert [r["rank"] for r in out] == [0, 1, 2]
    assert out[2]["d2"] <= out[1]["d2"]


@pytest.mark.slow
def test_kcenter_select_deterministic_and_seed_matches(spark):
    from harmonize_search_analyze_spark.operators.similarity import (
        kcenter_seed, kcenter_select,
    )

    pts = [(i, [float((i * 7) % 13), float((i * 5) % 11)])
           for i in range(50)]
    df = spark.createDataFrame(pts, "id long, v array<double>")
    a = kcenter_select(df, "id", "v", k=5).collect()
    b = kcenter_select(df.repartition(7), "id", "v", k=5).collect()
    assert [r["id"] for r in a] == [r["id"] for r in b]
    assert a[0]["id"] == kcenter_seed(df, "id", "v").collect()[0][0]


def test_kcenter_seed_sql_matches_dataframe(spark):
    import duckdb

    from harmonize_search_analyze_spark.operators.similarity import (
        kcenter_seed, kcenter_seed_sql,
    )

    pts = [(i, [float((i * 3) % 7), float((i * 2) % 5), float(i % 4)])
           for i in range(30)]
    df_row = kcenter_seed(
        spark.createDataFrame(pts, "id long, v array<double>"), "id", "v"
    ).collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, v DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?,?)", pts)
    want = con.execute(
        kcenter_seed_sql("t", "id", "v", "duckdb", d=3)
    ).fetchall()[0]
    assert tuple(df_row) == want


def test_simplified_silhouette_hand_values(spark):
    from harmonize_search_analyze_spark.operators.similarity import (
        simplified_silhouette,
    )

    # two centroids at x=0 and x=10; points near each
    pts = spark.createDataFrame(
        [(1, [1.0]), (2, [0.5]), (3, [9.0]), (4, [10.5])],
        "id long, v array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [0.0]), (1, [10.0])], "centroid_id int, cvec array<double>"
    )
    out = {r["centroid_id"]: r for r in simplified_silhouette(
        pts, "id", "v", cents).collect()}
    # point 1: a=1, b=9 -> s=8/9 ; point 2: a=.5, b=9.5 -> s=9/9.5
    import statistics
    want0 = round(statistics.mean([8 / 9, 9 / 9.5]), 6)
    assert out[0]["n"] == 2 and out[0]["avg_silhouette"] == want0
    # point exactly between would score 0; these score high
    assert out[1]["avg_silhouette"] > 0.8


def test_simplified_silhouette_equidistant_zero(spark):
    from harmonize_search_analyze_spark.operators.similarity import (
        simplified_silhouette,
    )

    pts = spark.createDataFrame([(1, [5.0])], "id long, v array<double>")
    cents = spark.createDataFrame(
        [(0, [0.0]), (1, [10.0])], "centroid_id int, cvec array<double>"
    )
    r = simplified_silhouette(pts, "id", "v", cents).collect()[0]
    # equidistant: a == b -> s = 0, assigned to the LOWER centroid id
    assert r["centroid_id"] == 0 and r["avg_silhouette"] == 0.0


def test_simplified_silhouette_single_centroid_refused(spark):
    import pytest

    from harmonize_search_analyze_spark.operators.similarity import (
        simplified_silhouette,
    )

    pts = spark.createDataFrame([(1, [1.0])], "id long, v array<double>")
    cents = spark.createDataFrame(
        [(0, [0.0])], "centroid_id int, cvec array<double>"
    )
    with pytest.raises(ValueError, match=">= 2 centroids"):
        simplified_silhouette(pts, "id", "v", cents)


# -- driver-assembled centroid / codebook frames ------------------------------
# Centroids and codebooks are built on the driver through local_frame: one
# LocalRelation, so reading them back fans out no near-empty Python-worker
# tasks and runs no job.


def _collect_jobs(spark, df) -> tuple[list, int]:
    sc = spark.sparkContext
    group = f"driver-frame-{id(df)}"
    try:
        sc.setJobGroup(group, "collect")
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def _is_local_relation(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return plan.startswith("LocalRelation")


def _grid(spark):
    return spark.createDataFrame(
        [(i, [float(i % 4), float(i // 4)]) for i in range(16)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )


def test_pq_codebooks_are_one_local_relation(spark):
    from harmonize_search_analyze_spark.operators.similarity import (
        pq_refs_codebooks,
        pq_train,
    )

    vecs = _grid(spark)
    ddl = "subspace INT, centroid_id INT, cvec ARRAY<DOUBLE>"
    refs = pq_refs_codebooks(vecs, [0, 5, 10], m=2)
    assert refs.schema == spark.createDataFrame([], ddl).schema
    assert sorted(map(tuple, refs.collect())) == sorted(
        (j, cid, [v[j]])
        for cid, v in enumerate([[0.0, 0.0], [1.0, 1.0], [2.0, 2.0]])
        for j in range(2)
    )
    books = pq_train(vecs, m=2, n_centroids=4, n_iters=2)
    assert books.schema == refs.schema
    assert _is_local_relation(books)
    got, jobs = _collect_jobs(spark, books)
    assert jobs == 0
    assert len(got) == 2 * 4


def test_centroid_frame_empty(spark):
    from harmonize_search_analyze_spark.sources.tables import local_frame

    out = local_frame(spark, [], "centroid_id INT, cvec ARRAY<DOUBLE>")
    assert [f.name for f in out.schema.fields] == ["centroid_id", "cvec"]
    assert _collect_jobs(spark, out) == ([], 0)


def test_kmeans_train_centroids_collect_without_job(spark):
    from harmonize_search_analyze_spark.operators.similarity import (
        kmeans_train,
    )

    cents = kmeans_train(_grid(spark), n_centroids=4, n_iters=2)
    assert _is_local_relation(cents)
    got, jobs = _collect_jobs(spark, cents)
    assert jobs == 0
    assert len(got) == 4


def test_similarity_stages_use_the_arrow_vector_helper():
    """Every numpy stage in similarity.py goes through ``_vector_map`` and
    ``_matrix``; the pandas detour and its per-site copies stay out."""
    import pathlib

    from harmonize_search_analyze_spark.operators import similarity as sm

    src = pathlib.Path(sm.__file__).read_text()
    for banned in ("np.vstack(", "mapInPandas", "applyInPandas"):
        assert banned not in src, banned


def test_similarity_import_loads_no_sibling_operators():
    """A Python worker unpickling ``_matrix`` imports ``operators.similarity``;
    the ``operators`` package must not pull every other operator in too."""
    import subprocess
    import sys

    code = (
        "import sys\n"
        "import harmonize_search_analyze_spark.operators.similarity\n"
        "p = 'harmonize_search_analyze_spark.operators.'\n"
        "print(sorted(m for m in sys.modules if m.startswith(p)))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], check=True,
                         capture_output=True, text=True).stdout
    for sibling in ("aggregations", "text", "curation_pipeline"):
        assert f"operators.{sibling}'" not in out, out
    assert "operators.similarity'" in out


def test_matrix_reads_a_sliced_batch_at_its_offset():
    import pyarrow as pa

    from harmonize_search_analyze_spark.operators.similarity import _matrix

    rows = [[float(i), float(-i), 0.5] for i in range(6)]
    batch = pa.RecordBatch.from_pydict({"v": rows}).slice(2, 3)
    assert _matrix(batch, "v").tolist() == rows[2:5]
    assert _matrix(batch.slice(0, 0), "v").shape == (0, 0)


@pytest.mark.parametrize("rows", [
    [[1.0, 2.0], [3.0]],           # ragged
    [[1.0], [2.0, 3.0], [4.0]],    # ragged, lengths sum to n * d
    [[1.0, 2.0], None],            # null vector
])
def test_matrix_refuses_ragged_and_null_vectors(rows):
    import pyarrow as pa

    from harmonize_search_analyze_spark.operators.similarity import _matrix

    batch = pa.RecordBatch.from_pydict(
        {"emb": pa.array(rows, pa.list_(pa.float64()))}
    )
    with pytest.raises(ValueError, match="emb"):
        _matrix(batch, "emb")


def test_vector_map_skips_empty_input(spark):
    from pyspark.sql import functions as F

    from harmonize_search_analyze_spark.operators.similarity import (
        _vector_map,
        embedding_near_dup_lsh,
    )

    def fn(batch):
        assert batch.num_rows
        return {"id": batch.column("id")}

    empty = spark.range(8).where(F.lit(False)).select(
        "id", F.array(F.col("id").cast("double")).alias("v")
    )
    assert _vector_map(empty, fn, "id long").collect() == []
    vecs = empty.select(F.col("id").alias("vec_id"),
                        F.array_repeat(F.lit(1.0), 4).alias("embedding"))
    assert embedding_near_dup_lsh(vecs, dim=4, n_bands=2,
                                  bits_per_band=2).collect() == []


def test_vector_map_builds_the_declared_types(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from harmonize_search_analyze_spark.operators.similarity import (
        _matrix,
        _vector_map,
    )

    vecs = spark.range(5).select(
        F.col("id").cast("int").alias("id"),
        F.array(F.col("id").cast("double"), F.lit(0.0)).alias("v"),
    )

    def fn(batch):
        x = _matrix(batch, "v")
        return {
            "id": batch.column("id"),               # int -> long
            "v": batch.column("v"),                 # passes through
            "ints": (x * 2).astype(np.int64),       # 2-D -> array<int>
            "longs": (x * 3).astype(np.int32),      # 2-D -> array<long>
            "cos": np.divide(x[:, 1], x[:, 1], where=x[:, 1] != 0,
                             out=np.full(len(x), np.nan)),  # NaN -> null
        }

    ddl = ("id long, v array<double>, ints array<int>, longs array<long>,"
           " cos double")
    out = _vector_map(vecs, fn, ddl)
    rows = sorted(out.collect())
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("id", "bigint"), ("v", "array<double>"), ("ints", "array<int>"),
        ("longs", "array<bigint>"), ("cos", "double"),
    ]
    assert [tuple(r) for r in rows] == [
        (i, [float(i), 0.0], [2 * i, 0], [3 * i, 0], None) for i in range(5)
    ]
