"""Similarity search over an embedding column (``array<float>``).

Two paths (BASELINE.json north star):

- **brute-force cosine top-k** — the exact baseline. One scan, a codegen'd
  fold for the dot product, TakeOrderedAndProject for the top-k (no global
  sort materialized). At 100 TB this is the per-partition map + bounded
  heap-merge plan Spark already gives us.
- **IVF (inverted file) search** — the scale path. Build: pick C centroids
  deterministically, assign every vector to its nearest centroid (broadcast
  the C centroids — never shuffle the big side). Search: score the query
  against centroids, probe the best ``nprobe`` lists, brute-force only
  within those partitions. Recall < 1.0 by construction; the brute path is
  the oracle for it.

All arithmetic is double-precision sequential folds so results are
bit-reproducible against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, GroupedData, Window
from pyspark.sql import functions as F

from harmonize_search_analyze_spark.functions.caching import checkpoint
from harmonize_search_analyze_spark.sources.tables import local_frame


def _matrix(batch, name: str):
    """Column ``name`` of an Arrow batch or table, a list per row, as an
    ``(n, d)`` float64 matrix: a zero-copy view of a null-free double
    column. ``list_flatten`` and not ``.values``, which ignores a sliced
    batch's offset. A null or ragged row raises ``ValueError``, where a
    bare reshape would take ragged rows whose lengths sum to ``n * d``."""
    import numpy as np
    import pyarrow.compute as pc

    col = batch.column(name)
    lens = pc.list_value_length(col)
    d = pc.max(lens).as_py() or 0
    if col.null_count or pc.min(lens).as_py() not in (None, d):
        raise ValueError(f"{name}: vectors must be non-null, of one length")
    flat = np.asarray(pc.list_flatten(col)).astype(np.float64, copy=False)
    return flat.reshape(len(col), d)


def _vector_map(frame, fn, ddl: str) -> DataFrame:
    """The numpy operators' one Arrow stage: ``mapInArrow`` over a frame's
    non-empty batches, or ``applyInArrow`` over a ``groupBy``'s groups.
    ``fn(batch)`` returns a dict of columns, built to ``ddl``'s Arrow
    schema: Arrow columns pass through zero-copy, a 2-D array becomes a
    list per row, and NaN becomes null, as the pandas conversion made it."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = to_arrow_schema(StructType.fromDDL(ddl))

    def arrow(v, t):
        if isinstance(v, pa.Array):
            return v if v.type == t else v.cast(t)
        v = np.asarray(v)
        if v.ndim == 1:
            return pa.array(v, t, from_pandas=True)
        n, d = v.shape
        return pa.ListArray.from_arrays(
            pa.array(np.arange(n + 1, dtype=np.int32) * d),
            pa.array(v.ravel(), t.value_type, from_pandas=True), type=t,
        )

    def build(batch):
        cols = fn(batch)
        return pa.Table.from_arrays(
            [arrow(cols[f.name], f.type) for f in schema], schema=schema
        )

    if isinstance(frame, GroupedData):
        return frame.applyInArrow(build, ddl)

    def run(batches):
        for batch in batches:
            if batch.num_rows:
                yield from build(batch).to_batches()

    return frame.mapInArrow(run, ddl)


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({a}, x -> x * x), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
    )


def _qvec_lit(qvec: list[float]) -> str:
    return "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in qvec) + ")"


def cosine_score(vec_col: str, qvec: list[float]) -> F.Column:
    """Cosine similarity of a vector column against a literal query vector."""
    import math

    q = _qvec_lit(qvec)
    qnorm = math.sqrt(sum(v * v for v in qvec))
    emb = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    # try_divide: a zero vector has norm 0 — cosine undefined, NULL (raw
    # division aborts the job under ANSI mode; DuckDB's /0 is NULL too)
    return F.try_divide(
        F.expr(_dot_sql(emb, q)), F.expr(_norm_sql(emb)) * F.lit(qnorm)
    )


def cosine_topk(
    df: DataFrame, vec_col: str, qvec: list[float], k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force top-k by cosine (rounded for stable ordering)."""
    return (
        df.select(
            id_col,
            F.round(cosine_score(vec_col, qvec), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def ivf_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    n_centroids: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Build the IVF index: (centroids, assignments).

    Centroids are the vectors whose id ranks first in each of
    ``n_centroids`` deterministic id-hash buckets (a seeded sample without a
    random() call, so build is reproducible). Assignment broadcasts the
    centroid table and computes argmin L2 per row — a map-only job.
    """
    w = Window.partitionBy("bucket").orderBy(id_col)
    centroids = (
        df.select(
            id_col,
            F.col(vec_col).cast("array<double>").alias("cvec"),
            (F.col(id_col) % n_centroids).alias("bucket"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("bucket").alias("centroid_id"), "cvec")
    )
    vecs = df.select(id_col, F.col(vec_col).cast("array<double>").alias("dvec"))
    dist = F.expr(
        "aggregate(zip_with(dvec, cvec, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    w_min = Window.partitionBy(id_col).orderBy("d2", "centroid_id")
    assignments = (
        vecs.crossJoin(F.broadcast(centroids))
        # rounded so the argmin tie-break is reproducible across engines
        .withColumn("d2", F.round(dist, 6))
        .withColumn("rn", F.row_number().over(w_min))
        .where(F.col("rn") == 1)
        .select(id_col, "centroid_id")
    )
    return centroids, assignments


def _assign_literal(
    df: DataFrame,
    crows: list[tuple[int, list[float]]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_vec: bool = False,
) -> DataFrame:
    """Argmin-L2 assignment against driver-resident centroid rows (sorted
    (centroid_id, vector) tuples), as ONE map-only ``_vector_map`` stage:
    the KB-sized centroid matrix ships in the task closure and each Arrow
    batch is one numpy distance computation (n x C x dim in C, not Python).

    This is the one place an Arrow-batch numpy stage beats every relational
    encoding, measured: a crossJoin+window argmin explodes rows x C and
    shuffles (~15s for the gated query); inlining per-centroid literal
    distance expressions hits Catalyst's giant-expression-tree analysis
    cliff (C x dim terms per column -> ~55s for the same query); the Arrow
    stage runs it in ~1s. At 100 TB it stays a single narrow scan — no
    shuffle, no row explosion — exactly how MLlib's JVM k-means assigns.

    Distances are rounded to 6 decimals before the argmin and ties break to
    the lowest centroid_id (numpy argmin picks the first minimum; crows are
    sorted), so assignment is reproducible and partitioning-independent.
    """
    if not crows:
        raise ValueError("centroids is empty")
    import numpy as np

    cmat = np.asarray([c for _, c in crows], dtype=np.float64)
    cids = np.asarray([cid for cid, _ in crows], dtype=np.int32)
    c_sq = (cmat * cmat).sum(axis=1)
    out_schema = f"{id_col} long, centroid_id int, d2 double" + (
        ", dvec array<double>" if keep_vec else ""
    )

    def assign(batch):
        x = _matrix(batch, "dvec")
        # |x-c|^2 = |x|^2 + |c|^2 - 2 x.c ; clip fp negatives at 0
        d2 = (x * x).sum(axis=1)[:, None] + c_sq[None, :] - 2.0 * (x @ cmat.T)
        d2 = np.round(np.maximum(d2, 0.0), 6)
        j = d2.argmin(axis=1)
        return {
            id_col: batch.column(id_col),
            "centroid_id": cids[j],
            "d2": d2[np.arange(len(j)), j],
            "dvec": batch.column("dvec"),
        }

    vecs = df.select(
        id_col, F.col(vec_col).cast("array<double>").alias("dvec")
    )
    return _vector_map(vecs, assign, out_schema)


def _collect_centroids(centroids: DataFrame) -> list[tuple[int, list[float]]]:
    return sorted(
        (r[0], list(r[1]))
        for r in centroids.select("centroid_id", "cvec").collect()
    )


def assign_centroids(
    df: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_vec: bool = False,
) -> DataFrame:
    """Argmin-L2 assignment of every vector to a centroid. The centroid
    table is METADATA-sized (C x dim doubles, a few KB) so it is collected
    and shipped in the closure of one ``_vector_map`` stage — see
    ``_assign_literal`` for the scale argument.

    Ties break to the lowest centroid_id (distances rounded to 6 decimals
    first so the argmin is reproducible across engines). Returns
    (id, centroid_id, d2) — plus the double-cast vector column ``dvec``
    when ``keep_vec`` (lets iterative callers avoid a join-back re-scan).
    """
    return _assign_literal(
        df, _collect_centroids(centroids),
        vec_col=vec_col, id_col=id_col, keep_vec=keep_vec,
    )


def cluster_balanced_sample(
    emb: DataFrame,
    centroids: DataFrame,
    cap: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Diversity-capped sampling: at most ``cap`` vectors per semantic
    cluster, chosen by deterministic hash order (ties -> lowest id). The
    cluster-balanced cousin of ``stratified_sample`` — where that caps
    per CATEGORICAL stratum, this caps per k-means/IVF region, the
    standard way to keep a corpus slice semantically diverse instead of
    letting dense regions dominate (the sampling half of the SemDeDup
    recipe).

    Scale shape: one map-only Arrow argmin assignment (broadcast
    centroid matrix, no shuffle) + ONE window keyed by centroid_id whose
    per-partition state is bounded by the cluster population — no
    global sort, no pair generation. Returns (id, centroid_id)."""
    if cap < 1:
        raise ValueError("cap must be >= 1")
    from harmonize_search_analyze_spark.functions.hashing import hash64_sql

    assigned = assign_centroids(
        emb, centroids, vec_col=vec_col, id_col=id_col
    )
    gate = hash64_sql(
        f"('{int(seed)}:cbs:' || CAST({id_col} AS STRING))", "spark"
    )
    w = Window.partitionBy("centroid_id").orderBy(
        F.expr(gate), F.col(id_col)
    )
    return (
        assigned.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= cap)
        .select(id_col, "centroid_id")
    )


def kmeans_init_farthest(
    df: DataFrame,
    n_centroids: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic farthest-first seeding (k-means++ without the RNG):
    start from the minimum-id vector, then repeatedly add the point
    farthest from its nearest chosen centroid (ties -> lowest id). C-1
    distributed max-passes at build time; immune to the hash-init failure
    where adjacent ids land in one cluster."""
    spark = df.sparkSession
    chosen = _init_farthest_rows(
        df, n_centroids, vec_col=vec_col, id_col=id_col
    )
    return local_frame(spark, chosen, "centroid_id INT, cvec ARRAY<DOUBLE>")


def _init_oversample_rows(
    df: DataFrame,
    n_centroids: int,
    *,
    vec_col: str,
    id_col: str,
    factor: int = 10,
) -> list[tuple[int, list[float]]]:
    """k-means||-style seeding in ONE distributed pass: deterministically
    sample ``factor * n_centroids`` candidate vectors (hash-ordered, so the
    sample is stable and spread across the id space — TakeOrdered, no
    shuffle), then run farthest-first locally on the KB-sized candidate
    matrix in numpy. Same robustness story as the exact distributed
    farthest-first (a candidate set 10x the centroid count covers every
    real cluster with overwhelming probability) at 1/(C-1) the passes."""
    import numpy as np

    n_cand = max(factor * n_centroids, n_centroids)
    cand = (
        df.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(n_cand)
        .collect()
    )
    if len(cand) < n_centroids:
        raise ValueError(
            f"need >= {n_centroids} vectors to seed, got {len(cand)}"
        )
    # stable candidate order: by id, start from the minimum id
    cand = sorted(cand, key=lambda r: r[0])
    mat = np.asarray([list(r["v"]) for r in cand], dtype=np.float64)
    picked = [0]
    # distance of every candidate to its nearest picked seed
    d2 = ((mat - mat[0]) ** 2).sum(axis=1)
    for _ in range(1, n_centroids):
        nxt = int(np.round(d2, 6).argmax())  # ties -> lowest index/id
        picked.append(nxt)
        d2 = np.minimum(d2, ((mat - mat[nxt]) ** 2).sum(axis=1))
    return [(i, [float(x) for x in mat[p]]) for i, p in enumerate(picked)]


def _init_farthest_rows(
    df: DataFrame,
    n_centroids: int,
    *,
    vec_col: str,
    id_col: str,
) -> list[tuple[int, list[float]]]:
    first = (
        df.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(id_col)
        .limit(1)
        .collect()[0]
    )
    chosen = [(0, list(first["v"]))]
    for i in range(1, n_centroids):
        # one narrow scan + TakeOrdered(1); keep_vec avoids a join-back
        far = (
            _assign_literal(
                df, chosen, vec_col=vec_col, id_col=id_col, keep_vec=True
            )
            .orderBy(F.desc("d2"), F.asc(id_col))
            .limit(1)
            .collect()[0]
        )
        chosen.append((i, list(far["dvec"])))
    return chosen


def kmeans_train(
    df: DataFrame,
    *,
    n_centroids: int = 16,
    n_iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    init: str = "oversample",
) -> DataFrame:
    """Lloyd's k-means for IVF centroid training (the quality upgrade over
    ``ivf_assign``'s hash-picked seeds). Per iteration:

    1. assign — broadcast centroids, argmin L2, map-only (assign_centroids)
    2. update — per-dimension mean via posexplode -> (centroid, dim) hash
       agg -> regroup into arrays; empty clusters keep their old centroid

    The C x dim centroid matrix is collected to the driver between
    iterations — the one justified ``collect()`` in an iterative algorithm:
    it is METADATA-sized (kilobytes), and holding it driver-side keeps every
    iteration's plan two stages deep instead of accreting a 2*n_iters-stage
    lineage. All heavy work (assignment, dimension means) stays distributed.
    Fully deterministic; cluster means are rounded to stabilize cross-run
    float summation order.

    ``init``: 'oversample' (default — k-means||-style one-pass candidate
    sample + local farthest-first, robust and cheap), 'farthest' (exact
    distributed farthest-first, C-1 passes), or 'hash' (ivf_assign's
    id-bucket pick, zero extra passes, degrades when adjacent ids cluster
    together).
    """
    if n_iters < 1:
        raise ValueError("n_iters must be >= 1")
    spark = df.sparkSession
    if init == "oversample":
        crows = _init_oversample_rows(
            df, n_centroids, vec_col=vec_col, id_col=id_col
        )
    elif init == "farthest":
        crows = _init_farthest_rows(
            df, n_centroids, vec_col=vec_col, id_col=id_col
        )
    elif init == "hash":
        seed_df, _ = ivf_assign(
            df, vec_col=vec_col, id_col=id_col, n_centroids=n_centroids
        )
        crows = _collect_centroids(seed_df)
    else:
        raise ValueError("init must be 'oversample', 'farthest' or 'hash'")
    for _ in range(n_iters):
        # assign (map-only, keep_vec) -> per-dim mean: ONE distributed pass
        means = (
            _assign_literal(
                df, crows, vec_col=vec_col, id_col=id_col, keep_vec=True
            )
            .select("centroid_id", F.posexplode("dvec").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.round(F.avg("x"), 9).alias("m"))
            .collect()   # C x dim doubles — metadata-sized
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r["centroid_id"], {})[r["pos"]] = r["m"]
        # empty clusters keep their previous centroid
        crows = [
            (cid, [by_cid[cid][k] for k in range(len(old))])
            if cid in by_cid else (cid, old)
            for cid, old in crows
        ]
    return local_frame(spark, crows, "centroid_id INT, cvec ARRAY<DOUBLE>")


def kmeans_inertia(
    df: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> float:
    """Sum of squared distances to the assigned centroid — the quantity
    Lloyd's iterations monotonically decrease (tested)."""
    return (
        assign_centroids(df, centroids, vec_col=vec_col, id_col=id_col)
        .agg(F.sum("d2").alias("s"))
        .collect()[0]["s"]
    )


def ivf_search(
    df: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    qvec: list[float],
    *,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the ``nprobe`` centroid lists nearest the query, then exact
    cosine within them. At scale the assignments frame is written
    partitioned by centroid_id, so probing is partition pruning."""
    probe_ids = [
        r.centroid_id
        for r in centroids.select(
            "centroid_id",
            F.round(cosine_score("cvec", qvec), 6).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("centroid_id"))
        .limit(nprobe)
        .collect()
    ]
    shortlist = assignments.where(F.col("centroid_id").isin(probe_ids))
    return cosine_topk(
        df.join(shortlist.select(id_col), id_col), vec_col, qvec, k, id_col
    )


def _mix64(x: int) -> int:
    """splitmix64 finalizer — a published integer hash with full avalanche;
    deterministic forever, no library RNG stream to drift across versions."""
    mask = (1 << 64) - 1
    x = (x + 0x9E3779B97F4A7C15) & mask
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & mask
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & mask
    return (x ^ (x >> 31)) & mask


def hyperplanes(dim: int, n_bits: int, seed: int = 7) -> list[list[float]]:
    """Deterministic GAUSSIAN hyperplanes for sign-LSH: entry (j, i) is a
    Box-Muller normal driven by splitmix64 of (seed, j, i) — pure
    arithmetic, so Spark, the DuckDB oracle, and any re-run derive the
    identical family from (dim, n_bits, seed), independent of any RNG
    library's stream stability.

    Gaussian (isotropic) directions matter, not just determinism: the
    earlier ``sin(seed + j*dim + i)`` family made consecutive planes
    phase-shifted copies of one sinusoid (correlation ~cos(dim mod 2pi) ~
    0.39 at dim=64), so sign bits were correlated, band-key buckets
    skewed, and the candidate join blew up ~3x at sf0.1 and ~16x at 20k
    vectors versus independent planes — a super-linear scale defect.
    Measured on the sf0.1 embeddings (PERFORMANCE.md round 3): equal
    recall at one third the candidates after the switch."""
    import math

    out = []
    for j in range(n_bits):
        row = []
        for i in range(dim):
            k = _mix64((seed << 32) ^ (j * 0x100000001B3) ^ i)
            u1 = (_mix64(k) + 1) / 2.0**64          # (0, 1]
            u2 = (_mix64(k ^ 0x632BE59BD9B4E019) + 1) / 2.0**64
            row.append(
                math.sqrt(-2.0 * math.log(u1))
                * math.cos(2.0 * math.pi * u2)
            )
        out.append(row)
    return out


def _band_key_sql(vec: str, planes: list[list[float]], dialect: str) -> str:
    """Concatenated sign bits of the vector against each plane (one band)."""
    bits = []
    for p in planes:
        if dialect == "spark":
            dot = _dot_sql(vec, _qvec_lit(p))
            bits.append(f"IF(({dot}) >= 0, '1', '0')")
        else:
            lit = "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in p) + "]"
            dot = (
                f"list_sum(list_transform(list_zip({vec}, {lit}), "
                "p -> p[1] * p[2]))"
            )
            bits.append(f"(CASE WHEN ({dot}) >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits) if dialect == "duckdb" else f"concat({', '.join(bits)})"


def embedding_near_dup_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    threshold: float = 0.95,
    dim: int = 64,
    n_bands: int = 8,
    bits_per_band: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Sign-LSH (random hyperplane) embedding near-dup — the scale path for
    ``embedding_near_dup_pairs``: two vectors are candidates iff some band
    of sign bits matches exactly; only candidates pay the exact cosine.

    P(bit match) = 1 - angle/pi, so a band of b bits catches highly similar
    pairs with probability (1 - angle/pi)^b and the bands union the chances;
    recall < 1 by construction — the brute operator is the oracle for recall,
    while THIS operator is oracle'd exactly (same planes, same buckets).

    Scale shape: signature computation is ONE ``_vector_map`` stage — the
    n_bits x dim plane matrix ships in the task closure and each batch is a
    single numpy matmul + sign, exactly the assign_centroids design. The
    per-bit interpreted higher-order-function folds this replaces cost
    ~2.5s of the gated query at sf0.1 (32 folds x 64 dims per row); the
    matmul is milliseconds. Sign parity vs the sequential fold was measured
    at sf0.01/sf0.1: zero flips, min |dot| ~1e-5 — ten orders above fp
    reordering noise (the DuckDB oracle keeps the fold formulation). Band
    keys are internal ints here vs bit-strings in the oracle: only
    (id1, id2, cosine) reach the output, and candidate sets are identical
    because key EQUALITY is all the join uses. The key array feeds
    ``dedup.band_join``, the one band self-join every LSH family shares;
    the verify cosine stays an exact sequential fold on candidates only.
    """
    import numpy as np

    from harmonize_search_analyze_spark.operators.dedup import (
        band_frame,
        band_join,
    )

    planes_mat = np.asarray(
        hyperplanes(dim, n_bands * bits_per_band, seed), dtype=np.float64
    )
    pow2 = 2 ** np.arange(bits_per_band, dtype=np.int64)

    def sig(batch):
        x = _matrix(batch, "v")
        bits = (x @ planes_mat.T) >= 0.0          # n x n_bits
        keys = [
            bits[:, bi * bits_per_band:(bi + 1) * bits_per_band] @ pow2
            for bi in range(n_bands)
        ]
        return {
            id_col: batch.column(id_col),
            "v": batch.column("v"),
            "nrm": np.sqrt((x * x).sum(axis=1)),
            "keys": np.column_stack(keys),
        }

    sig_df = checkpoint(_vector_map(
        df.select(id_col, F.col(vec_col).cast("array<double>").alias("v")),
        sig, f"{id_col} long, v array<double>, nrm double, keys array<long>",
    ))
    cands = band_join(band_frame(sig_df, id_col, "keys"))

    def verify(batch):
        c = np.round(
            (_matrix(batch, "v1") * _matrix(batch, "v2")).sum(axis=1)
            / (batch.column("n1").to_numpy() * batch.column("n2").to_numpy()),
            6,
        )
        m = c >= threshold
        return {
            "id1": batch.column("id1").to_numpy()[m],
            "id2": batch.column("id2").to_numpy()[m],
            "cosine": c[m],
        }

    # verify is the same Arrow vector stage as the signature stage:
    # the candidate join shuffles (pair, vectors) once, then cosine+filter
    # is map-only numpy (6-dec rounding parity vs the fold measured: zero
    # disagreements over ALL 4M sf0.1 pairs; the oracle keeps the fold).
    pairs = (
        cands.join(
            sig_df.select(F.col(id_col).alias("id1"), F.col("v").alias("v1"),
                          F.col("nrm").alias("n1")), "id1")
        .join(
            sig_df.select(F.col(id_col).alias("id2"), F.col("v").alias("v2"),
                          F.col("nrm").alias("n2")), "id2")
        .select("id1", "id2", "v1", "v2", "n1", "n2")
    )
    return _vector_map(pairs, verify, "id1 long, id2 long, cosine double")


def similarity_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Batch exact top-k similarity join: for EVERY query vector, the k
    nearest corpus vectors by cosine (the bulk form of ``cosine_topk`` —
    retrieval eval sets, batched dedup probes, k-NN graph construction).

    Plan shape: the query set is broadcast, so the corpus is scanned ONCE
    regardless of |Q| (BroadcastNestedLoopJoin — each corpus partition
    scores the in-memory query list; no shuffle of the big side). Per-query
    top-k is a rank window keyed by query id over |C|x|Q| scored rows —
    the shuffle carries scores only, never vectors. For |Q| beyond a few
    thousand, route each query through ``ivf_search`` instead (probe
    pruning beats the extra scan cost at that point)."""
    c = corpus.select(
        F.col(corpus_id).alias("corpus_id"),
        F.expr(f"CAST({corpus_vec} AS ARRAY<DOUBLE>)").alias("cv"),
    ).withColumn("cn", F.expr(_norm_sql("cv")))
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.expr(f"CAST({query_vec} AS ARRAY<DOUBLE>)").alias("qv"),
    ).withColumn("qn", F.expr(_norm_sql("qv")))
    # try_divide: zero-norm row/query vectors must yield NULL, not an
    # ANSI divide-by-zero abort
    cos = F.round(
        F.try_divide(F.expr(_dot_sql("cv", "qv")), F.col("cn") * F.col("qn")),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("corpus_id")
    )
    return (
        c.crossJoin(F.broadcast(q))
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def similarity_join_sql(
    corpus_table: str,
    queries_table: str,
    k: int,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> str:
    """DuckDB oracle for similarity_join (same fold, same rounding, same
    rank tie-break)."""
    dot = "list_sum(list_transform(list_zip(c.cv, q.qv), p -> p[1] * p[2]))"
    return f"""
WITH c AS (
  SELECT {corpus_id} AS corpus_id, {corpus_vec}::DOUBLE[] AS cv,
         sqrt(list_sum(list_transform({corpus_vec}::DOUBLE[], x -> x * x))) AS cn
  FROM {corpus_table}
), q AS (
  SELECT {query_id} AS query_id, {query_vec}::DOUBLE[] AS qv,
         sqrt(list_sum(list_transform({query_vec}::DOUBLE[], x -> x * x))) AS qn
  FROM {queries_table}
)
SELECT query_id, corpus_id, cosine, rank FROM (
  SELECT q.query_id, c.corpus_id,
         ROUND({dot} / (c.cn * q.qn), 6) AS cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY ROUND({dot} / (c.cn * q.qn), 6) DESC, c.corpus_id ASC
         ) AS INT) AS rank
  FROM c CROSS JOIN q
) t WHERE rank <= {k}
"""


def embedding_lsh_oracle_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    threshold: float = 0.95,
    dim: int = 64,
    n_bands: int = 8,
    bits_per_band: int = 8,
    seed: int = 7,
) -> str:
    """DuckDB SQL computing the identical sign-LSH pipeline (same planes,
    same bucket keys, same verification cosine)."""
    planes = hyperplanes(dim, n_bands * bits_per_band, seed)
    band_selects = []
    for bi in range(n_bands):
        key = _band_key_sql(
            "e", planes[bi * bits_per_band: (bi + 1) * bits_per_band], "duckdb"
        )
        band_selects.append(
            f"SELECT {id_col}, {bi} AS band_idx, {key} AS band_key FROM v"
        )
    bands = " UNION ALL ".join(band_selects)
    dot = "list_sum(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2]))"
    return f"""
WITH v AS (
  SELECT {id_col}, {vec_col}::DOUBLE[] AS e,
         sqrt(list_sum(list_transform({vec_col}::DOUBLE[], x -> x * x))) AS nrm
  FROM {table}
), bands AS ({bands}),
cands AS (
  SELECT DISTINCT l.{id_col} AS id1, r.{id_col} AS id2
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
   AND l.{id_col} < r.{id_col}
)
SELECT id1, id2, cosine FROM (
  SELECT id1, id2, ROUND({dot} / (a.nrm * b.nrm), 6) AS cosine
  FROM cands JOIN v a ON a.{id_col} = id1 JOIN v b ON b.{id_col} = id2
) WHERE cosine >= {threshold!r} ORDER BY id1, id2
"""


def similarity_join_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    nprobe: int = 4,
    n_centroids: int | None = 16,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Probe-pruned batch k-NN — the scale path for ``similarity_join``:
    each query scores only the ``nprobe`` IVF lists nearest to it instead
    of the whole corpus, so scored pairs drop from |Q|x|C| to
    |Q|x|C|x(nprobe/n_centroids). Recall < 1 by construction;
    ``similarity_join`` is the exact oracle for recall, while THIS
    operator is hash-oracle'd exactly (same deterministic centroids, same
    probe ranking, same tie-breaks).

    Plan shape: centroids come from ``ivf_assign`` (deterministic id-hash
    pick — SQL-replayable, unlike trained k-means). Probe selection is a
    tiny |Q|xC broadcast cross-score. The (query, centroid) probe table
    broadcasts; the corpus joins it on centroid_id map-side — at scale,
    with assignments written partitioned by centroid_id, that join is
    partition pruning, and the corpus never shuffles. Candidate cosines
    run as one ``_vector_map`` stage (numpy parity vs the fold verified:
    zero 6-decimal disagreements over all sf0.1 pairs); per-query top-k is
    a rank window over candidate scores only.

    Parallelism note (measured, r8): the candidate frame INHERITS the
    corpus partitioning — the probe join expands rows nprobe-fold
    without a repartition, so a single-split toy parquet serializes
    the Arrow scoring stage onto 1-2 tasks. A real multi-split corpus
    needs nothing; repartition tiny inputs at the call site.
    """
    import numpy as np

    if n_centroids is None:
        # IVF sizing must GROW with the corpus or the per-probe candidate
        # list is Θ(n) and the join stays quadratic — the round-4 scale
        # rig measured exactly that with a pinned 16 (20.5x time at 10x
        # data). sqrt(n) is the classic IVF-flat balance point: probe
        # selection costs |Q|·sqrt(n), candidates nprobe·sqrt(n) per
        # query — O(n^1.5) overall instead of O(n²). One count() pass,
        # scan-bound, to size it.
        import math as _math

        n_corpus = corpus.count()
        n_centroids = max(16, _math.isqrt(max(n_corpus, 1)))
    centroids, assignments = ivf_assign(
        corpus, corpus_vec, corpus_id, n_centroids=n_centroids
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.expr(f"CAST({query_vec} AS ARRAY<DOUBLE>)").alias("qv"),
    )
    probe_cos = F.round(
        F.try_divide(
            F.expr(_dot_sql("cvec", "qv")),
            F.expr(_norm_sql("cvec")) * F.expr(_norm_sql("qv")),
        ),
        6,
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("__qc"), F.asc("centroid_id")
    )
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("__qc", probe_cos)
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "qv", "centroid_id")
    )
    c = corpus.select(
        F.col(corpus_id).alias("corpus_id"),
        F.expr(f"CAST({corpus_vec} AS ARRAY<DOUBLE>)").alias("cv"),
    )
    cand = (
        c.join(
            assignments.withColumnRenamed(corpus_id, "corpus_id"),
            "corpus_id",
        )
        .join(F.broadcast(probes), "centroid_id")
        .select("query_id", "corpus_id", "cv", "qv")
    )

    def score(batch):
        cv, qv = _matrix(batch, "cv"), _matrix(batch, "qv")
        cos = np.round(
            (cv * qv).sum(axis=1)
            / (np.sqrt((cv * cv).sum(axis=1))
               * np.sqrt((qv * qv).sum(axis=1))),
            6,
        )
        return {
            "query_id": batch.column("query_id"),
            "corpus_id": batch.column("corpus_id"),
            "cosine": cos,
        }

    scored = _vector_map(
        cand, score, "query_id long, corpus_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("corpus_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def similarity_join_ivf_sql(
    corpus_table: str,
    queries_sql: str,
    k: int = 10,
    *,
    nprobe: int = 4,
    n_centroids: int = 16,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> str:
    """DuckDB SQL replaying similarity_join_ivf end-to-end (same hash-pick
    centroids, argmin assignment, probe ranking, cosine, tie-breaks)."""
    dot = "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
    nrm = "sqrt(list_sum(list_transform({a}, x -> x * x)))"
    d2 = (
        "ROUND(list_sum(list_transform(list_zip(dvec, cvec), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)"
    )
    qc_cos = (
        "ROUND(" + dot.format(a="c.cvec", b="q.qv") + " / ("
        + nrm.format(a="c.cvec") + " * " + nrm.format(a="q.qv") + "), 6)"
    )
    cand_cos = (
        "ROUND(" + dot.format(a="e.cv", b="p.qv") + " / ("
        + nrm.format(a="e.cv") + " * " + nrm.format(a="p.qv") + "), 6)"
    )
    return f"""
WITH cent AS (
  SELECT bucket AS centroid_id, cvec FROM (
    SELECT {corpus_id} % {n_centroids} AS bucket,
           {corpus_vec}::DOUBLE[] AS cvec,
           ROW_NUMBER() OVER (PARTITION BY {corpus_id} % {n_centroids}
                              ORDER BY {corpus_id}) AS rn
    FROM {corpus_table}) WHERE rn = 1
), assign AS (
  SELECT {corpus_id}, centroid_id FROM (
    SELECT v.{corpus_id}, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY v.{corpus_id}
                              ORDER BY {d2}, c.centroid_id) AS rn
    FROM (SELECT {corpus_id}, {corpus_vec}::DOUBLE[] AS dvec
          FROM {corpus_table}) v
    CROSS JOIN cent c) WHERE rn = 1
), q AS (
  SELECT query_id, qv FROM ({queries_sql})
), probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {qc_cos} DESC, c.centroid_id) AS rn
    FROM q CROSS JOIN cent c) WHERE rn <= {nprobe}
)
SELECT query_id, corpus_id, cosine, rank FROM (
  SELECT p.query_id, e.{corpus_id} AS corpus_id,
         {cand_cos} AS cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY p.query_id
                                 ORDER BY {cand_cos} DESC, e.{corpus_id})
              AS INT) AS rank
  FROM (SELECT {corpus_id}, {corpus_vec}::DOUBLE[] AS cv
        FROM {corpus_table}) e
  JOIN assign a USING ({corpus_id})
  JOIN probes p ON p.centroid_id = a.centroid_id
) WHERE rank <= {k}
"""


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = round(x_i / scale). Returns (id, qvec ARRAY<INT>, scale DOUBLE).

    This is the storage/shuffle scale lever for embedding columns: 8x
    smaller than float64 (4x vs float32) before any search runs, which at
    100 TB is the difference between an in-memory shortlist and a spilling
    one. Kept as a pure column expression (codegen'd transform) so the
    DuckDB oracle replays it exactly; all-zero vectors get scale 0 and an
    all-zero qvec via a NULLIF guard instead of a divide-by-zero NaN.
    """
    emb = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    maxabs = (
        f"aggregate(transform({emb}, x -> abs(x)), CAST(0 AS DOUBLE), "
        "(acc, v) -> greatest(acc, v))"
    )
    return df.select(
        F.col(id_col),
        F.expr(
            f"transform({emb}, x -> CAST(COALESCE("
            f"round(x / NULLIF(({maxabs}) / 127.0, CAST(0 AS DOUBLE))), 0) "
            "AS INT))"
        ).alias("qvec"),
        F.expr(f"round(({maxabs}) / 127.0, 12)").alias("scale"),
    )


def quantize_oracle_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB SQL replaying quantize_embeddings (same guard, same round)."""
    emb = f"{vec_col}::DOUBLE[]"
    maxabs = f"list_max(list_transform({emb}, x -> abs(x)))"
    return f"""
SELECT {id_col},
       list_transform({emb},
         x -> CAST(COALESCE(round(x / NULLIF(({maxabs}) / 127.0, 0.0)), 0)
                   AS INT)) AS qvec,
       round(({maxabs}) / 127.0, 12) AS scale
FROM {table} ORDER BY {id_col}
"""


def quantized_topk(
    df: DataFrame,
    qvec: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine over DEQUANTIZED int8 vectors — measures what
    the quantized index would return. Dequantize (q_i * scale) is a
    codegen'd transform fused into the same scan; ranking is
    TakeOrderedAndProject like cosine_topk (no global sort)."""
    q = quantize_embeddings(df, vec_col, id_col)
    deq = "transform(qvec, q -> q * scale)"
    dot = _dot_sql(deq, _qvec_lit(qvec))
    nrm = _norm_sql(deq)
    import math

    qnorm = math.sqrt(sum(v * v for v in qvec))
    return (
        q.select(
            id_col,
            F.round(
                F.expr(dot) / F.expr(f"NULLIF(({nrm}), CAST(0 AS DOUBLE))")
                / F.lit(qnorm),
                6,
            ).alias("cosine_q"),
        )
        .orderBy(F.desc("cosine_q"), F.asc(id_col))
        .limit(k)
    )


def quantized_topk_oracle_sql(
    qvec: list[float],
    k: int = 10,
    *,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB SQL replaying quantized_topk end-to-end (quantize ->
    dequantize -> cosine -> top-k with the same tie-break)."""
    import math

    emb = f"{vec_col}::DOUBLE[]"
    maxabs = f"list_max(list_transform({emb}, x -> abs(x)))"
    qv = "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in qvec) + "]"
    qnorm = math.sqrt(sum(v * v for v in qvec))
    return f"""
WITH q AS (
  SELECT {id_col},
         list_transform({emb},
           x -> CAST(COALESCE(round(x / NULLIF(({maxabs}) / 127.0, 0.0)), 0)
                     AS INT)) AS qvec,
         round(({maxabs}) / 127.0, 12) AS scale
  FROM {table}
), d AS (
  SELECT {id_col}, list_transform(qvec, q -> q * scale) AS dv FROM q
)
SELECT {id_col},
       ROUND(list_sum(list_transform(list_zip(dv, {qv}), p -> p[1] * p[2]))
             / NULLIF(sqrt(list_sum(list_transform(dv, x -> x * x))), 0.0)
             / CAST({qnorm!r} AS DOUBLE), 6) AS cosine_q
FROM d
ORDER BY cosine_q DESC, {id_col} ASC LIMIT {k}
"""


# -- binary (1-bit) quantization + Hamming-shortlist ANN --------------------
#
# The BBQ pattern (ES 8.x "better binary quantization", Jégou et al.'s
# sign-bit sketch lineage): keep ONE BIT per dimension (the sign), rank by
# Hamming distance to the query's sign pattern, then exactly re-rank a
# small shortlist with true cosine. 32 dims pack per BIGINT word — not 64,
# deliberately: a 64-bit shift-accumulate overflows the sign bit and both
# engines' overflow checks (Spark ANSI, DuckDB) make that a runtime trap,
# while 32-bit packing costs one extra word per 64 dims and stays exact
# everywhere. The pack/xor/bit_count pipeline is fully unrolled at plan
# build (dims are known), so it is straight codegen arithmetic — no
# lambdas, no UDF.

_BBQ_WORD = 32


def _pack_word_sql(emb: str, j: int, dim: int, dialect: str) -> str:
    """BIGINT word j of the sign bitmap: bit (32-1-i) set iff dim
    j*32+i > 0. NULL elements count as 0 (sign bit clear)."""
    terms = []
    for i in range(_BBQ_WORD):
        k = j * _BBQ_WORD + i + 1  # 1-based element index
        if k > dim:
            break
        w = 1 << (_BBQ_WORD - 1 - i)
        el = (
            # try_element_at: a ragged (shorter-than-dim) embedding scores
            # its missing dims as clear sign bits instead of aborting
            # under ANSI's INVALID_ARRAY_INDEX_IN_ELEMENT_AT
            f"try_element_at({emb}, {k})"
            if dialect == "spark"
            else f"({emb})[{k}]"  # parens: x::DOUBLE[][k] parses as a TYPE
        )
        terms.append(
            f"CASE WHEN {el} > 0 THEN CAST({w} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
        )
    return "(" + " + ".join(terms) + ")"


def sign_words(qvec: list[float]) -> list[int]:
    """The query vector's packed sign words (driver-side twin of
    _pack_word_sql)."""
    words = []
    for j in range(0, len(qvec), _BBQ_WORD):
        w = 0
        for i, v in enumerate(qvec[j:j + _BBQ_WORD]):
            if v > 0:
                w |= 1 << (_BBQ_WORD - 1 - i)
        words.append(w)
    return words


def binary_quantize(
    df: DataFrame,
    dim: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """1-bit sign quantization: (id, bits ARRAY<BIGINT>) with ceil(dim/32)
    packed words — a 32x storage/shuffle reduction over float32, the
    index representation for bbq_topk. Map-only projection."""
    emb = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    n_words = (dim + _BBQ_WORD - 1) // _BBQ_WORD
    words = ", ".join(
        _pack_word_sql(emb, j, dim, "spark") for j in range(n_words)
    )
    return df.select(
        F.col(id_col), F.expr(f"array({words})").alias("bits")
    )


def _hamming_sql(bits_words: list[str], qwords: list[int], dialect: str) -> str:
    """Σ_j popcount(word_j XOR qword_j) — unrolled."""
    parts = []
    for expr, qw in zip(bits_words, qwords):
        if dialect == "spark":
            parts.append(f"bit_count(({expr}) ^ CAST({qw} AS BIGINT))")
        else:
            parts.append(f"bit_count(xor({expr}, CAST({qw} AS BIGINT)))")
    return "(" + " + ".join(parts) + ")"


def bbq_topk(
    df: DataFrame,
    qvec: list[float],
    k: int = 10,
    *,
    shortlist: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Binary-quantized ANN: Hamming shortlist -> exact cosine rerank.

    Stage 1 computes the sign-bitmap Hamming distance to the query in the
    scan projection and takes the ``shortlist`` closest rows
    (TakeOrderedAndProject — ties pinned hamming ASC, id ASC), carrying
    the raw vector through. Stage 2 exactly re-ranks those ``shortlist``
    rows by cosine. At 100 TB the stage-1 ranking moves ONE BIGINT word
    per 32 dims per row through the top-k machinery instead of the float
    vector, and stage 2 touches only ``shortlist`` rows; recall is the
    standard sign-sketch tradeoff, tunable via ``shortlist``."""
    emb = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    dim = len(qvec)
    n_words = (dim + _BBQ_WORD - 1) // _BBQ_WORD
    word_exprs = [_pack_word_sql(emb, j, dim, "spark") for j in range(n_words)]
    ham = _hamming_sql(word_exprs, sign_words(qvec), "spark")
    short = (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            F.expr(ham).cast("int").alias("hamming"),
        )
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(shortlist)
    )
    return (
        short.select(
            id_col,
            "hamming",
            F.round(cosine_score(vec_col, qvec), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def bbq_topk_oracle_sql(
    qvec: list[float],
    k: int = 10,
    *,
    shortlist: int = 100,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB SQL replaying bbq_topk end-to-end (pack -> hamming
    shortlist -> exact cosine rerank, same tie-breaks)."""
    import math

    emb = f"{vec_col}::DOUBLE[]"
    dim = len(qvec)
    n_words = (dim + _BBQ_WORD - 1) // _BBQ_WORD
    word_exprs = [
        _pack_word_sql(emb, j, dim, "duckdb") for j in range(n_words)
    ]
    ham = _hamming_sql(word_exprs, sign_words(qvec), "duckdb")
    qv = "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in qvec) + "]"
    qnorm = math.sqrt(sum(v * v for v in qvec))
    return f"""
WITH short AS (
  SELECT {id_col}, {emb} AS v, CAST({ham} AS INTEGER) AS hamming
  FROM {table}
  ORDER BY hamming ASC, {id_col} ASC LIMIT {shortlist}
)
SELECT {id_col}, hamming,
       ROUND(list_sum(list_transform(list_zip(v, {qv}), p -> p[1] * p[2]))
             / NULLIF(sqrt(list_sum(list_transform(v, x -> x * x))), 0.0)
             / CAST({qnorm!r} AS DOUBLE), 6) AS cosine
FROM short
ORDER BY cosine DESC, {id_col} ASC LIMIT {k}
"""


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    threshold: float = 0.95,
    max_rows: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute O(n^2) baseline; the
    LSH-bucketed variant `embedding_near_dup_lsh` is the production path).

    Execution shape: gather the full (id, vector) matrix driver-side ONCE
    (guarded at ``max_rows`` — brute all-pairs is a recall oracle for
    bounded samples by contract, never a 100 TB path), then a single
    map-only Arrow stage computes each batch's block of the cosine matrix
    with one numpy matmul. Replaces the earlier BroadcastNestedLoopJoin +
    per-pair interpreted fold (~2.3s at sf0.1 -> ~0.4s; matmul-vs-fold
    6-decimal parity measured over ALL 4M sf0.1 pairs: zero disagreements
    — the DuckDB oracle keeps the fold formulation)."""
    import numpy as np

    src = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    gathered = src.toArrow()
    if gathered.num_rows > max_rows:
        raise ValueError(
            f"brute near-dup is a recall oracle for samples; got "
            f"{gathered.num_rows} rows > max_rows={max_rows} — use "
            "embedding_near_dup_lsh for full-corpus runs"
        )
    ids = gathered.column("id").to_numpy()
    mat = _matrix(gathered, "v")
    nrm = np.sqrt((mat * mat).sum(axis=1))

    def block(batch):
        x = _matrix(batch, "v")
        xn = np.sqrt((x * x).sum(axis=1))
        xid = batch.column("id").to_numpy()
        cos = np.round((x @ mat.T) / np.outer(xn, nrm), 6)
        keep = (cos >= threshold) & (xid[:, None] < ids[None, :])
        i, j = np.nonzero(keep)
        return {"id1": xid[i], "id2": ids[j], "cosine": cos[i, j]}

    parallelism = df.sparkSession.sparkContext.defaultParallelism
    return _vector_map(src.repartition(parallelism), block,
                       "id1 long, id2 long, cosine double")


# -- product quantization ----------------------------------------------------
#
# PQ (Jégou et al., "Product Quantization for Nearest Neighbor Search",
# IEEE TPAMI 2011 — the standard public formulation): split each D-dim
# vector into m subvectors of d = D/m dims, quantize each against its own
# k-entry codebook, store only the m code bytes. Asymmetric distance
# computation (ADC) scores a query against codes via an m x k lookup table
# of exact query-to-centroid subdistances.
#
# Scale story: codes are m bytes per vector vs 8D for float64 (64x at
# D=64, m=8) — the memory/shuffle lever that makes a 100 TB embedding
# column searchable; encode is ONE map-only Arrow stage (no shuffle, no
# row explosion); ADC search is a codegen'd lookup-sum projection +
# TakeOrdered. Codebook training reuses the engine's Lloyd machinery with
# ALL m subspaces trained in the same distributed passes (one assignment
# stage + one mean agg per iteration, not per subspace).


def _pq_split_check(dim: int, m: int) -> int:
    if dim % m != 0:
        raise ValueError(f"vector dim {dim} not divisible by m={m}")
    return dim // m


def pq_refs_codebooks(
    df: DataFrame,
    ref_ids: list[int],
    *,
    m: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic codebooks WITHOUT training: subvectors of the given
    reference rows (sorted by id; centroid_id = rank). The correctness-
    gate path — fully replayable in SQL by the DuckDB oracle — and the
    init for ``pq_train``. ref rows are metadata-sized (k rows)."""
    spark = df.sparkSession
    rows = (
        df.where(F.col(id_col).isin(list(ref_ids)))
        .select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    if len(rows) != len(ref_ids):
        raise ValueError("some ref_ids missing from the input frame")
    rows.sort(key=lambda r: r[id_col])
    dim = len(rows[0]["v"])
    d = _pq_split_check(dim, m)
    out = []
    for cid, r in enumerate(rows):
        for j in range(m):
            out.append((j, cid, r["v"][j * d:(j + 1) * d]))
    return local_frame(
        spark, out, "subspace INT, centroid_id INT, cvec ARRAY<DOUBLE>"
    )


def _collect_codebooks(codebooks: DataFrame):
    """codebooks frame -> {subspace: (cids sorted, matrix)} — metadata-sized
    (m * k * d doubles)."""
    import numpy as np

    rows = codebooks.collect()
    by_j: dict[int, list] = {}
    for r in rows:
        by_j.setdefault(r["subspace"], []).append(
            (r["centroid_id"], r["cvec"])
        )
    out = {}
    for j, lst in by_j.items():
        lst.sort()
        out[j] = (
            np.asarray([c for c, _ in lst], dtype=np.int32),
            np.asarray([v for _, v in lst], dtype=np.float64),
        )
    return out


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode vectors to PQ codes: per subspace, the centroid_id of the
    nearest codebook entry. ONE map-only Arrow stage (the KB-sized
    codebooks ride the task closure); subdistances are rounded to 6
    decimals before the argmin with ties to the lowest centroid_id — the
    engine's established cross-engine determinism contract
    (see _assign_literal), which is what lets the DuckDB oracle replay the
    encode exactly with a fold-ordered L2."""
    import numpy as np

    books = _collect_codebooks(codebooks)
    m = len(books)
    mats = [books[j][1] for j in range(m)]
    cids = [books[j][0] for j in range(m)]
    d = mats[0].shape[1]

    def encode(batch):
        x = _matrix(batch, "dvec")
        xr = x.reshape(len(x), m, d)
        codes = np.empty((len(x), m), dtype=np.int32)
        for j in range(m):
            diff = xr[:, j, None, :] - mats[j][None, :, :]
            d2 = np.round((diff * diff).sum(axis=-1), 6)
            codes[:, j] = cids[j][d2.argmin(axis=1)]
        return {id_col: batch.column(id_col), "codes": codes}

    vecs = df.select(
        id_col, F.col(vec_col).cast("array<double>").alias("dvec")
    )
    return _vector_map(vecs, encode, f"{id_col} long, codes array<int>")


def pq_train(
    df: DataFrame,
    *,
    m: int = 8,
    n_centroids: int = 16,
    n_iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ref_ids: list[int] | None = None,
) -> DataFrame:
    """Lloyd-refined PQ codebooks, ALL m subspaces per distributed pass.

    Init: subvectors of ``ref_ids`` (default: the n_centroids lowest ids).
    Per iteration: one exploded (id, subspace, subvec) Arrow assignment
    stage against all m codebooks + one (subspace, centroid, dim) mean
    aggregation; the m*k*d codebook matrix (KBs) is the one justified
    driver collect, exactly like kmeans_train. Empty cells keep their
    previous centroid. Deterministic end to end."""
    import numpy as np

    if ref_ids is None:
        ref_ids = [
            r[id_col]
            for r in df.select(id_col).orderBy(id_col).limit(n_centroids).collect()
        ]
    books = pq_refs_codebooks(
        df, ref_ids, m=m, vec_col=vec_col, id_col=id_col
    )
    spark = df.sparkSession
    emb = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    first = df.select(F.size(F.expr(emb)).alias("n")).limit(1).collect()
    d = _pq_split_check(first[0]["n"], m)
    sub = df.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}), "
                f"j -> slice({emb}, j * {d} + 1, {d}))"
            )
        ).alias("subspace", "subvec"),
    )
    for _ in range(n_iters):
        bk = _collect_codebooks(books)
        mats = {j: bk[j][1] for j in bk}
        cids = {j: bk[j][0] for j in bk}

        def assign(batch):
            out_cid = np.empty(batch.num_rows, dtype=np.int32)
            sv = _matrix(batch, "subvec")
            js = batch.column("subspace").to_numpy()
            for j in np.unique(js):
                mask = js == j
                diff = sv[mask][:, None, :] - mats[j][None, :, :]
                d2 = np.round((diff * diff).sum(axis=-1), 6)
                out_cid[mask] = cids[j][d2.argmin(axis=1)]
            return {
                "subspace": batch.column("subspace"),
                "centroid_id": out_cid,
                "subvec": batch.column("subvec"),
            }

        means = (
            _vector_map(
                sub, assign,
                "subspace int, centroid_id int, subvec array<double>",
            )
            .select(
                "subspace", "centroid_id",
                F.posexplode("subvec").alias("pos", "x"),
            )
            .groupBy("subspace", "centroid_id", "pos")
            .agg(F.round(F.avg("x"), 9).alias("mval"))
            .collect()  # m * k * d doubles — metadata-sized
        )
        upd: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            upd.setdefault(
                (r["subspace"], r["centroid_id"]), {}
            )[r["pos"]] = r["mval"]
        rows = []
        for r in books.collect():
            key = (r["subspace"], r["centroid_id"])
            if key in upd:
                rows.append(
                    (key[0], key[1], [upd[key][i] for i in range(d)])
                )
            else:
                rows.append((key[0], key[1], list(r["cvec"])))
        books = local_frame(
            spark, rows, "subspace INT, centroid_id INT, cvec ARRAY<DOUBLE>"
        )
    return books


def pq_topk(
    df: DataFrame,
    codebooks: DataFrame,
    qvec: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k: encode the corpus (one Arrow stage), score each code word
    against the query's m x k exact subdistance table (computed driver-side
    from the metadata-sized codebooks, sequential sums = the oracle's fold
    order), sum via a codegen'd zip_with lookup, TakeOrdered ascending.
    Returns (id, approx_d2)."""
    books = _collect_codebooks(codebooks)
    m = len(books)
    d = books[0][1].shape[1]
    if len(qvec) != m * d:
        raise ValueError(f"query dim {len(qvec)} != {m * d}")
    table = []
    for j in range(m):
        row = []
        for cv in books[j][1]:
            s = 0.0
            for a, b in zip(qvec[j * d:(j + 1) * d], cv):
                s += (a - b) * (a - b)
            row.append(round(s, 6))
        table.append(row)
    t_lit = "array(" + ", ".join(
        "array(" + ", ".join(f"{v!r}D" for v in row) + ")" for row in table
    ) + ")"
    codes = pq_encode(df, codebooks, vec_col=vec_col, id_col=id_col)
    score = (
        f"round(aggregate(zip_with(codes, {t_lit}, "
        "(c, trow) -> element_at(trow, c + 1)), 0D, "
        "(acc, x) -> acc + x), 6)"
    )
    return (
        codes.select(F.col(id_col), F.expr(score).alias("approx_d2"))
        .orderBy(F.asc("approx_d2"), F.asc(id_col))
        .limit(k)
    )


def pq_topk_oracle_sql(
    qvec: list[float],
    *,
    n_refs: int = 16,
    m: int = 8,
    k: int = 10,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> str:
    """DuckDB oracle replaying refs-codebook PQ + ADC end to end in SQL:
    codebook = subvectors of the ``n_refs`` lowest-id rows; encode =
    fold-ordered L2 argmin per (vector, subspace), rounded 6, ties to the
    lowest centroid; score = sum of the query's exact subdistances to the
    chosen centroids."""
    d = _pq_split_check(dim, m)
    q_lit = "[" + ", ".join(repr(float(v)) for v in qvec) + "]"
    return f"""
WITH refrows AS (
  SELECT {id_col}, {vec_col}::DOUBLE[] AS rv
  FROM {table} ORDER BY {id_col} LIMIT {n_refs}
),
refs AS (
  SELECT ROW_NUMBER() OVER (ORDER BY {id_col}) - 1 AS cid, rv FROM refrows
),
subspaces AS (SELECT unnest(generate_series(0, {m - 1})) AS j),
csub AS (
  SELECT j, cid, rv[j * {d} + 1 : (j + 1) * {d}] AS cv
  FROM refs CROSS JOIN subspaces
),
vsub AS (
  SELECT {id_col}, j, ({vec_col}::DOUBLE[])[j * {d} + 1 : (j + 1) * {d}] AS sv
  FROM {table} CROSS JOIN subspaces
),
dists AS (
  SELECT v.{id_col}, v.j, c.cid,
         ROUND(list_sum(list_transform(list_zip(v.sv, c.cv),
               p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS d2
  FROM vsub v JOIN csub c ON v.j = c.j
),
codes AS (
  SELECT {id_col}, j, cid FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY {id_col}, j ORDER BY d2 ASC, cid ASC) AS rn
    FROM dists
  ) WHERE rn = 1
),
qsub AS (
  SELECT j, ({q_lit}::DOUBLE[])[j * {d} + 1 : (j + 1) * {d}] AS qv
  FROM subspaces
),
qtab AS (
  SELECT q.j, c.cid,
         ROUND(list_sum(list_transform(list_zip(q.qv, c.cv),
               p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS qd2
  FROM qsub q JOIN csub c ON q.j = c.j
)
SELECT codes.{id_col}, ROUND(SUM(qtab.qd2), 6) AS approx_d2
FROM codes JOIN qtab ON codes.j = qtab.j AND codes.cid = qtab.cid
GROUP BY codes.{id_col}
ORDER BY approx_d2 ASC, codes.{id_col} ASC
LIMIT {k}
"""


def pq_topk_ivf(
    df: DataFrame,
    coarse_centroids: DataFrame,
    assignments: DataFrame,
    codebooks: DataFrame,
    qvec: list[float],
    *,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF + PQ: the classic two-level ANN index (coarse inverted lists
    prune the corpus, PQ/ADC scores the survivors). This is the 100 TB
    search shape — the coarse probe becomes partition pruning when
    assignments are written partitioned by centroid_id, and the scored
    shortlist carries m-byte codes instead of float vectors.

    Probes are the ``nprobe`` coarse centroids nearest the query by L2
    (matching ADC's metric; rounded-6 ties to the lowest centroid id).
    Non-residual variant: codes quantize the raw vectors, so the SAME
    codebooks serve every inverted list and the DuckDB oracle replays the
    whole path."""
    l2q = (
        "round(aggregate(zip_with(cvec, "
        + "array(" + ", ".join(f"{float(v)!r}D" for v in qvec) + ")"
        + ", (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v), 6)"
    )
    probe_ids = [
        r["centroid_id"]
        for r in coarse_centroids.select(
            "centroid_id", F.expr(l2q).alias("qd2")
        )
        .orderBy(F.asc("qd2"), F.asc("centroid_id"))
        .limit(nprobe)
        .collect()
    ]
    shortlist = assignments.where(
        F.col("centroid_id").isin(probe_ids)
    ).select(id_col)
    return pq_topk(
        df.join(shortlist, id_col),
        codebooks, qvec, k, vec_col=vec_col, id_col=id_col,
    )


def pq_topk_ivf_oracle_sql(
    qvec: list[float],
    *,
    n_coarse: int = 16,
    nprobe: int = 4,
    n_refs: int = 16,
    m: int = 8,
    k: int = 10,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> str:
    """DuckDB oracle for the full IVF+PQ path: deterministic id-hash coarse
    centroids (ivf_assign's construction), argmin coarse assignment, L2
    probe selection, then the refs-codebook PQ/ADC of pq_topk_oracle_sql
    restricted to the probed lists."""
    d = _pq_split_check(dim, m)
    q_lit = "[" + ", ".join(repr(float(v)) for v in qvec) + "]"
    l2 = (
        "ROUND(list_sum(list_transform(list_zip({a}, {b}), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)"
    )
    return f"""
WITH coarse AS (
  SELECT centroid_id, cvec FROM (
    SELECT ({id_col} % {n_coarse}) AS centroid_id,
           {vec_col}::DOUBLE[] AS cvec,
           ROW_NUMBER() OVER (
             PARTITION BY ({id_col} % {n_coarse}) ORDER BY {id_col}) AS rn
    FROM {table}
  ) WHERE rn = 1
),
assign AS (
  SELECT {id_col}, centroid_id FROM (
    SELECT e.{id_col}, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.{id_col}
             ORDER BY {l2.format(a=f"e.{vec_col}::DOUBLE[]", b="c.cvec")} ASC,
                      c.centroid_id ASC) AS rn
    FROM {table} e CROSS JOIN coarse c
  ) WHERE rn = 1
),
probes AS (
  SELECT centroid_id FROM coarse
  ORDER BY {l2.format(a="cvec", b=f"{q_lit}::DOUBLE[]")} ASC, centroid_id ASC
  LIMIT {nprobe}
),
pruned AS (
  SELECT {id_col} FROM assign
  WHERE centroid_id IN (SELECT centroid_id FROM probes)
),
refrows AS (
  SELECT {id_col}, {vec_col}::DOUBLE[] AS rv
  FROM {table} ORDER BY {id_col} LIMIT {n_refs}
),
refs AS (
  SELECT ROW_NUMBER() OVER (ORDER BY {id_col}) - 1 AS cid, rv FROM refrows
),
subspaces AS (SELECT unnest(generate_series(0, {m - 1})) AS j),
csub AS (
  SELECT j, cid, rv[j * {d} + 1 : (j + 1) * {d}] AS cv
  FROM refs CROSS JOIN subspaces
),
vsub AS (
  SELECT e.{id_col}, j,
         (e.{vec_col}::DOUBLE[])[j * {d} + 1 : (j + 1) * {d}] AS sv
  FROM {table} e JOIN pruned USING ({id_col}) CROSS JOIN subspaces
),
dists AS (
  SELECT v.{id_col}, v.j, c.cid,
         {l2.format(a="v.sv", b="c.cv")} AS d2
  FROM vsub v JOIN csub c ON v.j = c.j
),
codes AS (
  SELECT {id_col}, j, cid FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY {id_col}, j ORDER BY d2 ASC, cid ASC) AS rn
    FROM dists
  ) WHERE rn = 1
),
qsub AS (
  SELECT j, ({q_lit}::DOUBLE[])[j * {d} + 1 : (j + 1) * {d}] AS qv
  FROM subspaces
),
qtab AS (
  SELECT q.j, c.cid, {l2.format(a="q.qv", b="c.cv")} AS qd2
  FROM qsub q JOIN csub c ON q.j = c.j
)
SELECT codes.{id_col}, ROUND(SUM(qtab.qd2), 6) AS approx_d2
FROM codes JOIN qtab ON codes.j = qtab.j AND codes.cid = qtab.cid
GROUP BY codes.{id_col}
ORDER BY approx_d2 ASC, codes.{id_col} ASC
LIMIT {k}
"""


# -- semantic deduplication (SemDeDup) ---------------------------------------

def semantic_dedup(
    df: DataFrame,
    *,
    n_centroids: int = 16,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public formulation): embedding-space
    deduplication — cluster the corpus, compare pairs ONLY within a
    cluster, mark cosine >= ``threshold`` pairs as semantic duplicates,
    and keep one representative per connected duplicate group.

    This is the composition the engine's pieces were built for:

    - ``ivf_assign`` gives deterministic clusters (broadcast centroids,
      map-only argmin) — the step that turns the O(n²) all-pairs cosine
      into per-cluster blocks, exactly the paper's k-means trick;
    - the within-cluster pair join is an equi-join on centroid_id with
      ``id1 < id2`` (quadratic only inside a cluster — at scale cluster
      granularity is the knob, same contract as the LSH banding);
    - ``connected_components`` resolves transitive duplicate chains;
      representatives are the minimum id per component (deterministic).

    Returns (id, cluster_id, keep) for every input row: ``keep`` marks the
    representative; downstream curation filters ``keep``.
    Cosines are rounded to 6 before the threshold compare (cross-engine
    tie-stability, the repo-wide contract)."""
    from harmonize_search_analyze_spark.operators.dedup import (
        connected_components,
    )

    # centroid seeds via ivf_assign's deterministic id-hash construction,
    # but assignment through the ``_vector_map`` stage (map-only) — the
    # crossJoin+window argmin it replaces is the measured-slow relational
    # shape (see _assign_literal), and both honor the same rounded-6 /
    # lowest-centroid tie contract the oracle replays.
    w = Window.partitionBy("bucket").orderBy(id_col)
    centroids = (
        df.select(
            id_col,
            F.col(vec_col).cast("array<double>").alias("cvec"),
            (F.col(id_col) % n_centroids).alias("bucket"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("bucket").alias("centroid_id"), "cvec")
    )
    # keep_vec carries the double-cast vector through the assignment
    # stage, so the per-cluster block join below needs NO join-back and
    # the corpus is scanned ONCE (round-10: the old shape joined a
    # second df scan onto (id, centroid_id) — one extra scan + one
    # id-keyed exchange per run; dvec is byte-identical either way).
    import numpy as np

    clustered = assign_centroids(
        df, centroids, vec_col=vec_col, id_col=id_col, keep_vec=True
    ).select(id_col, "dvec", "centroid_id")

    # per-cluster cosine block as ONE numpy matmul per group (the
    # engine's measured fold->matmul win, embedding_near_dup_pairs:
    # 6-decimal parity vs the oracle's fold verified over all sf0.1
    # pairs). applyInArrow shuffles once on centroid_id — the same
    # exchange the within-cluster equi-join would pay, minus the
    # interpreted per-pair dot products.
    def cluster_pairs(group):
        mat = _matrix(group, "dvec")
        ids = group.column(id_col).to_numpy()
        nrm = np.sqrt((mat * mat).sum(axis=1))
        cos = np.round((mat @ mat.T) / np.outer(nrm, nrm), 6)
        keep = (cos >= threshold) & (ids[:, None] < ids[None, :])
        i, j = np.nonzero(keep)
        return {"id1": ids[i], "id2": ids[j]}

    pairs = _vector_map(
        clustered.groupBy("centroid_id"), cluster_pairs, "id1 long, id2 long"
    )
    labels = connected_components(pairs)
    return (
        df.select(id_col)
        .join(labels.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            (
                F.coalesce("cluster_id", F.col(id_col)) == F.col(id_col)
            ).alias("keep"),
        )
        .orderBy(id_col)
    )


def semantic_dedup_oracle_sql(
    *,
    n_centroids: int = 16,
    threshold: float = 0.95,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB oracle replaying semantic_dedup end-to-end: the id-hash
    coarse centroids + argmin assignment (ivf_assign's construction), the
    within-cluster cosine pairs, and a recursive-CTE transitive closure
    for the duplicate groups."""
    l2 = (
        "ROUND(list_sum(list_transform(list_zip({a}, {b}), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)"
    )
    dot = (
        "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
    )
    nrm = "sqrt(list_sum(list_transform({a}, x -> x * x)))"
    cos = (
        "ROUND(" + dot.format(a="x.dvec", b="y.dvec") + " / ("
        + nrm.format(a="x.dvec") + " * " + nrm.format(a="y.dvec") + "), 6)"
    )
    return f"""
WITH RECURSIVE coarse AS (
  SELECT centroid_id, cvec FROM (
    SELECT ({id_col} % {n_centroids}) AS centroid_id,
           {vec_col}::DOUBLE[] AS cvec,
           ROW_NUMBER() OVER (
             PARTITION BY ({id_col} % {n_centroids}) ORDER BY {id_col}) AS rn
    FROM {table}
  ) WHERE rn = 1
),
assign AS (
  SELECT {id_col}, centroid_id FROM (
    SELECT e.{id_col}, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.{id_col}
             ORDER BY {l2.format(a=f"e.{vec_col}::DOUBLE[]", b="c.cvec")} ASC,
                      c.centroid_id ASC) AS rn
    FROM {table} e CROSS JOIN coarse c
  ) WHERE rn = 1
),
vecs AS (
  SELECT e.{id_col} AS id, e.{vec_col}::DOUBLE[] AS dvec, a.centroid_id
  FROM {table} e JOIN assign a ON e.{id_col} = a.{id_col}
),
pairs AS (
  SELECT x.id AS id1, y.id AS id2 FROM vecs x
  JOIN vecs y ON x.centroid_id = y.centroid_id AND x.id < y.id
  WHERE {cos} >= {threshold}
),
sym AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION SELECT id2, id1 FROM pairs
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
labels AS (
  SELECT a AS id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
)
SELECT e.{id_col},
       COALESCE(l.cluster_id, e.{id_col}) AS cluster_id,
       COALESCE(l.cluster_id, e.{id_col}) = e.{id_col} AS keep
FROM {table} e LEFT JOIN labels l ON l.id = e.{id_col}
ORDER BY e.{id_col}
"""


# -- Matryoshka truncate-then-rerank ------------------------------------------


def mrl_topk(
    df: DataFrame,
    vec_col: str,
    qvec: list[float],
    *,
    dims: int,
    k: int = 10,
    oversample: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka truncate-then-rerank ANN (Kusupati et al. 2022, MRL):
    shortlist ``k * oversample`` candidates by cosine over only the FIRST
    ``dims`` dimensions, then rerank the shortlist with the full vector.
    Returns (id, cosine, cosine_trunc) — full-dim score first, the
    truncated first-stage score kept for diagnostics.

    MRL-trained embeddings front-load information, so the truncated
    first stage loses little recall while cutting the per-row flops by
    dims/D; at 100 TB the shortlist pass is the whole corpus scan
    (TakeOrderedAndProject, no global sort) and the rerank touches only
    k * oversample rows via a semi-join back to the corpus — the same
    shortlist-join shape as the IVF+PQ path. With dimension-sliced
    storage (a separate column per prefix width) the first stage prunes
    IO too; over a single array column it prunes compute only.

    Ties pinned (score DESC, id ASC) at BOTH stages so the shortlist
    boundary is deterministic across engines; scores are rounded to 6
    BEFORE ranking for the same reason (cross-engine float discipline).
    """
    import math

    if not 1 <= dims <= len(qvec):
        raise ValueError(f"dims must be in [1, {len(qvec)}], got {dims}")
    if k < 1 or oversample < 1:
        raise ValueError("k and oversample must be >= 1")
    emb = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    tq = qvec[:dims]
    tnorm = math.sqrt(sum(v * v for v in tq))
    qnorm = math.sqrt(sum(v * v for v in qvec))
    tcos = F.round(
        F.try_divide(
            F.expr(_dot_sql(f"slice({emb}, 1, {dims})", _qvec_lit(tq))),
            F.expr(_norm_sql(f"slice({emb}, 1, {dims})")) * F.lit(tnorm),
        ),
        6,
    )
    shortlist = (
        df.select(F.col(id_col), tcos.alias("cosine_trunc"))
        .orderBy(F.desc("cosine_trunc"), F.asc(id_col))
        .limit(k * oversample)
    )
    full = F.round(
        F.try_divide(
            F.expr(_dot_sql(emb, _qvec_lit(qvec))),
            F.expr(_norm_sql(emb)) * F.lit(qnorm),
        ),
        6,
    )
    return (
        df.join(shortlist, id_col)
        .select(F.col(id_col), full.alias("cosine"), "cosine_trunc")
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def mrl_topk_oracle_sql(
    qvec: list[float],
    *,
    dims: int,
    k: int = 10,
    oversample: int = 4,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of ``mrl_topk`` (same two-stage ranking, same rounds)."""
    import math

    tq = qvec[:dims]
    tlit = "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in tq) + "]"
    qlit = "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in qvec) + "]"
    tnorm = math.sqrt(sum(v * v for v in tq))
    qnorm = math.sqrt(sum(v * v for v in qvec))
    sl = f"({vec_col}::DOUBLE[])[1:{dims}]"
    tdot = (
        f"list_sum(list_transform(list_zip({sl}, {tlit}), p -> p[1] * p[2]))"
    )
    tnrm = f"sqrt(list_sum(list_transform({sl}, x -> x * x)))"
    fdot = (
        f"list_sum(list_transform(list_zip({vec_col}::DOUBLE[], {qlit}), "
        "p -> p[1] * p[2]))"
    )
    fnrm = (
        f"sqrt(list_sum(list_transform({vec_col}::DOUBLE[], x -> x * x)))"
    )
    return f"""
WITH shortlist AS (
  SELECT {id_col},
         ROUND({tdot} / ({tnrm} * {tnorm!r}), 6) AS cosine_trunc
  FROM {table}
  ORDER BY cosine_trunc DESC, {id_col} ASC LIMIT {k * oversample}
)
SELECT e.{id_col},
       ROUND({fdot} / ({fnrm} * {qnorm!r}), 6) AS cosine,
       s.cosine_trunc
FROM shortlist s JOIN {table} e USING ({id_col})
ORDER BY cosine DESC, e.{id_col} ASC LIMIT {k}
"""


def knn_filtered(
    df: DataFrame,
    vec_col: str,
    qvec: list[float],
    filter_pred,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    index: tuple[DataFrame, DataFrame] | None = None,
    nprobe: int = 4,
    brute_threshold: int = 100_000,
    similarity: float | None = None,
) -> DataFrame:
    """ES filtered kNN (``knn`` clause with ``filter``): the k nearest
    vectors AMONG the documents matching the filter — pre-filter
    semantics, so the result always has k hits if k survivors exist
    (post-filtering an unfiltered ANN result would not).

    ``filter_pred`` is either a Column or a query-DSL dict compiled via
    ``plans.compiler.compile_query`` (the same ASTs the search surface
    accepts). Mirrors ES's own dispatch: when few documents survive the
    filter, exact (brute) scoring over the survivors is both cheaper and
    recall-perfect, so below ``brute_threshold`` survivors — or when no
    prebuilt ``index`` is supplied — the operator goes exact; above it,
    the filter is pushed into the prebuilt IVF index by semi-joining the
    assignment lists down to surviving ids, then probing as usual.

    The dispatch needs one survivor COUNT (a 1-row agg over the filtered
    scan — the filter is pushed down, so this is cheap relative to any
    scoring pass). Pass ``brute_threshold=0`` with an index to force the
    ANN path and skip the count when the filter is known to be broad.

    Scale: exact path = filtered scan + TakeOrdered (no shuffle); ANN
    path = assignments semi-join (broadcast when the survivor id set is
    small) + nprobe partition-pruned lists + TakeOrdered.
    """
    from harmonize_search_analyze_spark.plans.compiler import compile_query

    pred = (
        compile_query(filter_pred)
        if isinstance(filter_pred, dict) or filter_pred is None
        else filter_pred
    )
    survivors = df.where(pred)
    def _cut(ranked: DataFrame) -> DataFrame:
        # ES knn `similarity`: hits under the cosine floor drop even if
        # fewer than k remain (a post-rank filter on the score column)
        if similarity is None:
            return ranked
        score = [c for c in ranked.columns if c != id_col][0]
        return ranked.where(F.col(score) >= float(similarity))

    if index is None:
        return _cut(cosine_topk(survivors, vec_col, qvec, k, id_col))
    if brute_threshold > 0 and survivors.count() <= brute_threshold:
        return _cut(cosine_topk(survivors, vec_col, qvec, k, id_col))
    centroids, assignments = index
    filtered_assign = assignments.join(
        survivors.select(id_col), id_col, "left_semi"
    )
    return _cut(ivf_search(
        survivors, centroids, filtered_assign, qvec,
        k=k, nprobe=nprobe, vec_col=vec_col, id_col=id_col,
    ))


def mine_hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_id: str | None = None,
    anchor_vec: str | None = None,
    anchor_label: str | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for every
    anchor, the ``k`` most similar corpus items with a DIFFERENT label —
    the near-miss examples that carry the training signal easy random
    negatives lack (the standard dense-retrieval recipe: mine negatives
    from the current embedding space's nearest non-matches).

    The label filter applies BEFORE the per-anchor rank (the top-k is
    over negatives, not a post-filtered top-k of everything — a
    same-label-dense neighborhood would otherwise starve the output).
    Self-pairs are excluded by id.

    Returns ``(anchor_id, negative_id, negative_label, cosine, rank)``.

    Scale shape: same as ``similarity_join`` — anchors broadcast, corpus
    scanned once, the rank-window shuffle carries scores only. Keep the
    anchor batch in the thousands; mine larger sets in batches or
    through the IVF path (``similarity_join_ivf`` + label filter).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    a_id = anchor_id or id_col
    a_vec = anchor_vec or vec_col
    a_lab = anchor_label or label_col
    c = corpus.select(
        F.col(id_col).alias("negative_id"),
        F.col(label_col).alias("negative_label"),
        F.expr(f"CAST({vec_col} AS ARRAY<DOUBLE>)").alias("cv"),
    ).withColumn("cn", F.expr(_norm_sql("cv")))
    a = anchors.select(
        F.col(a_id).alias("anchor_id"),
        F.col(a_lab).alias("__alab"),
        F.expr(f"CAST({a_vec} AS ARRAY<DOUBLE>)").alias("av"),
    ).withColumn("an", F.expr(_norm_sql("av")))
    cos = F.round(
        F.try_divide(F.expr(_dot_sql("cv", "av")), F.col("cn") * F.col("an")),
        6,
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), F.asc("negative_id")
    )
    return (
        c.crossJoin(F.broadcast(a))
        .where(
            ~F.col("negative_label").eqNullSafe(F.col("__alab"))
            & (F.col("negative_id") != F.col("anchor_id"))
        )
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(
            "anchor_id", "negative_id", "negative_label", "cosine", "rank"
        )
    )


def mine_hard_negatives_sql(
    corpus_table: str,
    anchors_predicate: str,
    k: int,
    dialect: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> str:
    """Dual-dialect twin (self-mining form: anchors are the rows matching
    ``anchors_predicate`` in the same table)."""
    if dialect == "spark":
        dot = (
            "aggregate(zip_with(c.cv, a.av, (x, y) -> x * y), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        norm = lambda e: (  # noqa: E731
            f"sqrt(aggregate(transform({e}, x -> x * x), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
        )
        cast = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
        nullsafe_ne = "NOT (c.lab <=> a.alab)"
    else:
        dot = (
            "list_sum(list_transform(list_zip(c.cv, a.av), p -> p[1] * p[2]))"
        )
        norm = lambda e: (  # noqa: E731
            f"sqrt(list_sum(list_transform({e}, x -> x * x)))"
        )
        cast = f"{vec_col}::DOUBLE[]"
        nullsafe_ne = "c.lab IS DISTINCT FROM a.alab"
    return f"""
WITH c AS (
  SELECT {id_col} AS nid, {label_col} AS lab, {cast} AS cv
  FROM {corpus_table}
),
a AS (
  SELECT {id_col} AS aid, {label_col} AS alab, {cast} AS av
  FROM {corpus_table} WHERE {anchors_predicate}
),
scored AS (
  SELECT a.aid AS anchor_id, c.nid AS negative_id,
         c.lab AS negative_label,
         ROUND({dot} / ({norm('c.cv')} * {norm('a.av')}), 6) AS cosine
  FROM c CROSS JOIN a
  WHERE {nullsafe_ne} AND c.nid <> a.aid
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY anchor_id ORDER BY cosine DESC, negative_id ASC
  ) AS INT) AS rank
  FROM scored
)
SELECT anchor_id, negative_id, negative_label, cosine, rank
FROM ranked WHERE rank <= {k}
"""


# -- k-NN label classification (embedding-quality eval) ----------------------


def knn_classify(
    emb: DataFrame,
    *,
    k: int = 5,
    test_pct: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    seed: int = 7,
    method: str = "exact",
    nprobe: int = 4,
    n_centroids: int | None = None,
) -> DataFrame:
    """k-NN classification probe — the standard embedding-quality eval
    (Papernot & McDaniel 2018's deep k-NN form of it): hold out
    ``test_pct`` percent of vectors by portable hash, predict each
    held-out label by majority vote of its k nearest training vectors
    (cosine), report per-vector truth vs prediction.

    Majority ties break toward the smallest label; the split is the
    deterministic hash gate (same rows on any engine/partitioning).
    Returns (vec_id, true_label, pred_label, votes BIGINT, correct).

    Scale shape: ``method`` picks the neighbor search. ``"exact"``
    (default, the oracle) inherits :func:`similarity_join`'s
    ONE-corpus-scan broadcast contract — but scored pairs are
    |test| x |train|, BOTH sides growing with the corpus, so the probe is
    quadratic by construction (measured 82x time at 10x data,
    PERFORMANCE.md). ``"ivf"`` routes the same voting pipeline through
    :func:`similarity_join_ivf` (probe-pruned candidates,
    nprobe/n_centroids of the pairs, recall < 1 with the exact path as
    its recall oracle) — the production setting for held-out sets beyond
    a few thousand vectors. ``n_centroids=None`` (the default) auto-sizes
    the index to ~sqrt(n_train) so the candidate volume stays O(n^1.5)
    as the corpus grows — a pinned centroid count re-introduces the
    quadratic term (measured, PERFORMANCE.md round 4). Voting is identical either way: a
    (query, label)-keyed agg + per-query rank window — exchanges carry
    (id, label, count) rows only, never vectors.
    """
    from harmonize_search_analyze_spark.functions.hashing import hash64_sql

    if not 0 < test_pct < 100:
        raise ValueError("test_pct must be in 1..99")
    if method not in ("exact", "ivf"):
        raise ValueError(f"method must be 'exact' or 'ivf', got {method!r}")
    gate = hash64_sql(
        f"('{int(seed)}:knn:' || CAST({id_col} AS STRING))", "spark"
    )
    is_test = F.expr(f"({gate}) % 100 < {int(test_pct)}")
    test = emb.where(is_test)
    train = emb.where(~is_test)
    tq = test.select(F.col(id_col).alias("query_id"), F.col(vec_col))
    if method == "ivf":
        nn = similarity_join_ivf(
            train,
            tq,
            k=k,
            nprobe=nprobe,
            n_centroids=n_centroids,
            corpus_id=id_col,
            corpus_vec=vec_col,
            query_vec=vec_col,
        )
    else:
        nn = similarity_join(
            train,
            tq,
            k=k,
            corpus_id=id_col,
            corpus_vec=vec_col,
            query_vec=vec_col,
        )
    votes = (
        nn.join(
            train.select(
                F.col(id_col).alias("corpus_id"),
                F.col(label_col).alias("nn_label"),
            ),
            "corpus_id",
        )
        .groupBy("query_id", "nn_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("nn_label")
    )
    pred = (
        votes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return (
        pred.join(
            test.select(
                F.col(id_col).alias("query_id"),
                F.col(label_col).alias("true_label"),
            ),
            "query_id",
        )
        .select(
            F.col("query_id").alias(id_col),
            "true_label",
            F.col("nn_label").alias("pred_label"),
            "votes",
            (F.col("nn_label") == F.col("true_label")).alias("correct"),
        )
    )


def knn_classify_oracle_sql(
    table: str,
    *,
    k: int = 5,
    test_pct: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    seed: int = 7,
) -> str:
    """DuckDB replay of :func:`knn_classify` (same gate, same neighbor
    formula via similarity_join_sql, same vote/tie rules)."""
    from harmonize_search_analyze_spark.functions.hashing import hash64_sql

    gate = hash64_sql(
        f"('{int(seed)}:knn:' || CAST({id_col} AS VARCHAR))", "duckdb"
    )
    train = f"(SELECT * FROM {table} WHERE ({gate}) % 100 >= {int(test_pct)})"
    test = (
        f"(SELECT {id_col} AS query_id, {vec_col} FROM {table} "
        f"WHERE ({gate}) % 100 < {int(test_pct)})"
    )
    nn = similarity_join_sql(train, test, k, corpus_id=id_col,
                             corpus_vec=vec_col, query_vec=vec_col)
    return f"""
WITH nn AS ({nn}),
votes AS (
  SELECT nn.query_id, t.{label_col} AS nn_label,
         CAST(COUNT(*) AS BIGINT) AS votes
  FROM nn JOIN {train} t ON nn.corpus_id = t.{id_col}
  GROUP BY nn.query_id, t.{label_col}
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY votes DESC, nn_label ASC
  ) AS rn
  FROM votes
)
SELECT r.query_id AS {id_col}, q.{label_col} AS true_label,
       r.nn_label AS pred_label, r.votes,
       r.nn_label = q.{label_col} AS correct
FROM ranked r
JOIN {table} q ON r.query_id = q.{id_col}
WHERE r.rn = 1
"""


def maxsim_topk(
    df: DataFrame,
    query: DataFrame,
    *,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Late-interaction (ColBERT-style ``rank_vectors`` maxSimDotProduct)
    retrieval: documents are MULTI-vector (several rows per ``id_col``);
    the score is the sum over query vectors of the max dot product
    against any of the document's vectors.

    All arithmetic in double with sequential left-folds (the engine's
    cross-engine float discipline); the final score rounds to 6; ties
    pin id ASC.

    Scale shape: the query side is token-count-sized and BROADCAST; the
    corpus scan computes |Q| codegen'd dot products per vector row, then
    two map-combinable hash aggs ((id, qid) max -> id sum) on the doc
    key. No shuffle ever carries a vector — only (id, qid, score) rows
    move. At 100 TB the cost is the one corpus scan; an IVF/BBQ
    shortlist (``similarity_ivf`` / ``bbq_topk``) in front is the
    documented two-stage switch, with this as the exact reranker.
    """
    dot = (
        "aggregate(zip_with(__dv, __qv, (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    corpus = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__dv"),
    )
    qs = query.select(
        F.col(query_id_col).alias("__qid"),
        F.col(query_vec_col).cast("array<double>").alias("__qv"),
    )
    best = (
        corpus.join(F.broadcast(qs))
        .select("__id", "__qid", F.expr(dot).alias("__dot"))
        .groupBy("__id", "__qid")
        .agg(F.max("__dot").alias("__best"))
    )
    return (
        best.groupBy(F.col("__id").alias(id_col))
        .agg(F.round(F.sum("__best"), 6).alias("maxsim"))
        .orderBy(F.desc("maxsim"), F.asc(id_col))
        .limit(k)
    )


def mmr_rerank(
    df: DataFrame,
    query_vec: list[float],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    pool: int = 50,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (the standard retrieval
    diversifier): greedily pick documents maximizing
    ``lam * rel(d, q) - (1 - lam) * max_sim(d, selected)``.

    Two stages with the same contract as ``rescore_topk``: stage 1 is
    the DISTRIBUTED relevance top-``pool`` (one corpus scan, codegen'd
    double fold, TakeOrdered — ties pinned (rel DESC, id ASC)); stage 2
    collects the pool (metadata-sized by construction: ``pool`` rows,
    never corpus-scaled) and runs the inherently-sequential greedy
    argmax on the driver with plain left-fold double dot products — the
    SAME accumulation order as the distributed fold and the DuckDB
    oracle's ``list_dot_product``, so scores are bit-identical across
    engines. Ties pin to the smaller id. Returns (rank, id, score
    rounded 6).

    At 100 TB only stage 1 touches the corpus; MMR's data dependence
    (every pick depends on all previous picks) makes the greedy loop
    irreducibly sequential, so the right scale design is exactly this:
    distribute the candidate generation, bound the pool, never the loop.
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    if k > pool:
        raise ValueError("k must be <= pool")
    qlit = "array(" + ", ".join(
        f"CAST({float(v)!r} AS DOUBLE)" for v in query_vec
    ) + ")"
    dot = (
        f"aggregate(zip_with(CAST({vec_col} AS ARRAY<DOUBLE>), {qlit}, "
        "(x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    cand = (
        df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
            F.expr(dot).alias("__rel"),
        )
        .orderBy(F.desc("__rel"), F.asc("__id"))
        .limit(pool)
        .collect()
    )
    if not cand:
        return local_frame(
            df.sparkSession, [], f"rank INT, {id_col} BIGINT, score DOUBLE"
        )

    def _dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):  # left fold, same order as both engines
            acc += x * y
        return acc

    chosen: list[tuple[int, int, float]] = []
    chosen_vecs: list[list[float]] = []
    remaining = {r["__id"]: r for r in cand}
    # first pick: pure relevance (ties already pinned by the sort)
    first = cand[0]
    chosen.append((1, first["__id"], first["__rel"]))
    chosen_vecs.append(first["__v"])
    del remaining[first["__id"]]
    while len(chosen) < k and remaining:
        best_id, best_score = None, None
        for rid in sorted(remaining):
            r = remaining[rid]
            max_sim = max(_dot(r["__v"], cv) for cv in chosen_vecs)
            score = lam * r["__rel"] - (1.0 - lam) * max_sim
            if best_score is None or score > best_score:
                best_id, best_score = rid, score
        r = remaining.pop(best_id)
        chosen.append((len(chosen) + 1, best_id, best_score))
        chosen_vecs.append(r["__v"])
    rows = [(rank, rid, round(s, 6)) for rank, rid, s in chosen]
    return local_frame(
        df.sparkSession, rows, f"rank INT, {id_col} BIGINT, score DOUBLE"
    )


def _int8_quant_sql(arr: str, vmin: str, s: str, dialect: str) -> str:
    """Quantize a DOUBLE array to 0..255 int offsets with the supplied
    (vmin, scale) params: floor((x-vmin)/s + 0.5) — explicit half-up so
    both engines round identically — clamped to the byte range."""
    body = f"CAST(least(255.0, greatest(0.0, floor((x - {vmin}) / {s} + 0.5))) AS INT)"
    if dialect == "spark":
        return f"transform({arr}, x -> {body})"
    return f"list_transform({arr}, x -> {body})"


def int8_topk(
    df: DataFrame,
    qvec: list[float],
    k: int = 10,
    *,
    shortlist: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ES int8 scalar-quantized ANN: corrected int-domain dot shortlist
    -> exact cosine rerank.

    The quantization params are the corpus-global component (min, max)
    — one map-combinable (min of array_min, max of array_max) agg,
    broadcast back (ES computes them per segment; global is this
    engine's segment). Each vector quantizes to 0..255 offsets and the
    approximate dot de-quantizes EXACTLY via the standard corrective
    identity dot ~ s^2*ip + s*vmin*(sum_a + sum_b) + d*vmin^2, so the
    shortlist ranking needs only the int inner product plus two
    precomputable component sums — at 100 TB the index representation
    is 1 byte/dim (4x less scan+shuffle than float32; persisted as
    TINYINT parquet in a real deployment) and the float vectors are
    touched for the ``shortlist`` rows only. Degenerate all-equal
    corpus (vmax == vmin) pins scale=1 (every offset 0). Returns
    (id, int8_score, cosine) ordered (cosine DESC, id ASC), top k."""
    emb = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    dim = len(qvec)
    q = _qvec_lit(qvec)
    bounds = df.agg(
        F.min(F.expr(f"array_min({emb})")).alias("__vmin"),
        F.max(F.expr(f"array_max({emb})")).alias("__vmax"),
    ).select(
        "__vmin",
        F.expr(
            "CASE WHEN __vmax = __vmin THEN CAST(1.0 AS DOUBLE) "
            "ELSE (__vmax - __vmin) / 255.0 END"
        ).alias("__s"),
    )
    qd = _int8_quant_sql(emb, "__vmin", "__s", "spark")
    qq = _int8_quant_sql(q, "__vmin", "__s", "spark")
    ip = (
        f"aggregate(zip_with({qd}, {qq}, (x, y) -> CAST(x AS BIGINT) * y), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    qsum = (
        f"aggregate({qd}, CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    qsum_q = (
        f"aggregate({qq}, CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    approx = (
        f"__s * __s * ({ip}) + __s * __vmin * (({qsum}) + ({qsum_q})) "
        f"+ {dim} * __vmin * __vmin"
    )
    short = (
        df.crossJoin(F.broadcast(bounds))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.round(F.expr(approx), 6).alias("int8_score"),
        )
        .orderBy(F.desc("int8_score"), F.asc(id_col))
        .limit(shortlist)
    )
    return (
        short.select(
            id_col,
            "int8_score",
            F.round(cosine_score(vec_col, qvec), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def int8_topk_oracle_sql(
    qvec: list[float],
    k: int = 10,
    *,
    shortlist: int = 100,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of :func:`int8_topk` (same bounds, same half-up
    quantization, same corrective dot, same tie-breaks)."""
    import math

    emb = f"{vec_col}::DOUBLE[]"
    dim = len(qvec)
    qv = "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in qvec) + "]"
    qnorm = math.sqrt(sum(v * v for v in qvec))
    qd = _int8_quant_sql("v", "vmin", "s", "duckdb")
    qq = _int8_quant_sql(qv, "vmin", "s", "duckdb")
    ip = (
        f"list_sum(list_transform(list_zip({qd}, {qq}), "
        "p -> CAST(p[1] AS BIGINT) * p[2]))"
    )
    qsum = f"list_sum({qd})"
    qsum_q = f"list_sum({qq})"
    return f"""
WITH bounds AS (
  SELECT MIN(list_min({emb})) AS vmin,
         CASE WHEN MAX(list_max({emb})) = MIN(list_min({emb}))
              THEN CAST(1.0 AS DOUBLE)
              ELSE (MAX(list_max({emb})) - MIN(list_min({emb}))) / 255.0
         END AS s
  FROM {table}
),
short AS (
  SELECT {id_col}, {emb} AS v,
         ROUND(s * s * ({ip}) + s * vmin * (({qsum}) + ({qsum_q}))
               + {dim} * vmin * vmin, 6) AS int8_score
  FROM {table} CROSS JOIN bounds
  ORDER BY int8_score DESC, {id_col} ASC LIMIT {shortlist}
)
SELECT {id_col}, int8_score,
       ROUND(list_sum(list_transform(list_zip(v, {qv}), p -> p[1] * p[2]))
             / NULLIF(sqrt(list_sum(list_transform(v, x -> x * x))), 0.0)
             / CAST({qnorm!r} AS DOUBLE), 6) AS cosine
FROM short
ORDER BY cosine DESC, {id_col} ASC LIMIT {k}
"""


def random_project(
    df: DataFrame,
    in_dim: int,
    out_dim: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 11,
    out_col: str = "projected",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: map ``in_dim`` vectors
    onto ``out_dim`` deterministic gaussian directions (the decorrelated
    splitmix64/Box-Muller family sign-LSH uses), scaled 1/sqrt(out_dim)
    so expected pairwise distances are preserved (distortion 1 +/- eps
    with out_dim ~ 8 ln n / eps^2). Map-only codegen projection — the
    planes are literals, nothing shuffles; at 100 TB this is the cheap
    4x shrink applied BEFORE clustering / dedup / ANN stages so their
    shuffles move out_dim floats per row instead of in_dim."""
    import math

    planes = hyperplanes(in_dim, out_dim, seed)
    emb = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    scale = 1.0 / math.sqrt(out_dim)
    comps = ", ".join(
        f"({_dot_sql(emb, _qvec_lit(p))}) * CAST({scale!r} AS DOUBLE)"
        for p in planes
    )
    return df.select(
        F.col(id_col), F.expr(f"array({comps})").alias(out_col)
    )


def _project_vec(qvec: list[float], out_dim: int, seed: int) -> list[float]:
    """Driver-side twin of :func:`random_project` for a literal query."""
    import math

    planes = hyperplanes(len(qvec), out_dim, seed)
    scale = 1.0 / math.sqrt(out_dim)
    out = []
    for p in planes:
        acc = 0.0
        for a, b in zip(qvec, p):
            acc += a * b
        out.append(acc * scale)
    return out


def rp_topk(
    df: DataFrame,
    qvec: list[float],
    k: int = 10,
    *,
    out_dim: int = 16,
    shortlist: int = 100,
    seed: int = 11,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """JL-projected ANN: rank by cosine in the ``out_dim`` projected
    space (4x fewer floats through the top-k machinery at the default
    64->16), then exact cosine rerank of the ``shortlist``. Returns
    (id, rp_cosine, cosine) ordered (cosine DESC, id ASC), top k."""
    import math

    planes = hyperplanes(len(qvec), out_dim, seed)
    emb = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    scale = 1.0 / math.sqrt(out_dim)
    comps = ", ".join(
        f"({_dot_sql(emb, _qvec_lit(p))}) * CAST({scale!r} AS DOUBLE)"
        for p in planes
    )
    qp = _project_vec(qvec, out_dim, seed)
    short = (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            F.expr(f"array({comps})").alias("projected"),
        )
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.round(cosine_score("projected", qp), 6).alias("rp_cosine"),
        )
        .orderBy(F.desc("rp_cosine"), F.asc(id_col))
        .limit(shortlist)
    )
    return (
        short.select(
            id_col,
            "rp_cosine",
            F.round(cosine_score(vec_col, qvec), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def rp_topk_oracle_sql(
    qvec: list[float],
    k: int = 10,
    *,
    out_dim: int = 16,
    shortlist: int = 100,
    seed: int = 11,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of :func:`rp_topk`: identical literal planes (same
    splitmix64/Box-Muller arithmetic), identical left-fold dot order."""
    import math

    planes = hyperplanes(len(qvec), out_dim, seed)
    scale = 1.0 / math.sqrt(out_dim)
    emb = f"{vec_col}::DOUBLE[]"

    def lit(vals: list[float]) -> str:
        return "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in vals) + "]"

    comps = ", ".join(
        f"list_sum(list_transform(list_zip({emb}, {lit(p)}), "
        f"p -> p[1] * p[2])) * CAST({scale!r} AS DOUBLE)"
        for p in planes
    )
    qp = _project_vec(qvec, out_dim, seed)
    qpl = lit(qp)
    qpnorm = math.sqrt(sum(v * v for v in qp))
    qv = lit(qvec)
    qnorm = math.sqrt(sum(v * v for v in qvec))
    return f"""
WITH proj AS (
  SELECT {id_col}, {emb} AS v, [{comps}] AS pr FROM {table}
),
short AS (
  SELECT {id_col}, v,
         ROUND(list_sum(list_transform(list_zip(pr, {qpl}),
                                       p -> p[1] * p[2]))
               / NULLIF(sqrt(list_sum(list_transform(pr, x -> x * x))), 0.0)
               / CAST({qpnorm!r} AS DOUBLE), 6) AS rp_cosine
  FROM proj
  ORDER BY rp_cosine DESC, {id_col} ASC LIMIT {shortlist}
)
SELECT {id_col}, rp_cosine,
       ROUND(list_sum(list_transform(list_zip(v, {qv}), p -> p[1] * p[2]))
             / NULLIF(sqrt(list_sum(list_transform(v, x -> x * x))), 0.0)
             / CAST({qnorm!r} AS DOUBLE), 6) AS cosine
FROM short
ORDER BY cosine DESC, {id_col} ASC LIMIT {k}
"""


def ivf_write(
    df: DataFrame,
    centroids: DataFrame,
    path: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
) -> None:
    """Persist an IVF index: vectors written to parquet PARTITIONED BY
    centroid_id (plus the centroid table alongside). This is the
    claim ivf_search's docstring makes, made real: probing nprobe
    lists becomes PARTITION PRUNING at the file listing — the scan
    never opens the other lists' files (asserted by test via the
    scan's file count). At 100 TB the unprobed data isn't just
    unfiltered, it's unread."""
    assigned = assign_centroids(
        df, centroids, vec_col=vec_col, id_col=id_col
    ).select(id_col, "centroid_id")
    (
        df.join(assigned, id_col)
        .write.mode(mode)
        .partitionBy("centroid_id")
        .parquet(f"{path}/vectors")
    )
    centroids.write.mode(mode).parquet(f"{path}/centroids")


def ivf_search_indexed(
    spark,
    path: str,
    qvec: list[float],
    *,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Query a persisted IVF index: rank centroids (metadata-sized
    collect), then scan ONLY the nprobe partitions — the
    `centroid_id IN (...)` filter prunes at the parquet partition
    level, so the other lists' files are never opened."""
    centroids = spark.read.parquet(f"{path}/centroids")
    probe_ids = [
        r.centroid_id
        for r in centroids.select(
            "centroid_id",
            F.round(cosine_score("cvec", qvec), 6).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("centroid_id"))
        .limit(nprobe)
        .collect()
    ]
    vectors = spark.read.parquet(f"{path}/vectors")
    shortlist = vectors.where(F.col("centroid_id").isin(probe_ids))
    return cosine_topk(shortlist, vec_col, qvec, k, id_col)


def int8_write(
    df: DataFrame,
    path: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
) -> None:
    """Persist the int8 scalar-quantized index: per-vector byte
    offsets stored as ARRAY<TINYINT> (centered to -128..127 so the
    physical type is 1 byte/dim) plus the precomputed component sum
    the corrective dot needs, and the (vmin, scale) params alongside —
    the storage claim in int8_topk's docstring, made real (the test
    measures the on-disk ratio vs the raw float vectors)."""
    emb = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    bounds = df.agg(
        F.min(F.expr(f"array_min({emb})")).alias("__vmin"),
        F.max(F.expr(f"array_max({emb})")).alias("__vmax"),
    ).select(
        "__vmin",
        F.expr(
            "CASE WHEN __vmax = __vmin THEN CAST(1.0 AS DOUBLE) "
            "ELSE (__vmax - __vmin) / 255.0 END"
        ).alias("__s"),
    )
    qd = _int8_quant_sql(emb, "__vmin", "__s", "spark")
    quantized = df.crossJoin(F.broadcast(bounds)).select(
        F.col(id_col),
        F.expr(
            f"transform({qd}, x -> CAST(x - 128 AS TINYINT))"
        ).alias("q"),
        F.expr(
            f"aggregate({qd}, CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("qsum"),
    )
    quantized.write.mode(mode).parquet(f"{path}/q")
    bounds.select(
        F.col("__vmin").alias("vmin"), F.col("__s").alias("s")
    ).write.mode(mode).parquet(f"{path}/params")


def int8_search_indexed(
    spark,
    path: str,
    raw: DataFrame,
    qvec: list[float],
    *,
    k: int = 10,
    shortlist: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Query the persisted int8 index: the shortlist ranking touches
    ONLY the 1-byte/dim quantized table (int dot + stored sums +
    corrective identity); the float vectors (``raw``) join in for the
    ``shortlist`` rows only. Same answer as the in-memory int8_topk
    (test-pinned)."""
    import math as _math

    p = spark.read.parquet(f"{path}/params").collect()[0]
    vmin, s = float(p.vmin), float(p.s)
    dim = len(qvec)
    qq_list = [
        max(0, min(255, int(_math.floor((v - vmin) / s + 0.5))))
        for v in qvec
    ]
    qsum_q = sum(qq_list)
    qlit = "array(" + ", ".join(str(v) for v in qq_list) + ")"
    ip = (
        f"aggregate(zip_with(transform(q, x -> CAST(x AS INT) + 128),"
        f" {qlit}, (x, y) -> CAST(x AS BIGINT) * y),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    approx = (
        f"CAST({s!r} AS DOUBLE) * CAST({s!r} AS DOUBLE) * ({ip})"
        f" + CAST({s!r} AS DOUBLE) * CAST({vmin!r} AS DOUBLE)"
        f" * (qsum + {qsum_q})"
        f" + {dim} * CAST({vmin!r} AS DOUBLE) * CAST({vmin!r} AS DOUBLE)"
    )
    short = (
        spark.read.parquet(f"{path}/q")
        .select(
            F.col(id_col),
            F.round(F.expr(approx), 6).alias("int8_score"),
        )
        .orderBy(F.desc("int8_score"), F.asc(id_col))
        .limit(shortlist)
    )
    return (
        short.join(raw.select(id_col, vec_col), id_col)
        .select(
            id_col,
            "int8_score",
            F.round(cosine_score(vec_col, qvec), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def bitext_mine(
    src: DataFrame,
    tgt: DataFrame,
    *,
    k: int = 4,
    threshold: float = 1.0,
    strategy: str = "forward",
    method: str = "exact",
    nprobe: int = 16,
    src_id: str = "vec_id",
    src_vec: str = "embedding",
    tgt_id: str = "vec_id",
    tgt_vec: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix recipe): mine translation pairs from two embedding
    spaces by scoring each candidate with

        margin(x, y) = cos(x, y) / ((avg_fwd(x) + avg_bwd(y)) / 2)

    where avg_fwd(x) is the mean cosine of x to its k nearest targets
    and avg_bwd(y) the mean cosine of y to its k nearest sources — the
    ratio margin that suppresses hubness (a vector globally close to
    everything scores high cosine but low margin).

    ``strategy``: ``forward`` emits each source's nearest target;
    ``intersect`` keeps mutual-nearest pairs only (higher precision,
    the CCMatrix default). Pairs below ``threshold`` drop.

    Returns (src_id, tgt_id, cosine, margin DOUBLE rounded 6) ordered
    margin DESC, src_id ASC.

    ``method``: ``exact`` runs two brute ``similarity_join`` passes —
    the DECLARED recall oracle, O(|S|x|T|), for bounded samples and
    oracle replay; ``ivf`` routes both passes through
    ``similarity_join_ivf`` (probe-pruned, O(n^1.5) with sqrt-n
    centroid sizing) — the CCMatrix-scale production path with
    identical downstream arithmetic, so the exact variant measures its
    recall directly. Mutual-rank-1 mining COMPOUNDS ANN error (both
    directions must retrieve the pair and the margin denominators
    shift), so the default ``nprobe`` is 16, much higher than plain
    retrieval uses; on the scale rig's near-random synthetic vectors —
    the adversarial case, no cluster structure for IVF to exploit —
    measured pair recall vs exact was 0.32/0.52/0.66 at nprobe
    8/12/16 (precision 0.60/0.75/0.83); well-separated real bitext
    embeddings sit far above this floor, and raising nprobe buys
    recall linearly in scored candidates. Then two k-bounded per-id mean aggs and one join
    of the rank-1 candidate list against both (broadcastable,
    k-NN-list-sized) mean frames — nothing quadratic survives past the
    k-NN step."""
    if strategy not in ("forward", "intersect"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if method not in ("exact", "ivf"):
        raise ValueError(f"unknown method {method!r}")
    if k < 1:
        raise ValueError("k must be >= 1")
    s = src.select(
        F.col(src_id).alias("sid"), F.col(src_vec).alias("sv")
    )
    t = tgt.select(
        F.col(tgt_id).alias("tid"), F.col(tgt_vec).alias("tv")
    )
    if method == "ivf":
        fwd = similarity_join_ivf(
            t, s, k, nprobe=nprobe, n_centroids=None,
            corpus_id="tid", corpus_vec="tv",
            query_id="sid", query_vec="sv",
        )
        bwd = similarity_join_ivf(
            s, t, k, nprobe=nprobe, n_centroids=None,
            corpus_id="sid", corpus_vec="sv",
            query_id="tid", query_vec="tv",
        )
    else:
        fwd = similarity_join(
            t, s, k,
            corpus_id="tid", corpus_vec="tv",
            query_id="sid", query_vec="sv",
        )
        bwd = similarity_join(
            s, t, k,
            corpus_id="sid", corpus_vec="sv",
            query_id="tid", query_vec="tv",
        )
    avg_fwd = fwd.groupBy("query_id").agg(
        F.avg("cosine").alias("__af")
    ).withColumnRenamed("query_id", "__fid")
    avg_bwd = bwd.groupBy("query_id").agg(
        F.avg("cosine").alias("__ab")
    ).withColumnRenamed("query_id", "__bid")
    cand = (
        fwd.where(F.col("rank") == 1)
        .select(
            F.col("query_id").alias("src_id"),
            F.col("corpus_id").alias("tgt_id"),
            "cosine",
        )
    )
    if strategy == "intersect":
        back1 = bwd.where(F.col("rank") == 1).select(
            F.col("corpus_id").alias("src_id"),
            F.col("query_id").alias("tgt_id"),
        )
        cand = cand.join(back1, ["src_id", "tgt_id"])
    margin = F.round(
        F.try_divide(
            F.col("cosine"),
            (F.col("__af") + F.col("__ab")) / F.lit(2.0),
        ),
        6,
    )
    return (
        cand.join(
            F.broadcast(avg_fwd), cand.src_id == F.col("__fid")
        )
        .join(F.broadcast(avg_bwd), F.col("tgt_id") == F.col("__bid"))
        .withColumn("margin", margin)
        .where(F.col("margin") >= threshold)
        .select(
            "src_id", "tgt_id", "cosine", "margin"
        )
        .orderBy(F.desc("margin"), F.asc("src_id"))
    )


def bitext_mine_sql(
    src_table: str,
    tgt_table: str,
    *,
    k: int = 4,
    threshold: float = 1.0,
    strategy: str = "forward",
    src_id: str = "vec_id",
    src_vec: str = "embedding",
    tgt_id: str = "vec_id",
    tgt_vec: str = "embedding",
) -> str:
    """DuckDB replay of :func:`bitext_mine` — same k-NN tie-breaks,
    same rounding, same margin arithmetic."""
    def knn(qt, qi, qv, ct, ci, cv):
        dot = "list_sum(list_transform(list_zip(c.cv, q.qv), p -> p[1] * p[2]))"
        return f"""
  SELECT query_id, corpus_id, cosine, rank FROM (
    SELECT q.query_id, c.corpus_id,
           ROUND({dot} / (c.cn * q.qn), 6) AS cosine,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY ROUND({dot} / (c.cn * q.qn), 6) DESC,
                      c.corpus_id ASC) AS rank
    FROM (SELECT {ci} AS corpus_id, {cv}::DOUBLE[] AS cv,
                 sqrt(list_sum(list_transform({cv}::DOUBLE[], x -> x * x))) AS cn
          FROM {ct}) c
    CROSS JOIN (SELECT {qi} AS query_id, {qv}::DOUBLE[] AS qv,
                 sqrt(list_sum(list_transform({qv}::DOUBLE[], x -> x * x))) AS qn
          FROM {qt}) q
  ) r WHERE rank <= {k}"""

    inter = (
        """JOIN (SELECT corpus_id AS src_id, query_id AS tgt_id
         FROM bwd WHERE rank = 1) b USING (src_id, tgt_id)"""
        if strategy == "intersect" else ""
    )
    return f"""
WITH fwd AS ({knn(src_table, src_id, src_vec, tgt_table, tgt_id, tgt_vec)}),
bwd AS ({knn(tgt_table, tgt_id, tgt_vec, src_table, src_id, src_vec)}),
af AS (SELECT query_id AS id, AVG(cosine) AS a FROM fwd GROUP BY 1),
ab AS (SELECT query_id AS id, AVG(cosine) AS a FROM bwd GROUP BY 1),
cand AS (
  SELECT query_id AS src_id, corpus_id AS tgt_id, cosine
  FROM fwd WHERE rank = 1
)
SELECT c.src_id, c.tgt_id, c.cosine,
       ROUND(c.cosine / ((af.a + ab.a) / 2), 6) AS margin
FROM cand c {inter}
JOIN af ON af.id = c.src_id
JOIN ab ON ab.id = c.tgt_id
WHERE ROUND(c.cosine / ((af.a + ab.a) / 2), 6) >= {threshold}
ORDER BY margin DESC, c.src_id ASC
"""


# -- distributed PCA / whitening ----------------------------------------------


def embedding_gram_partials(df: DataFrame, vec_col: str, d: int):
    """One partial-Gram row PER PARTITION: (n, s = column sums, g = the
    flattened d x d Gram matrix X^T X accumulated in float64 numpy).
    This is the MLlib-style distributed covariance shape: the reduce
    side merges ~num_partitions metadata-sized rows, never the vectors.
    """
    import numpy as np
    import pyarrow as pa

    def partial(batches):
        n = 0
        s = np.zeros(d, dtype=np.float64)
        g = np.zeros((d, d), dtype=np.float64)
        for x in (_matrix(b, "dvec") for b in batches if b.num_rows):
            n += x.shape[0]
            s += x.sum(axis=0)
            g += x.T @ x
        if n:
            yield pa.RecordBatch.from_pydict(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    vecs = df.where(F.col(vec_col).isNotNull()).select(
        F.col(vec_col).cast("array<double>").alias("dvec")
    )
    return vecs.mapInArrow(partial, "n long, s array<double>, g array<double>")


def embedding_covariance(
    df: DataFrame, vec_col: str, *, d: int
) -> DataFrame:
    """Population covariance matrix of an embedding column, distributed:
    per-partition float64 Gram partials (Arrow map stage), elementwise
    merge IN-PLAN (posexplode + sum keyed by flat index — the partials
    frame is partition-count-sized, so this is metadata work), then
    ``cov_ij = G_ij / n - mean_i * mean_j``. Returns the upper triangle
    as rows ``(i, j, cov)`` rounded 6 — row form (not a nested array)
    so the oracle comparison is canonical.

    The covariance is the SQL-expressible half of PCA — the oracle twin
    pins it exactly (same trainer-pattern split as kmeans_assign /
    bpe_pair_counts); the eigendecomposition lives in
    :func:`embedding_pca` as the rows-only step.
    """
    parts = embedding_gram_partials(df, vec_col, d)
    n_tot = parts.agg(F.sum("n").alias("n"))
    s_tot = (
        parts.select(F.posexplode("s").alias("i", "v"))
        .groupBy("i").agg(F.sum("v").alias("s"))
    )
    g_tot = (
        parts.select(F.posexplode("g").alias("k", "v"))
        .groupBy("k").agg(F.sum("v").alias("g"))
        .select(
            (F.col("k") / d).cast("int").alias("i"),
            (F.col("k") % d).alias("j"),
            "g",
        )
        .where(F.col("i") <= F.col("j"))
    )
    si = s_tot.select(F.col("i"), F.col("s").alias("si"))
    sj = s_tot.select(F.col("i").alias("j"), F.col("s").alias("sj"))
    return (
        g_tot.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(n_tot)
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            # + 0.0 folds IEEE negative zero into positive zero — DuckDB
            # ROUND keeps -0.0, Spark does not, and the driver
            # canonicalizer renders them differently
            (
                F.round(
                    F.col("g") / F.col("n")
                    - (F.col("si") / F.col("n"))
                    * (F.col("sj") / F.col("n")),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )


def embedding_covariance_sql(
    table: str, vec_col: str, dialect: str, *, d: int
) -> str:
    """Dual-dialect twin of :func:`embedding_covariance`: the vectors
    unrolled against a 1..d index range, pairwise products aggregated by
    (i, j) — exact same estimator, pure SQL."""
    if dialect == "spark":
        vals = (
            f"SELECT rid, i0 + 1 AS i, v FROM (SELECT"
            " monotonically_increasing_id() AS rid,"
            f" {vec_col} AS e FROM {table} WHERE {vec_col} IS NOT"
            " NULL) t LATERAL VIEW posexplode(e) x AS i0, v"
        )
    elif dialect == "duckdb":
        vals = (
            f"SELECT rid, t.i, e[t.i] AS v FROM (SELECT row_number()"
            f" OVER () AS rid, {vec_col} AS e FROM {table} WHERE"
            f" {vec_col} IS NOT NULL) s, range(1, {d + 1}) t(i)"
        )
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH vals AS ({vals}),
n AS (SELECT COUNT(DISTINCT rid) AS n FROM vals),
sums AS (SELECT i, SUM(v) AS s FROM vals GROUP BY i),
prods AS (
  SELECT a.i AS i, b.i AS j, SUM(a.v * b.v) AS g
  FROM vals a JOIN vals b ON a.rid = b.rid AND a.i <= b.i
  GROUP BY a.i, b.i
)
SELECT CAST(p.i - 1 AS INT) AS i, CAST(p.j - 1 AS INT) AS j,
       ROUND(p.g / n.n - (si.s / n.n) * (sj.s / n.n), 6) + 0.0 AS cov
FROM prods p
JOIN sums si ON p.i = si.i
JOIN sums sj ON p.j = sj.i
CROSS JOIN n
ORDER BY i, j
"""


def embedding_pca(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    d: int,
    k: int = 8,
    whiten: bool = False,
) -> DataFrame:
    """PCA projection of an embedding column to ``k`` components (MRL's
    learned-truncation cousin, and the whitening step dense retrievers
    apply post-hoc): covariance from the distributed Gram partials, the
    k leading eigenvectors solved DRIVER-SIDE on the d x d matrix
    (metadata-sized — d^2 floats, justified collect, exactly like the
    kmeans centroid collects), then a broadcast Arrow matmul projects
    every vector. ``whiten=True`` scales components by 1/sqrt(eigval).

    Determinism pin: eigenvector SIGN is fixed so each component's
    largest-|coefficient| entry is positive (numpy's sign is otherwise
    arbitrary), making outputs reproducible run-to-run. Returns
    ``(id, components array<double> rounded 6)`` plus each component's
    ``explained_variance_ratio`` carried in the operator's companion
    :func:`embedding_covariance` (the oracle-pinned half; the eig step
    itself is the rows-only trainer-shaped remainder).
    """
    import numpy as np

    parts = embedding_gram_partials(df, vec_col, d).collect()
    if not parts:
        raise ValueError("no vectors to fit PCA on")
    n = sum(r["n"] for r in parts)
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    g = np.sum(
        [np.asarray(r["g"]).reshape(d, d) for r in parts], axis=0
    )
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)      # ascending
    order = np.argsort(evals)[::-1][:k]
    w = evecs[:, order]                     # d x k
    # sign pin: largest-|coeff| entry of each component positive
    for c in range(w.shape[1]):
        j = int(np.abs(w[:, c]).argmax())
        if w[j, c] < 0:
            w[:, c] = -w[:, c]
    if whiten:
        w = w / np.sqrt(np.maximum(evals[order], 1e-12))[None, :]
    mean_b = mean.copy()

    def project(batch):
        return {
            id_col: batch.column(id_col),
            "components": np.round((_matrix(batch, "dvec") - mean_b) @ w, 6),
        }

    vecs = df.where(F.col(vec_col).isNotNull()).select(
        id_col, F.col(vec_col).cast("array<double>").alias("dvec")
    )
    return _vector_map(
        vecs, project, f"{id_col} long, components array<double>"
    )


# -- k-center greedy coreset selection ----------------------------------------


def kcenter_seed(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The deterministic SEED of k-center greedy selection: the vector
    farthest from the corpus MEAN (ties pinned by id ASC). Returns one
    row ``(id, d2)`` with the squared distance rounded 6. This is the
    SQL-expressible step of :func:`kcenter_select` — its oracle twin
    (same trainer-pattern split as kmeans_assign / embedding_covariance).

    Plan: per-dimension mean via one posexplode agg (dimension-sized),
    broadcast back, one squared-distance projection, TakeOrdered(1).
    """
    vecs = df.where(F.col(vec_col).isNotNull()).select(
        id_col, F.col(vec_col).cast("array<double>").alias("dvec")
    )
    means = (
        vecs.select(F.posexplode("dvec").alias("i", "v"))
        .groupBy("i")
        .agg(F.avg("v").alias("m"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, m))),"
                " x -> x.m)"
            ).alias("mean")
        )
    )
    d2 = F.expr(
        "aggregate(zip_with(dvec, mean, (a, b) -> (a - b) * (a - b)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    return (
        vecs.crossJoin(F.broadcast(means))
        .select(id_col, F.round(d2, 6).alias("d2"))
        .orderBy(F.desc("d2"), F.asc(id_col))
        .limit(1)
    )


def kcenter_select(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 8,
) -> DataFrame:
    """k-center GREEDY coreset selection (farthest-point traversal,
    Gonzalez 1985) — the classic diversity-maximizing data-selection
    method (pick the k most mutually-distant examples; 2-approximation
    of the optimal k-center cover). Deterministic: the seed is
    :func:`kcenter_seed`'s farthest-from-mean vector, every tie pins by
    id ASC. Returns ``(rank, id, d2)`` where d2 is the squared distance
    from the point to the PREVIOUSLY selected set (the coverage radius
    at that step; rank 0 carries the seed's distance-from-mean).

    Scale shape: each of the k rounds touches the corpus ONCE with a
    map-only distance-to-newest-center update (running elementwise MIN
    — no pairwise anything) and one TakeOrdered(1) argmax; the state
    frame (id, vec, min-dist) is checkpointed per round so the
    unrolled lineage never replays. k driver-side 1-row collects are
    the metadata-sized exception every trainer here documents.
    """
    import numpy as np  # noqa: F401  (parity with the module's trainers)

    if k < 1:
        raise ValueError("k must be >= 1")
    vecs = df.where(F.col(vec_col).isNotNull()).select(
        id_col, F.col(vec_col).cast("array<double>").alias("dvec")
    )
    seed = kcenter_seed(df, id_col, vec_col).collect()[0]
    picked = [(0, seed[0], float(seed[1]))]
    spark = df.sparkSession
    state = vecs.withColumn("mind", F.lit(float("inf")))
    for rank in range(1, k):
        center = vecs.where(
            F.col(id_col) == picked[-1][1]
        ).select(F.col("dvec").alias("cvec"))
        d2 = F.expr(
            "aggregate(zip_with(dvec, cvec, (a, b) -> (a - b) * (a - b)),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        # LAZY checkpoint (round-11): the round's TakeOrdered collect
        # below is the action that materializes it, so each round costs
        # ONE job instead of two (eager checkpoint + collect). Lineage
        # still truncates at materialization, so round r never replays
        # rounds 1..r-1 — the reason the checkpoint exists.
        state = checkpoint(
            state.crossJoin(F.broadcast(center))
            .withColumn("mind", F.least(F.col("mind"), d2))
            .drop("cvec")
        )
        nxt = (
            state.where(~F.col(id_col).isin([p[1] for p in picked]))
            .orderBy(F.desc("mind"), F.asc(id_col))
            .limit(1)
            .collect()
        )
        if not nxt:
            break
        picked.append((rank, nxt[0][0], round(float(nxt[0]["mind"]), 6)))
    return local_frame(
        spark, picked, f"rank INT, {id_col} LONG, d2 DOUBLE"
    )


def kcenter_seed_sql(
    table: str, id_col: str, vec_col: str, dialect: str, *, d: int
) -> str:
    """Dual-dialect twin of :func:`kcenter_seed` (the unrolled-index
    mean + squared distance, same arithmetic both engines)."""
    if dialect == "spark":
        vals = (
            f"SELECT {id_col} AS id, i0 + 1 AS i, v FROM {table}"
            f" LATERAL VIEW posexplode({vec_col}) x AS i0, v"
            f" WHERE {vec_col} IS NOT NULL"
        )
    elif dialect == "duckdb":
        vals = (
            f"SELECT {id_col} AS id, rng.i, {vec_col}[rng.i] AS v"
            f" FROM {table}, range(1, {d + 1}) rng(i)"
            f" WHERE {vec_col} IS NOT NULL"
        )
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH vals AS ({vals}),
means AS (SELECT i, AVG(v) AS m FROM vals GROUP BY i)
SELECT id AS {id_col}, ROUND(SUM((v - m) * (v - m)), 6) AS d2
FROM vals JOIN means USING (i)
GROUP BY id
ORDER BY d2 DESC, id ASC
LIMIT 1
"""


def simplified_silhouette(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
) -> DataFrame:
    """Simplified silhouette (Hruschka et al.) — the cluster-quality
    score that replaces the O(n²) pairwise silhouette with
    centroid distances: per point, ``a`` = distance to its own (nearest)
    centroid, ``b`` = distance to the runner-up centroid,
    ``s = (b - a) / max(a, b)`` (ties pinned by centroid id; a == b
    gives s = 0; distances are Euclidean). Returns per-cluster rows
    ``(centroid_id, n, avg_silhouette)`` ordered by centroid id.

    Scale shape: centroids broadcast (k-sized), the per-point k
    distances fold inside ONE codegen'd sort_array(collect over the
    crossJoin fan-out)... no — bounded fan-out: each point emits k
    rows (k = cluster count, tiny), one point-keyed agg picks the two
    smallest (struct-sorted), one cluster-keyed agg averages. No
    Python, no pairwise anything.
    """
    # silhouette needs a runner-up centroid; with one centroid ds[1] is
    # an out-of-bounds NULL and the engines' greatest() NULL semantics
    # diverge — refuse instead of returning engine-dependent NULLs
    if centroids.count() < 2:
        raise ValueError("simplified_silhouette needs >= 2 centroids")
    pts = df.where(F.col(vec_col).isNotNull()).select(
        id_col, F.col(vec_col).cast("array<double>").alias("dvec")
    )
    cents = centroids.select(
        F.col("centroid_id"),
        F.col("cvec").cast("array<double>").alias("cvec"),
    )
    dist = F.expr(
        "sqrt(aggregate(zip_with(dvec, cvec, (a, b) -> (a - b) * (a - b)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    )
    per_point = (
        pts.crossJoin(F.broadcast(cents))
        .select(
            id_col,
            F.struct(dist.alias("d"), F.col("centroid_id").alias("c"))
            .alias("dc"),
        )
        .groupBy(id_col)
        .agg(F.expr("sort_array(collect_list(dc))").alias("ds"))
        .select(
            F.expr("ds[0].c").alias("centroid_id"),
            F.expr(
                "CASE WHEN greatest(ds[0].d, ds[1].d) = 0.0 THEN 0.0"
                " ELSE (ds[1].d - ds[0].d) / greatest(ds[0].d, ds[1].d)"
                " END"
            ).alias("s"),
        )
    )
    return (
        per_point.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg("s"), 6).alias("avg_silhouette"),
        )
        .orderBy("centroid_id")
    )


def simplified_silhouette_sql(
    table: str,
    id_col: str,
    vec_col: str,
    centroids_sql: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`simplified_silhouette`.
    ``centroids_sql`` yields (centroid_id, cvec)."""
    if dialect == "spark":
        dist = (
            f"sqrt(aggregate(zip_with(CAST(p.{vec_col} AS ARRAY<DOUBLE>),"
            " CAST(c.cvec AS ARRAY<DOUBLE>),"
            " (a, b) -> (a - b) * (a - b)),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
        )
        mk = "sort_array(collect_list(struct(d, c)))"
        e0d, e0c, e1d = "ds[0].d", "ds[0].c", "ds[1].d"
    elif dialect == "duckdb":
        dist = (
            f"sqrt(list_sum(list_transform(range(1, len(p.{vec_col}) + 1),"
            f" i -> (CAST(p.{vec_col}[i] AS DOUBLE)"
            " - CAST(c.cvec[i] AS DOUBLE))"
            f" * (CAST(p.{vec_col}[i] AS DOUBLE)"
            " - CAST(c.cvec[i] AS DOUBLE)))))"
        )
        mk = "list_sort(list({'d': d, 'c': c}))"
        e0d, e0c, e1d = "ds[1].d", "ds[1].c", "ds[2].d"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH cents AS ({centroids_sql}),
dists AS (
  SELECT p.{id_col} AS pid, {dist} AS d, c.centroid_id AS c
  FROM {table} p CROSS JOIN cents c
  WHERE p.{vec_col} IS NOT NULL
),
per_point AS (
  SELECT pid, {mk} AS ds FROM (SELECT pid, d, c FROM dists) x
  GROUP BY pid
),
scored AS (
  SELECT {e0c} AS centroid_id,
         CASE WHEN GREATEST({e0d}, {e1d}) = 0.0 THEN 0.0
              ELSE ({e1d} - {e0d}) / GREATEST({e0d}, {e1d}) END AS s
  FROM per_point
)
SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(s), 6) AS avg_silhouette
FROM scored GROUP BY centroid_id ORDER BY centroid_id
"""

# -- embedding distribution drift ----------------------------------------------

def embedding_drift(
    a: DataFrame,
    b: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-distribution drift between two corpus slices (old vs
    new crawl, train vs eval, model-v1 vs model-v2 encodings): the
    cosine between the two MEAN vectors, the L2 distance between them,
    and the largest single-dimension mean shift — the cheap first-alarm
    before anything as heavy as a covariance diff. Returns ONE row
    ``(n_a, n_b, d, cos_means, l2_means, max_dim_shift)`` rounded 6;
    a zero mean vector on either side (or an empty side) pins NULL
    cosine (undefined direction), never 0.

    Scale shape: per side one posexplode -> per-DIMENSION avg (agg
    state is d rows, the explode is map-side combinable), one d-row
    equi-join on dimension, one final fold — the corpora are scanned
    once each and nothing bigger than d rows ever shuffles.
    """
    def _means(df: DataFrame, side: str) -> DataFrame:
        return (
            df.where(F.col(vec_col).isNotNull())
            .select(F.posexplode(vec_col).alias("__pos", "__x"))
            .groupBy("__pos")
            .agg(
                F.avg(F.col("__x").cast("double")).alias(f"__m{side}"),
                F.count(F.lit(1)).alias(f"__n{side}"),
            )
        )

    joined = _means(a, "a").join(_means(b, "b"), "__pos")
    da, db = F.col("__ma"), F.col("__mb")
    agg = joined.agg(
        F.max("__na").alias("__n_a"),
        F.max("__nb").alias("__n_b"),
        F.count(F.lit(1)).alias("__d"),
        F.sum(da * db).alias("__dot"),
        F.sum(da * da).alias("__sa"),
        F.sum(db * db).alias("__sb"),
        F.sum((da - db) * (da - db)).alias("__sq"),
        F.max(F.abs(da - db)).alias("__shift"),
    )
    cos = F.col("__dot") / F.nullif(
        F.sqrt(F.col("__sa")) * F.sqrt(F.col("__sb")), F.lit(0.0)
    )
    return agg.select(
        F.col("__n_a").cast("bigint").alias("n_a"),
        F.col("__n_b").cast("bigint").alias("n_b"),
        F.col("__d").cast("bigint").alias("d"),
        (F.round(cos, 6) + F.lit(0.0)).alias("cos_means"),
        F.round(F.sqrt("__sq"), 6).alias("l2_means"),
        F.round("__shift", 6).alias("max_dim_shift"),
    )


def embedding_drift_sql(
    a_sql: str,
    b_sql: str,
    vec_col: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`embedding_drift`. ``a_sql``/``b_sql``
    yield rows carrying ``vec_col``; the per-dimension unnest differs
    per dialect (posexplode vs UNNEST WITH ORDINALITY)."""
    if dialect == "spark":
        def unnest(src: str, side: str) -> str:
            return f"""
  SELECT pos AS p, AVG(CAST(x AS DOUBLE)) AS m{side},
         COUNT(*) AS n{side}
  FROM ({src}) LATERAL VIEW posexplode({vec_col}) t AS pos, x
  WHERE {vec_col} IS NOT NULL
  GROUP BY pos"""
    elif dialect == "duckdb":
        # DuckDB 1.0 has no WITH ORDINALITY and range() rejects lateral
        # column args — two SAME-LEVEL select-list unnests zip
        # positionally, which is exactly posexplode
        def unnest(src: str, side: str) -> str:
            return f"""
  SELECT p, AVG(CAST(x AS DOUBLE)) AS m{side}, COUNT(*) AS n{side}
  FROM (
    SELECT CAST(unnest(generate_series(1, len(s.{vec_col}))) AS INT) - 1
             AS p,
           unnest(s.{vec_col}) AS x
    FROM ({src}) s WHERE s.{vec_col} IS NOT NULL
  ) e
  GROUP BY p"""
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH ma AS ({unnest(a_sql, 'a')}),
mb AS ({unnest(b_sql, 'b')}),
folded AS (
  SELECT MAX(na) AS n_a, MAX(nb) AS n_b, COUNT(*) AS d,
         SUM(ma.ma * mb.mb) AS dot,
         SUM(ma.ma * ma.ma) AS sa,
         SUM(mb.mb * mb.mb) AS sb,
         SUM((ma.ma - mb.mb) * (ma.ma - mb.mb)) AS sq,
         MAX(ABS(ma.ma - mb.mb)) AS shift
  FROM ma JOIN mb ON ma.p = mb.p
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(d AS BIGINT) AS d,
       ROUND(dot / NULLIF(SQRT(sa) * SQRT(sb), 0.0), 6) + 0.0
         AS cos_means,
       ROUND(SQRT(sq), 6) AS l2_means,
       ROUND(shift, 6) AS max_dim_shift
FROM folded
"""


def label_outliers(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    top: int = 20,
) -> DataFrame:
    """Intra-class embedding outliers — the confident-learning-lite
    mislabel audit an annotation pipeline runs before training: each
    vector's Euclidean distance to ITS OWN label's centroid, z-scored
    against that label's distance distribution. A point far from its
    class center (relative to classmates) is a labeling-error or
    boundary-case candidate. Returns the ``top`` rows by z DESC (id ASC
    ties): ``(id, label, dist, label_mean_dist, z)`` rounded 6;
    single-member labels pin NULL z (no distribution to stand out
    from).

    Scale shape: one posexplode pass -> (label, dim) centroid agg
    (label-count x d rows — broadcastable), the join back is a
    BROADCAST hash join onto the exploded scan, one id-keyed agg
    rebuilds per-row distances, one label-keyed stats agg (label-
    sized) broadcasts back. The corpus is scanned once; nothing
    pairwise ever forms (the naive mislabel check is all-pairs
    intra-class distances — O(sum n_l^2)).
    """
    base = df.where(
        F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("__lbl"),
        F.posexplode(F.col(vec_col)).alias("__p", "__x"),
    ).withColumn("__x", F.col("__x").cast("double"))
    cent = base.groupBy("__lbl", "__p").agg(
        F.avg("__x").alias("__m")
    )
    d2 = (
        base.join(F.broadcast(cent), ["__lbl", "__p"])
        .groupBy("__id", "__lbl")
        .agg(
            F.sqrt(
                F.sum(
                    (F.col("__x") - F.col("__m"))
                    * (F.col("__x") - F.col("__m"))
                )
            ).alias("__d")
        )
    )
    stats = d2.groupBy("__lbl").agg(
        F.avg("__d").alias("__dm"),
        F.stddev_samp("__d").alias("__ds"),
    )
    z = F.try_divide(
        F.col("__d") - F.col("__dm"), F.nullif("__ds", F.lit(0.0))
    )
    return (
        d2.join(F.broadcast(stats), "__lbl")
        .select(
            F.col("__id").alias("id"),
            F.col("__lbl").alias("label"),
            F.round("__d", 6).alias("dist"),
            F.round("__dm", 6).alias("label_mean_dist"),
            (F.round(z, 6) + F.lit(0.0)).alias("z"),
        )
        .orderBy(F.desc_nulls_last("z"), F.asc("id"))
        .limit(top)
    )


def label_outliers_sql(
    table: str,
    dialect: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    top: int = 20,
) -> str:
    """Dual-dialect twin of :func:`label_outliers` (posexplode vs the
    DuckDB same-level dual-unnest zip; NULLIF mirrors try_divide)."""
    if dialect == "spark":
        expl = f"""
  SELECT {id_col} AS id, {label_col} AS lbl, pos AS p,
         CAST(x AS DOUBLE) AS x
  FROM {table} LATERAL VIEW posexplode({vec_col}) t AS pos, x
  WHERE {vec_col} IS NOT NULL AND {label_col} IS NOT NULL"""
    elif dialect == "duckdb":
        expl = f"""
  SELECT id, lbl,
         CAST(unnest(generate_series(1, len(v))) AS INT) - 1 AS p,
         CAST(unnest(v) AS DOUBLE) AS x
  FROM (
    SELECT {id_col} AS id, {label_col} AS lbl, {vec_col} AS v
    FROM {table}
    WHERE {vec_col} IS NOT NULL AND {label_col} IS NOT NULL
  ) s"""
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH base AS ({expl}),
cent AS (
  SELECT lbl, p, AVG(x) AS m FROM base GROUP BY 1, 2
),
d2 AS (
  SELECT base.id, base.lbl,
         SQRT(SUM((base.x - cent.m) * (base.x - cent.m))) AS d
  FROM base JOIN cent ON base.lbl = cent.lbl AND base.p = cent.p
  GROUP BY 1, 2
),
stats AS (
  SELECT lbl, AVG(d) AS dm, STDDEV_SAMP(d) AS ds FROM d2 GROUP BY 1
)
SELECT d2.id AS id, d2.lbl AS label, ROUND(d2.d, 6) AS dist,
       ROUND(stats.dm, 6) AS label_mean_dist,
       ROUND((d2.d - stats.dm) / NULLIF(stats.ds, 0.0), 6) + 0.0 AS z
FROM d2 JOIN stats ON d2.lbl = stats.lbl
ORDER BY z DESC NULLS LAST, id ASC
LIMIT {top}
"""


def centroid_similarity(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label-centroid similarity matrix — the class-confusability audit
    that pairs with :func:`label_outliers`: cosine and L2 distance
    between every pair of label centroids. Two labels whose centroids
    nearly coincide are candidates for merging (duplicate taxonomy
    entries) or for annotation-guideline review (systematic confusion).
    Returns one row per unordered pair (label_a < label_b) ordered
    (cosine DESC, label_a ASC, label_b ASC):
    ``(label_a, label_b, cosine, l2)`` rounded 6; a zero-norm centroid
    pins NULL cosine.

    Scale shape: one posexplode pass -> (label, dim) centroid agg; the
    pair join runs on the CENTROID frame (labels x d rows -> labels^2
    x d work, label-taxonomy-sized, never corpus rows), folded
    per-pair by one hash agg.
    """
    base = df.where(
        F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(label_col).alias("__lbl"),
        F.posexplode(F.col(vec_col)).alias("__p", "__x"),
    ).withColumn("__x", F.col("__x").cast("double"))
    cent = base.groupBy("__lbl", "__p").agg(
        F.avg("__x").alias("__m")
    )
    a = cent.select(
        F.col("__lbl").alias("label_a"),
        F.col("__p").alias("__p"),
        F.col("__m").alias("__ma"),
    )
    b = cent.select(
        F.col("__lbl").alias("label_b"),
        F.col("__p").alias("__p"),
        F.col("__m").alias("__mb"),
    )
    pairs = (
        a.join(b, "__p")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("__ma") * F.col("__mb")).alias("__dot"),
            F.sum(F.col("__ma") * F.col("__ma")).alias("__na"),
            F.sum(F.col("__mb") * F.col("__mb")).alias("__nb"),
            F.sum(
                (F.col("__ma") - F.col("__mb"))
                * (F.col("__ma") - F.col("__mb"))
            ).alias("__sq"),
        )
    )
    cos = F.try_divide(
        F.col("__dot"), F.sqrt("__na") * F.sqrt("__nb")
    )
    return pairs.select(
        "label_a", "label_b",
        (F.round(cos, 6) + F.lit(0.0)).alias("cosine"),
        F.round(F.sqrt("__sq"), 6).alias("l2"),
    ).orderBy(F.desc("cosine"), F.asc("label_a"), F.asc("label_b"))


def centroid_similarity_sql(
    table: str,
    dialect: str,
    *,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> str:
    """Dual-dialect twin of :func:`centroid_similarity`."""
    if dialect == "spark":
        expl = f"""
  SELECT {label_col} AS lbl, pos AS p, CAST(x AS DOUBLE) AS x
  FROM {table} LATERAL VIEW posexplode({vec_col}) t AS pos, x
  WHERE {vec_col} IS NOT NULL AND {label_col} IS NOT NULL"""
    elif dialect == "duckdb":
        expl = f"""
  SELECT lbl,
         CAST(unnest(generate_series(1, len(v))) AS INT) - 1 AS p,
         CAST(unnest(v) AS DOUBLE) AS x
  FROM (
    SELECT {label_col} AS lbl, {vec_col} AS v
    FROM {table}
    WHERE {vec_col} IS NOT NULL AND {label_col} IS NOT NULL
  ) s"""
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH base AS ({expl}),
cent AS (
  SELECT lbl, p, AVG(x) AS m FROM base GROUP BY 1, 2
),
pairs AS (
  SELECT a.lbl AS label_a, b.lbl AS label_b,
         SUM(a.m * b.m) AS dot,
         SUM(a.m * a.m) AS na, SUM(b.m * b.m) AS nb,
         SUM((a.m - b.m) * (a.m - b.m)) AS sq
  FROM cent a JOIN cent b ON a.p = b.p AND a.lbl < b.lbl
  GROUP BY 1, 2
)
SELECT label_a, label_b,
       ROUND(dot / NULLIF(SQRT(na) * SQRT(nb), 0.0), 6) + 0.0
         AS cosine,
       ROUND(SQRT(sq), 6) AS l2
FROM pairs
ORDER BY cosine DESC, label_a ASC, label_b ASC
"""


def intrinsic_dim(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "ivf",
    nprobe: int = 4,
    n_centroids: int | None = 16,
    anchor_filter: Column | None = None,
) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017) — the
    embedding-quality diagnostic that says how many degrees of freedom
    the vectors ACTUALLY use (collapsed/anisotropic embedding spaces
    score far below their ambient dimension, a known failure mode of
    badly trained encoders): for each anchor the ratio
    ``mu = d2/d1`` of its two nearest-neighbor cosine distances is
    Pareto(id)-distributed, so ``id_mle = n_used / sum(ln mu)``.
    Anchors with a zero first distance (exact duplicates at the
    round-6 cosine grain) or fewer than two retrieved neighbors drop;
    ``anchor_filter`` subsamples the ANCHOR set (the MLE is over anchor
    ratios, so sparse anchors against the FULL corpus is the standard
    cost lever — neighbor candidates are never subsampled).
    Returns ONE row ``(n, n_used, id_mle)`` rounded 6; an all-duplicate
    corpus pins NULL id_mle.

    ``method='ivf'`` (default) routes the 2-NN through
    :func:`similarity_join_ivf` — probe-pruned AND hash-oracle'd
    exactly (same deterministic centroids and tie-breaks), so the
    gated query stays lint-clean; ``'exact'`` uses the brute
    :func:`similarity_join` as the declared-quadratic recall check.

    Scale shape: everything after the k-NN step is a per-anchor window
    over <= 2 rows, one anchor agg, one 1-row fold. The MEASURED
    production configuration (scripts/measure_r8.py, r8 decade row
    2.55x vs the oracle-pinned config's 10.8x): a FIXED anchor budget
    (~2000 — the MLE needs a sample of ratios, not a corpus-
    proportional share) with FIXED ``n_centroids ~=
    sqrt(anchor_budget * nprobe)`` (~96) — with anchors fixed, the
    candidate term is anchors*n*nprobe/C and the assignment term n*C,
    so the optimal C does not grow with n and the whole estimate is
    O(n). Parallelism follows input splits (the nprobe-expanded
    candidate frame inherits the corpus partitioning): a single-split
    toy parquet serializes the Arrow scoring stage — repartition tiny
    inputs; a real multi-split corpus needs nothing.
    """
    if method not in ("ivf", "exact"):
        raise ValueError(f"unknown method {method!r}")
    anchors_df = df if anchor_filter is None else df.where(anchor_filter)
    queries = anchors_df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("embedding"),
    )
    if method == "ivf":
        knn = similarity_join_ivf(
            df, queries, 3, nprobe=nprobe, n_centroids=n_centroids,
            corpus_id=id_col, corpus_vec=vec_col,
        )
    else:
        knn = similarity_join(
            df, queries, 3, corpus_id=id_col, corpus_vec=vec_col
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("corpus_id")
    )
    pairs = (
        knn.where(F.col("corpus_id") != F.col("query_id"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 2)
        .select(
            "query_id", "__rn",
            (1.0 - F.col("cosine")).alias("__dist"),
        )
    )
    two = pairs.groupBy("query_id").agg(
        F.sum(F.when(F.col("__rn") == 1, F.col("__dist"))).alias("__r1"),
        F.sum(F.when(F.col("__rn") == 2, F.col("__dist"))).alias("__r2"),
        F.count(F.lit(1)).alias("__c"),
    )
    used = two.where(
        (F.col("__c") == 2)
        & (F.col("__r1") > 0)
        & F.col("__r2").isNotNull()
    ).select(F.log(F.col("__r2") / F.col("__r1")).alias("__lmu"))
    anchors = F.broadcast(
        anchors_df.where(F.col(vec_col).isNotNull()).agg(
            F.count(F.lit(1)).alias("__n")
        )
    )
    fold = used.agg(
        F.count(F.lit(1)).alias("__nu"),
        F.sum("__lmu").alias("__slm"),
    ).crossJoin(anchors)
    return fold.select(
        F.col("__n").cast("bigint").alias("n"),
        F.col("__nu").cast("bigint").alias("n_used"),
        (
            F.round(
                F.try_divide(
                    F.col("__nu").cast("double"),
                    F.nullif(F.col("__slm"), F.lit(0.0)),
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("id_mle"),
    )


def intrinsic_dim_sql(
    corpus_table: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
    n_centroids: int = 16,
    anchor_where: str | None = None,
) -> str:
    """DuckDB replay of :func:`intrinsic_dim` (method='ivf'): the
    hash-exact :func:`similarity_join_ivf_sql` k-NN as a nested CTE,
    then the same per-anchor ratio fold."""
    aw = f" AND ({anchor_where})" if anchor_where else ""
    queries_sql = (
        f"SELECT {id_col} AS query_id, {vec_col}::DOUBLE[] AS qv"
        f" FROM {corpus_table} WHERE {vec_col} IS NOT NULL{aw}"
    )
    knn = similarity_join_ivf_sql(
        corpus_table, queries_sql, 3,
        nprobe=nprobe, n_centroids=n_centroids,
        corpus_id=id_col, corpus_vec=vec_col,
    )
    return f"""
WITH knn AS ({knn}),
pairs AS (
  SELECT query_id, 1.0 - cosine AS dist,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, corpus_id
         ) AS rn
  FROM knn WHERE corpus_id <> query_id
),
two AS (
  SELECT query_id,
         SUM(CASE WHEN rn = 1 THEN dist END) AS r1,
         SUM(CASE WHEN rn = 2 THEN dist END) AS r2,
         COUNT(*) AS c
  FROM pairs WHERE rn <= 2 GROUP BY 1
),
used AS (
  SELECT LN(r2 / r1) AS lmu
  FROM two WHERE c = 2 AND r1 > 0 AND r2 IS NOT NULL
),
fold AS (
  SELECT COUNT(*) AS nu, SUM(lmu) AS slm FROM used
)
SELECT (SELECT COUNT(*) FROM {corpus_table}
        WHERE {vec_col} IS NOT NULL{aw}) AS n,
       CAST(nu AS BIGINT) AS n_used,
       ROUND(CAST(nu AS DOUBLE) / NULLIF(slm, 0.0), 6) + 0.0 AS id_mle
FROM fold
"""


def embedding_health(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-corpus health audit — the one-pass data-quality gate a
    vector pipeline runs BEFORE building indexes or training on 100 TB
    of embeddings, because every downstream operator (cosine, IVF,
    PCA, dedup) silently degrades on the defects this surfaces:
    NULL vectors (dropped rows), NaN components (poison every dot
    product they touch), zero-norm vectors (undefined cosine), and
    ragged dimensions (mixed encoder versions — the min_dim/max_dim
    spread catches a re-embedding migration that only half finished).

    Returns ONE row: (n_vectors, n_null_vec, n_nan, n_zero_norm,
    min_dim, max_dim, mean_norm, p50_norm) — dimension and norm stats
    are over HEALTHY vectors only (non-null, with no NaN and no NULL
    component; a NaN norm would otherwise poison the mean exactly the
    way it poisons cosines). ``n_nan`` counts vectors with a NaN OR a
    NULL component — a bare ``exists(v, x -> isnan(x))`` yields NULL
    (not true) on a NULL component, which would let the one defect
    class a health gate must not miss silently escape every bucket.
    mean/p50 rounded 6; p50 is the exact interpolated median
    (Spark ``percentile`` == DuckDB ``quantile_cont``).

    Scale shape: ONE map-combinable aggregation pass — the norm and
    NaN probe are codegen'd array lambdas (no Python, no explode), and
    the only non-trivially-combinable term, the exact median, operates
    on the per-row norm scalar. For a quick-look at petabyte scale,
    swap ``percentile`` for ``percentile_approx`` at the call site;
    the exact form is kept here so the oracle hash-matches.
    """
    v = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    has_nan = F.expr(f"exists({v}, x -> x IS NULL OR isnan(x))")
    healthy = F.col(vec_col).isNotNull() & ~has_nan
    nrm = F.expr(_norm_sql(v))
    hn = F.when(healthy, nrm)
    hd = F.when(healthy, F.expr(f"size({v})"))
    return df.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(
            F.when(F.col(vec_col).isNull(), 1).otherwise(0)
        ).cast("bigint").alias("n_null_vec"),
        F.sum(
            F.when(F.col(vec_col).isNotNull() & has_nan, 1).otherwise(0)
        ).cast("bigint").alias("n_nan"),
        F.sum(
            F.when(healthy & (nrm == 0), 1).otherwise(0)
        ).cast("bigint").alias("n_zero_norm"),
        F.min(hd).cast("int").alias("min_dim"),
        F.max(hd).cast("int").alias("max_dim"),
        F.round(F.avg(hn), 6).alias("mean_norm"),
        F.round(F.expr(
            f"percentile(CASE WHEN {vec_col} IS NOT NULL AND NOT "
            f"exists({v}, x -> x IS NULL OR isnan(x)) THEN "
            f"{_norm_sql(v)} END, 0.5)"
        ), 6).alias("p50_norm"),
    )


def embedding_health_sql(
    table: str, dialect: str, *, vec_col: str = "embedding"
) -> str:
    """Dual-dialect twin of :func:`embedding_health`."""
    if dialect == "spark":
        v = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
        has_nan = f"exists({v}, x -> x IS NULL OR isnan(x))"
        nrm = _norm_sql(v)
        dim = f"size({v})"
        med = "percentile"
    elif dialect == "duckdb":
        v = f"{vec_col}::DOUBLE[]"
        has_nan = f"len(list_filter({v}, x -> x IS NULL OR isnan(x))) > 0"
        nrm = f"sqrt(list_sum(list_transform({v}, x -> x * x)))"
        dim = f"len({v})"
        med = "quantile_cont"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    healthy = f"{vec_col} IS NOT NULL AND NOT ({has_nan})"
    return f"""
SELECT COUNT(*) AS n_vectors,
       CAST(SUM(CASE WHEN {vec_col} IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null_vec,
       CAST(SUM(CASE WHEN {vec_col} IS NOT NULL AND ({has_nan})
                THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
       CAST(SUM(CASE WHEN {healthy} AND ({nrm}) = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
       CAST(MIN(CASE WHEN {healthy} THEN {dim} END) AS INT) AS min_dim,
       CAST(MAX(CASE WHEN {healthy} THEN {dim} END) AS INT) AS max_dim,
       ROUND(AVG(CASE WHEN {healthy} THEN {nrm} END), 6) AS mean_norm,
       ROUND({med}(CASE WHEN {healthy} THEN {nrm} END, 0.5), 6)
         AS p50_norm
FROM {table}
"""


def hubness_report(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 5,
) -> DataFrame:
    """k-occurrence (N_k) hubness distribution of the self-k-NN graph —
    the diagnostic for the embedding-space pathology that margin-based
    mining (:func:`bitext_mine`, Artetxe & Schwenk 2019) exists to
    suppress: in high dimensions some vectors ("hubs") appear in far
    more k-NN lists than the mean (which is exactly k), while anti-hubs
    (N_k = 0) are never retrieved (Radovanovic et al., JMLR 2010). A
    heavy right tail here says raw-cosine retrieval will over-return
    hubs and margin scoring is worth its extra k-NN pass.

    N_k(v) = |{q != v : v in kNN(q)}|, ties broken (cosine DESC, id
    ASC) like every retrieval op in this package; output is the exact
    distribution (n_k, n_vectors) — vectors never retrieved are
    included at n_k = 0 via the id-frame left join.

    Plan: one broadcast-scored self-join (corpus scanned once — see
    ``similarity_join``), per-query k+1 rank window then self-row drop
    and re-rank (a duplicate vector can out-tie self at cosine 1.0, so
    self is NOT assumed rank 1), one count agg per corpus id, one
    histogram agg. Everything after the rank window is id+count sized.
    For corpora beyond the broadcast-join envelope, feed the same
    aggregation stack from ``similarity_join_ivf`` output instead."""
    if k < 1:
        raise ValueError("k must be >= 1")
    knn = similarity_join(
        df,
        df.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("embedding")
        ),
        k + 1,
        corpus_id=id_col,
        corpus_vec=vec_col,
    )
    return hubness_from_knn(knn, df.select(F.col(id_col).alias("__vid")), k=k)


def hubness_from_knn(knn: DataFrame, ids: DataFrame, *, k: int) -> DataFrame:
    """The N_k aggregation stack of :func:`hubness_report` over ANY
    self-k-NN frame shaped (query_id, corpus_id, cosine) with at least
    k+1 neighbors per query (self rows allowed anywhere in the list) —
    this is the piece that scales: feed it from ``similarity_join_ivf``
    output for corpora beyond the brute broadcast-join envelope and the
    whole report stays one rank window + two count aggs over
    k-bounded rows. ``ids`` must carry every vector id in a single
    ``__vid`` column (the n_k = 0 anti-hub completion)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("corpus_id")
    )
    topk = (
        knn.where(F.col("corpus_id") != F.col("query_id"))
        .withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= k)
    )
    occ = topk.groupBy("corpus_id").agg(F.count(F.lit(1)).alias("__occ"))
    per_vec = ids.join(
        occ, ids["__vid"] == occ["corpus_id"], "left"
    ).select(F.coalesce("__occ", F.lit(0)).cast("bigint").alias("n_k"))
    return (
        per_vec.groupBy("n_k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .orderBy("n_k")
    )


def hubness_report_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 5,
) -> str:
    """DuckDB oracle for :func:`hubness_report` — same rounding, same
    tie-break (DESC places NULL cosines last on both engines), same
    n_k = 0 completion."""
    if k < 1:
        raise ValueError("k must be >= 1")
    dot = "list_sum(list_transform(list_zip(c.vv, q.vv), p -> p[1] * p[2]))"
    return f"""
WITH v AS (
  SELECT {id_col} AS vid, {vec_col}::DOUBLE[] AS vv,
         sqrt(list_sum(list_transform({vec_col}::DOUBLE[], x -> x * x))) AS nrm
  FROM {table}
),
topk AS (
  SELECT corpus_id FROM (
    SELECT q.vid AS query_id, c.vid AS corpus_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vid
             ORDER BY ROUND({dot} / (c.nrm * q.nrm), 6) DESC, c.vid ASC
           ) AS r
    FROM v c CROSS JOIN v q WHERE c.vid <> q.vid
  ) t WHERE r <= {k}
),
occ AS (SELECT corpus_id, COUNT(*) AS occ FROM topk GROUP BY corpus_id)
SELECT CAST(COALESCE(o.occ, 0) AS BIGINT) AS n_k,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM v LEFT JOIN occ o ON v.vid = o.corpus_id
GROUP BY 1 ORDER BY n_k
"""
