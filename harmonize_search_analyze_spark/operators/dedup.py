"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Training-data-pipeline dedup (BASELINE.json north star) over a
``documents(doc_id, text, ...)`` table. Design for 100 TB:

- **exact**: hash-groupBy on a normalized digest — one shuffle on a short
  key, map-side combine; never ships full text twice.
- **MinHash + LSH**: shingle -> k universal min-hashes -> band keys ->
  self-join per band bucket -> exact-Jaccard verify on the candidates only.
  The expensive O(n^2) comparison collapses to within-bucket pairs; the
  band join shuffles on band hash (small, uniform-ish); the verify re-joins
  the token sets by doc_id (co-partitioned equi-joins).
- **SimHash**: explode tokens -> per-(doc, bit) sign sums -> 32-bit sketch;
  near-dups = sketches at small Hamming distance (bucketable by sketch
  prefix, same LSH shape).
- **n-gram Jaccard (brute)**: the O(n^2) baseline kept as the correctness
  oracle for the LSH path; cross-join guarded — use only on samples.

Everything is a column expression / equi-join: no Python UDFs. Formulas come
from dual-dialect SQL generators so the DuckDB oracle executes the identical
computation (functions/hashing.py for the portable 60-bit hash).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from harmonize_search_analyze_spark.functions.caching import tether, transfer
from harmonize_search_analyze_spark.functions.hashing import (
    hash64_sql,
    hash_full64_sql,
    minhash_params,
    minhash_term_sql,
)
from harmonize_search_analyze_spark.operators.text import tokens_sql

# -- shingles ---------------------------------------------------------------


def grams_sql(expr: str, dialect: str, n: int = 3) -> str:
    """Word n-gram shingles of the tokenized text, duplicates kept. Docs
    shorter than n tokens yield their whole token stream as one shingle.
    For n=1 this is just the token array (skips the transform/slice chain,
    which is interpreted per element and shows up at scale)."""
    toks = tokens_sql(expr, dialect)
    if n == 1:
        return toks
    if dialect == "spark":
        # zip_with chain, not transform(i -> slice(toks, i, n)): the slice
        # form re-copies an n-window per index — O(tokens * n) interpreted
        # HOF work per row, measured 10x slower at sf0.1. Each zip_with
        # pads the shorter (shifted) side with NULL and concat propagates
        # it, so out-of-range tails filter away in one pass.
        chain = toks
        for j in range(1, n):
            shifted = f"slice({toks}, {j + 1}, greatest(size({toks}) - {j}, 0))"
            chain = (
                f"zip_with({chain}, {shifted}, "
                f"(a{j}, b{j}) -> concat(a{j}, ' ', b{j}))"
            )
        chain = f"filter({chain}, x -> x IS NOT NULL)"
        # pinned edge: docs shorter than n tokens yield their whole token
        # stream as ONE shingle (matches the DuckDB branch below)
        return (
            f"CASE WHEN size({toks}) < {n} "
            f"THEN array(concat_ws(' ', {toks})) ELSE {chain} END"
        )
    # COALESCE: DuckDB's array_to_string of an EMPTY slice is NULL where
    # Spark's concat_ws is '' — the zero-token-document edge (caught by a
    # cross-engine sweep; the parquet corpora never hit it, unit data can)
    return (
        f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 1) + 1), "
        f"i -> COALESCE(array_to_string(({toks})[i:i+{n - 1}], ' '), ''))"
    )


def shingles_sql(expr: str, dialect: str, n: int = 3) -> str:
    """Distinct word n-gram shingle SET (for Jaccard set arithmetic).

    Element ORDER is unspecified — Spark's array_distinct keeps first
    occurrence, DuckDB's list_distinct does not guarantee any order.
    Every consumer here is order-insensitive (Jaccard intersections,
    MinHash minima); anything exposing the array itself must sort it."""
    fn = "array_distinct" if dialect == "spark" else "list_distinct"
    return f"{fn}({grams_sql(expr, dialect, n)})"


def jaccard_sql(a: str, b: str, dialect: str) -> str:
    """Exact Jaccard similarity of two DISTINCT-element lists.

    Spark side: ``array_intersect`` — a hash-set build over one side, so a
    pair costs O(|a|+|b|) instead of the O(|a|*|b|) of the previous
    ``filter(a, x -> array_contains(b, x))`` scan (measured 43 s of
    executor CPU on jaccard_brute's 125k pairs at sf0.1, guide §1.2 "per
    task work"). On DISTINCT inputs (every caller passes shingle SETS,
    see :func:`shingles_sql`) intersect-with-dedup and the filter scan
    return identical element sets, so the value is unchanged. DuckDB
    side stays filter-based (list_intersect dedup behavior differs
    subtly; the oracle is not performance-critical and an unchanged
    oracle is the equivalence proof for this rewrite)."""
    if dialect == "spark":
        inter = f"size(array_intersect({a}, {b}))"
        na, nb = f"size({a})", f"size({b})"
    else:
        inter = f"len(list_filter({a}, x -> list_contains({b}, x)))"
        na, nb = f"len({a})", f"len({b})"
    return (
        f"ROUND(CAST({inter} AS DOUBLE) / "
        f"NULLIF({na} + {nb} - {inter}, 0), 6)"
    )


# -- exact dedup --------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Canonicalize exact duplicates (modulo case/outer whitespace): one row
    per distinct normalized text with the minimal id and the copy count."""
    digest = F.md5(F.lower(F.trim(F.col(text_col))))
    return (
        df.groupBy(digest.alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# -- MinHash / LSH -------------------------------------------------------------


def minhash_signature_sql(
    expr: str, dialect: str, *, k: int = 8, n: int = 3, seed: int = 42
) -> list[str]:
    """k min-hash value expressions over the doc's shingle set."""
    sh = shingles_sql(expr, dialect, n)
    out = []
    for a, b in minhash_params(k, seed):
        term = minhash_term_sql(hash64_sql("s", dialect), a, b)
        if dialect == "spark":
            out.append(f"array_min(transform({sh}, s -> {term}))")
        else:
            out.append(f"list_min(list_transform({sh}, s -> {term}))")
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """doc_id + mh_0..mh_{k-1} columns (the signature matrix).

    Plan shape (measured; see git history for the alternatives): explode
    the shingle set, md5-hash as a flat codegen'd projection, then ONE
    hash-aggregate computing all k universal-hash minima. Evaluating md5
    inside a higher-order-function lambda is interpreted per element
    (~100x slower than the codegen'd projection); the explode+groupBy
    shape keeps everything in whole-stage codegen at the price of one
    shuffle keyed by doc id — the standard signature-matrix build at scale.

    Caveat: a document with NULL text drops out (explode of a null array);
    the oracle's list-based formula keeps it as a NULL-signature row."""
    # duplicates don't change a MIN, so explode the raw gram stream and
    # skip the array_distinct pass entirely
    sh = grams_sql(text_col, "spark", n)
    exploded = df.select(F.col(id_col), F.explode(F.expr(sh)).alias("_s"))
    return _signatures_from_exploded(exploded, id_col, k=k, seed=seed)


def _signatures_from_exploded(
    exploded: DataFrame, id_col: str, *, k: int, seed: int
) -> DataFrame:
    hashed = exploded.select(
        F.col(id_col),
        F.expr(hash64_sql("_s", "spark")).alias("_h"),
    )
    mh_aggs = [
        F.min(F.expr(minhash_term_sql("_h", a, b))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_params(k, seed))
    ]
    return hashed.groupBy(id_col).agg(*mh_aggs)


def minhash_signatures_from_shingles(
    sh: DataFrame,
    id_col: str,
    *,
    shingle_col: str = "shingles",
    k: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Signatures from an ALREADY-MATERIALIZED shingle-set frame — the
    MIN of a universal hash is invariant under duplicates, so the
    distinct set yields byte-identical signatures to the raw gram stream
    (pinned by test). Lets a caller that also needs the shingle sets
    (the LSH verify join) tokenize the corpus ONCE: at 100 TB the
    tokenize+shingle projection is a full scan's worth of work, and
    running it twice (signature build + verify probe) was the dominant
    redundant cost in the near-dup pipeline (PERFORMANCE.md, round 4)."""
    exploded = sh.select(
        F.col(id_col), F.explode(F.col(shingle_col)).alias("_s")
    )
    return _signatures_from_exploded(exploded, id_col, k=k, seed=seed)


# -- banded candidate join -----------------------------------------------------


def band_frame(df: DataFrame, id_col: str, keys: list | str) -> DataFrame:
    """``(id, band_idx, band_key)`` rows: one posexplode of the per-band
    key columns ``keys`` (or of an existing array column named ``keys``),
    so ``band_idx`` is the key's position. Every LSH family (MinHash,
    SimHash, sign-hyperplane) bands through this one shape."""
    arr = F.col(keys) if isinstance(keys, str) else F.array(*keys)
    return df.select(
        F.col(id_col), F.posexplode(arr).alias("band_idx", "band_key")
    )


def band_join(left: DataFrame, right: DataFrame | None = None) -> DataFrame:
    """Distinct ``(id1, id2)`` pairs of ids sharing a bucket in ANY band of
    two :func:`band_frame` outputs — the equi-join on (band_idx, band_key)
    that is the LSH candidate stage, shuffle-friendly on a short key.

    With no ``right`` it is the self-join, keeping ``id1 < id2``: the band
    frame is persisted (Spark does not CSE across join branches, so both
    sides would otherwise re-run the signature build; the frame is
    n_docs x n_bands rows) and unpersists when the result, or anything it
    is ``transfer()``-ed to, is dropped. With a ``right`` it is the plain
    cross-corpus join: no id predicate (the two id spaces are unrelated)
    and nothing persisted — pass ``F.broadcast(right)`` for an MB-sized
    side."""
    self_join = right is None
    if self_join:
        left = right = left.persist()
    pairs = left.toDF("id1", "band_idx", "band_key").join(
        right.toDF("id2", "band_idx", "band_key"), ["band_idx", "band_key"]
    )
    if self_join:
        pairs = pairs.where(F.col("id1") < F.col("id2"))
    out = pairs.select("id1", "id2").distinct()
    return tether(out, left) if self_join else out


def minhash_bands(
    sigs: DataFrame, id_col: str, k: int, rows_per_band: int
) -> DataFrame:
    """Band frame of a MinHash signature frame (id, mh_0..mh_{k-1}): band b
    keys on ``mh_{b*r}..mh_{b*r+r-1}`` joined as one string."""
    if rows_per_band < 1 or k % rows_per_band:
        raise ValueError(
            f"rows_per_band must be a positive divisor of k={k}, "
            f"got {rows_per_band}"
        )
    return band_frame(sigs, id_col, [
        F.concat_ws(
            "_", *[F.col(f"mh_{b + r}").cast("string")
                   for r in range(rows_per_band)]
        )
        for b in range(0, k, rows_per_band)
    ])


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    *,
    k: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Banding: two docs are candidates iff some band of their signatures
    matches exactly (:func:`band_join` self-join); emits id pairs with
    id1 < id2."""
    return band_join(minhash_bands(sigs, id_col, k, rows_per_band))


def near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    k: int = 8,
    n: int = 3,
    rows_per_band: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> band candidates ->
    exact-Jaccard verification (joins the shingle sets back by id)."""
    # spread the per-doc hashing across the cluster up front: a single-file
    # parquet input would otherwise run the whole signature pipeline (and
    # both verify-join probes) in one task
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    # ONE tokenization pass for the whole pipeline: the persisted shingle
    # frame feeds the signature build AND both verify-join probes (three
    # readers; without it the tokenize+shingle projection runs per reader
    # — no CSE across join branches). Signatures from the distinct set
    # are byte-identical to the raw-gram-stream path (MIN is duplicate-
    # invariant; pinned by test).
    sh = df.select(
        F.col(id_col),
        F.expr(shingles_sql(text_col, "spark", n)).alias("shingles"),
    ).persist()
    sigs = minhash_signatures_from_shingles(
        sh, id_col, k=k, seed=seed
    )
    cands = lsh_candidate_pairs(sigs, id_col, k=k, rows_per_band=rows_per_band)
    j = jaccard_sql("l_sh", "r_sh", "spark")
    out = (
        cands.join(sh.select(F.col(id_col).alias("id1"), F.col("shingles").alias("l_sh")), "id1")
        .join(sh.select(F.col(id_col).alias("id2"), F.col("shingles").alias("r_sh")), "id2")
        .withColumn("jaccard", F.expr(j))
        .where(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )
    transfer(cands, out)
    return tether(out, sh)


def near_dup_pairs_brute(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    n: int = 3,
    max_rows: int = 100_000,
) -> DataFrame:
    """O(n^2) exact-Jaccard pairs — the oracle/baseline path, guarded at
    ``max_rows`` input rows (same contract as
    ``similarity.embedding_near_dup_pairs``): brute all-pairs is a
    recall oracle for bounded samples by design, never a corpus path —
    an unguarded full-corpus launch would be a quadratic job. The guard
    count runs on the PERSISTED shingle frame the n^2 join reads
    anyway, so it doubles as the cache-materializing action instead of
    a second upstream scan (VERDICT r5 "What's wrong" #1: the earlier
    ``df.count()`` re-evaluated the unpersisted upstream once for the
    guard and again for the join — a measured ~1.25x tax)."""
    sh = df.select(
        F.col(id_col),
        F.expr(shingles_sql(text_col, "spark", n)).alias("shingles"),
    ).persist()
    n_rows = sh.count()
    if n_rows > max_rows:
        sh.unpersist()
        raise ValueError(
            f"brute exact-Jaccard is a recall oracle for samples; got "
            f"{n_rows} rows > max_rows={max_rows} — sample the input "
            "or use near_dup_pairs_lsh for full-corpus runs"
        )
    # repartition the stream side: nested-loop join output parallelism is
    # the stream side's (see similarity.embedding_near_dup_pairs)
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    l = sh.select(F.col(id_col).alias("id1"), F.col("shingles").alias("l_sh")) \
        .repartition(parallelism)
    r = sh.select(F.col(id_col).alias("id2"), F.col("shingles").alias("r_sh"))
    j = jaccard_sql("l_sh", "r_sh", "spark")
    out = (
        l.join(r, F.col("id1") < F.col("id2"))
        .withColumn("jaccard", F.expr(j))
        .where(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )
    return tether(out, sh)


# -- SimHash -------------------------------------------------------------------

SIMHASH_BITS = 64


def simhash_select_sql(
    table: str,
    id_col: str,
    text_col: str,
    dialect: str,
    *,
    bits: int = SIMHASH_BITS,
    feature_n: int = 1,
) -> str:
    """Full SELECT computing a ``bits``-wide SimHash per document: explode
    feature hashes, sign-sum each bit, recombine. Identical SQL shape on
    both engines (explode/unnest + one groupBy = one shuffle on doc_id).

    ``feature_n`` picks the feature granularity: 1 = unigram tokens (the
    oracle-pinned default), n > 1 = word n-gram shingles. Unigram features
    on a Zipfian corpus produce heavily CORRELATED sketches — every
    document's bit votes are dominated by the same head words, so banded
    candidate generation degrades toward quadratic even between unrelated
    documents (measured: 99x candidate growth for 10x docs on the
    realistic-duplicate corpus, scripts/decade_neardup_r9.json). Shingle
    features are the production fix (Manku et al., WWW'07 use shingle-
    grained features for exactly this reason): unrelated documents share
    almost no 3-grams, so their sketches decorrelate to ~uniform and band
    collisions fall to the pigeonhole floor. Same measured rig with
    ``feature_n=3``: candidates drop ~40x at nd100.

    Default is the full 64 bits of the feature hash — wide bands keep
    their pruning power in the banded candidate path (16-bit bands at
    d=3; the 32-bit sketch's 4-5-bit bands degenerate toward all-pairs at
    corpus scale). The sketch is stored two's-complement in a signed
    BIGINT: bit 63's weight is MIN_LONG, added LAST so the running sum of
    lower-bit weights (<= 2^63 - 1) never overflows under ANSI
    arithmetic."""
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    if feature_n < 1:
        raise ValueError(f"feature_n must be >= 1, got {feature_n}")
    toks = grams_sql(text_col, dialect, feature_n)
    # hash_full64_sql, not hash64_sql: the 60-bit hash never sets bits
    # 60-63, which would leave the top band of a "64-bit" sketch 16x
    # under-entropic (and the bit-63 weight dead code)
    h = hash_full64_sql("tok", dialect)
    if dialect == "spark":
        exploded = (
            f"SELECT {id_col} AS _id, {h} AS th "
            f"FROM (SELECT {id_col}, explode({toks}) AS tok FROM {table})"
        )
    else:
        exploded = (
            f"SELECT {id_col} AS _id, {h} AS th "
            f"FROM (SELECT {id_col}, unnest({toks}) AS tok FROM {table}) t"
        )
    # SWAR lane packing: bit b of the hash rides lane (b div n_sums) of
    # packed sum (b mod n_sums) — 32 SUMs of 2 x 32-bit lanes plus one
    # COUNT replace the naive 64 sign-SUMs.  The per-bit majority needs
    # only the ones count (sign-sum s_b = 2*ones_b - n, so s_b > 0 iff
    # 2*ones_b > n).  Why: the 64-buffer hash-aggregate generated ~2x
    # the code (measured seconds of one-time whole-stage-codegen compile
    # at 64 bits) and did 64 CASE+adds per token where 32
    # shift-mask-adds suffice.  Two lanes, not four: a 32-bit lane's sum
    # reaches n << 32, overflowing BIGINT only past n = 2^30 tokens per
    # document — no data-dependent bound a real corpus can hit (the
    # denser 4 x 16-bit packing caps documents at 32767 tokens, which
    # long-document corpora exceed routinely; rejected for that).  The
    # arithmetic shift's sign-fill never reaches a masked lane bit: for
    # shift i <= 31 the fill occupies positions > 63-i >= 32, and the
    # lane mask's top bit 32 maps to original bit i+32 <= 63.
    n_sums = min(bits, 32)
    sums = []
    for i in range(n_sums):
        mask = sum(1 << (32 * k) for k in range(2) if i + 32 * k < bits)
        sums.append(
            f"CAST(SUM((th >> {i}) & {mask}) AS BIGINT) AS p{i}"
        )
    agg = ", ".join(sums) + ", COUNT(*) AS n"
    terms = []
    for b in range(bits):
        i, k = b % 32, b // 32
        ones = f"((p{i} >> {32 * k}) & 4294967295)"
        if b == 63:
            # 1 << 63 overflows signed BIGINT; MIN_LONG is its
            # two's-complement weight (kept last in the sum)
            w = "CAST(-9223372036854775807 AS BIGINT) - 1"
        else:
            w = f"CAST({1 << b} AS BIGINT)"
        terms.append(f"(CASE WHEN 2 * {ones} > n THEN {w} ELSE 0 END)")
    recombine = " + ".join(terms)
    return (
        f"SELECT _id AS {id_col}, ({recombine}) AS simhash "
        f"FROM (SELECT _id, {agg} FROM ({exploded}) e GROUP BY _id) g"
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bits: int = SIMHASH_BITS,
    feature_n: int = 1,
) -> DataFrame:
    """doc_id + ``bits``-wide (default 64) simhash sketch over unigram
    (default) or word-``feature_n``-gram features — see
    :func:`simhash_select_sql` for why realistic corpora want n-gram
    features in the banded path."""
    # unique view name: fixed names collide under concurrent use
    view = f"__simhash_in_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(view)
    out = df.sparkSession.sql(
        simhash_select_sql(
            view, id_col, text_col, "spark", bits=bits, feature_n=feature_n
        )
    )
    df.sparkSession.catalog.dropTempView(view)
    return out


def hamming_sql(a: str, b: str, dialect: str) -> str:
    """Hamming distance between two sketch ints: ``bit_count`` of the XOR
    (native popcount on both engines — one codegen'd call, not 64 bit
    tests). Works unchanged for any sketch width <= 64: equal high bits
    XOR to zero."""
    if dialect == "spark":
        xor = f"(CAST({a} AS BIGINT) ^ CAST({b} AS BIGINT))"
    else:
        xor = f"xor(CAST({a} AS BIGINT), CAST({b} AS BIGINT))"
    return f"bit_count({xor})"


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 6,
    bits: int = SIMHASH_BITS,
    feature_n: int = 1,
) -> DataFrame:
    """SimHash near-dup pairs: sketches whose Hamming distance is within
    ``max_hamming``. Pair generation here is the O(n^2) self-join BASELINE —
    kept as the recall oracle for ``simhash_near_dup_pairs_banded``, the
    bucketed production path. Use this one on samples only."""
    # tiny frame (id + 1 long), referenced by both join branches: persist so
    # the token-explode aggregation doesn't run twice
    sk = simhash(df, id_col, text_col, bits=bits, feature_n=feature_n).persist()
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    l = sk.select(
        F.col(id_col).alias("id1"), F.col("simhash").alias("sh1")
    ).repartition(parallelism)
    r = sk.select(F.col(id_col).alias("id2"), F.col("simhash").alias("sh2"))
    ham = F.expr(hamming_sql("sh1", "sh2", "spark"))
    out = (
        l.join(r, F.col("id1") < F.col("id2"))
        .withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )
    return tether(out, sk)


def simhash_band_bounds(bits: int, n_bands: int) -> list[tuple[int, int]]:
    """Split ``bits`` bit positions into ``n_bands`` contiguous (lo, width)
    ranges with near-equal widths. Pigeonhole: two sketches within Hamming
    distance d differ in at most d bands, so with n_bands = d + 1 at least
    one band is bit-identical — banding never misses a true pair."""
    if not 1 <= n_bands <= bits:
        raise ValueError(f"n_bands must be in [1, {bits}], got {n_bands}")
    base, extra = divmod(bits, n_bands)
    bounds, lo = [], 0
    for i in range(n_bands):
        width = base + (1 if i < extra else 0)
        bounds.append((lo, width))
        lo += width
    return bounds


def simhash_candidate_pairs(
    sk: DataFrame,
    id_col: str,
    *,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Banded candidate generation over a sketch frame (id, simhash):
    each sketch's (d+1) contiguous bit-bands are the band keys of one
    :func:`band_join` self-join, the primitive ``lsh_candidate_pairs``
    uses too. Exact by pigeonhole (see simhash_band_bounds); downstream
    Hamming verification filters false positives.

    Scale note: pruning power is band entropy. At the default 64-bit
    sketch, d=3 gives 4 bands x 16 bits (65k keys per band) — real
    bucketing at corpus scale; even d=6 keeps 9-10-bit bands. Narrow
    sketches degrade: 32 bits at d=6 is 4-5-bit bands (16-32 keys),
    approaching all-pairs. The operator works for any (bits, d); keep
    bands >= ~8 bits by widening the sketch before raising d."""
    keys = []
    for lo, width in simhash_band_bounds(bits, max_hamming + 1):
        # width 64 (single band over a full sketch): (1 << 64) - 1
        # overflows a signed long; -1 is the same all-ones mask
        mask = (1 << width) - 1 if width < 64 else -1
        keys.append(F.shiftright(F.col("simhash"), lo).bitwiseAND(F.lit(mask)))
    return band_join(band_frame(sk, id_col, keys))


def simhash_near_dup_pairs_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    feature_n: int = 1,
) -> DataFrame:
    """Production SimHash near-dup path: banded candidate generation
    (pigeonhole-exact) + Hamming verification on candidates only. Produces
    exactly the same (id1, id2, hamming) set as the O(n^2)
    ``simhash_near_dup_pairs`` at the same ``max_hamming`` and
    ``feature_n`` — that operator is this one's recall oracle.

    At corpus scale prefer ``feature_n=3``: unigram features correlate
    sketches on Zipfian text and blow up the candidate stage (see
    :func:`simhash_select_sql`)."""
    sk = simhash(df, id_col, text_col, bits=bits, feature_n=feature_n).persist()
    cands = simhash_candidate_pairs(
        sk, id_col, max_hamming=max_hamming, bits=bits
    )
    ham = F.expr(hamming_sql("sh1", "sh2", "spark"))
    out = (
        cands.join(
            sk.select(F.col(id_col).alias("id1"), F.col("simhash").alias("sh1")),
            "id1",
        )
        .join(
            sk.select(F.col(id_col).alias("id2"), F.col("simhash").alias("sh2")),
            "id2",
        )
        .withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )
    transfer(cands, out)
    return tether(out, sk)


# -- cluster resolution -------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    *,
    id1: str = "id1",
    id2: str = "id2",
    max_iters: int = 25,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into canonical CLUSTERS: connected
    components over the undirected pair graph, labeling every member with
    the minimum reachable id — the step after LSH that production dedup
    actually keys on (keep one doc per cluster, not per pair; pairs alone
    under-delete transitive chains a~b~c).

    Min-label propagation to fixpoint: per iteration each node takes the
    min of its label and its neighbors' labels (one join + one hash agg on
    the SYMMETRIZED edge list), converging in O(component diameter)
    iterations — near-dup components are short chains in practice. The
    per-iteration driver action is ONE scalar (changed-count) read from an
    ``observe()`` metric collected DURING the checkpoint's own
    materialization job (round-10: the old separate ``limit(1).count()``
    job cost one extra job submission + planning gap per iteration,
    measured ~0.3-0.5 s per CC-backed query at sf0.1); all real work is
    distributed.
    Each iteration's labels are eagerly ``localCheckpoint``-ed: unlike
    ``persist`` (which caches data but keeps the logical plan), the
    checkpoint TRUNCATES lineage — without it every iteration's plan embeds
    the previous one and Catalyst analysis blows up exponentially (a
    12-iteration chain OOMed the driver on plan size alone, measured).
    The result is algorithm-independent (the min reachable id is unique),
    which is what lets a recursive-CTE oracle verify this loop exactly.

    Returns (id, cluster_id) for every id appearing in a pair; singletons
    never enter the graph — callers left-join and coalesce to the id.
    """
    # Symmetrize via ONE explode instead of union(e, e.swapped): a union
    # consumes the pairs frame twice and Catalyst does not CSE across
    # union branches, so the entire upstream pair pipeline (LSH banding +
    # verify — the expensive part) executed TWICE inside the edges
    # materialization (SQL-tab: duplicated 17.7 s/5.4 s agg-build
    # subtrees in dedup_clusters, round-10). Same rows, one pass.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id1).alias("a"), F.col(id2).alias("b")
                    ),
                    F.struct(
                        F.col(id2).alias("a"), F.col(id1).alias("b")
                    ),
                )
            ).alias("__e")
        )
        .select("__e.a", "__e.b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .localCheckpoint(eager=True)
    )
    def _step(lbls: DataFrame, obs: "Observation | None") -> DataFrame:
        # ONE exchange per propagation step (round-10 optimization pass):
        # the old shape was nbr = edges-join-labels -> groupBy(a) MIN
        # (first exchange) -> labels LEFT JOIN nbr (second exchange/
        # broadcast). Instead, union the node's own label row with its
        # propagated neighbor-label rows and take both MIN(label) and
        # the old label in a single id-keyed aggregation —
        # min(old, min(nbrs)) is the identical propagation step, and
        # every node keeps exactly one __old row so MIN(CASE WHEN __old
        # ...) recovers its previous label for the convergence flag.
        # Same fixpoint, same labels (min-reachable-id is
        # algorithm-independent). The convergence scalar rides the
        # checkpoint job itself as an observe() metric — CollectMetrics
        # reports when the eager materialization runs, so no second
        # action per super-step.
        prop = edges.join(
            lbls.select(
                F.col("id").alias("b"),
                F.col("cluster_id").alias("lbl"),
            ),
            "b",
        ).select(F.col("a").alias("id"), "lbl", F.lit(False).alias("__old"))
        new = (
            lbls.select(
                "id",
                F.col("cluster_id").alias("lbl"),
                F.lit(True).alias("__old"),
            )
            .unionByName(prop)
            .groupBy("id")
            .agg(
                F.min("lbl").alias("cluster_id"),
                F.min(F.when(F.col("__old"), F.col("lbl"))).alias("__prev"),
            )
        )
        if obs is None:
            return new.select("id", "cluster_id")
        return (
            new.select(
                "id",
                "cluster_id",
                (F.col("cluster_id") < F.col("__prev")).alias("__changed"),
            )
            .observe(
                obs, F.sum(F.col("__changed").cast("long")).alias("n")
            )
            .drop("__changed")
            .localCheckpoint(eager=True)
        )

    # Checkpoint CADENCE 2 (round 11, the markov/pagerank trade): run TWO
    # propagation steps per eager materialization and observe the second.
    # A depth-2 plan costs less than a checkpoint round-trip, and the
    # extra no-op step a cadence-2 probe may execute at the fixpoint is
    # the identity (min(old, min(nbrs)) = old), so the returned labels —
    # and the raise-iff-not-converged-within-max_iters contract — are
    # unchanged: the super-step ends align on even steps plus a final
    # single step when max_iters is odd, so every convergence point the
    # old per-step loop could observe within max_iters is still observed
    # at or before the same step count. Measured on 4 cores at sf0.1
    # (dedup_clusters, 20 alternating trials a side): median 1.384 s at
    # cadence 2 vs 1.413 s at cadence 1, inside either side's spread, so
    # the benchmarked cadence stays (PERFORMANCE.md decision 9).
    steps_done = 0
    converged = False
    while steps_done < max_iters:
        span = min(2, max_iters - steps_done)
        obs = Observation(f"__cc_changed_{id(pairs)}_{steps_done}")
        lbls = labels
        for s in range(span):
            lbls = _step(lbls, obs if s == span - 1 else None)
        steps_done += span
        # SUM over an empty labels frame observes NULL, not 0 — an
        # empty pair graph must terminate on the first super-step, not
        # spin to max_iters and raise (review find, round 10)
        changed = obs.get["n"] or 0
        labels = lbls
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            "iterations (component diameter exceeds max_iters?)"
        )
    return labels


# -- line-level corpus dedup -------------------------------------------------

def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    delimiter: str = "\n",
    min_line_chars: int = 10,
) -> DataFrame:
    """Corpus-wide exact line deduplication (the RefinedWeb/Dolma curation
    step): a line occurring in many documents is kept only at its FIRST
    occurrence (minimum (doc_id, position)) and dropped everywhere else;
    documents are reassembled in original line order.

    Lines shorter than ``min_line_chars`` are exempt — always kept. That is
    both semantics (short boilerplate lines like '' or '---' aren't the
    duplication signal this targets) and the scale guard — REALIZED in the
    plan, not just documented: exemption is a function of the line text
    alone, so every ``partitionBy(__line)`` group is homogeneous (all
    exempt or all not), and exempt rows get a per-row salt in the window
    key. They still pass through the exchange (one corpus scan, no
    re-read), but hash uniformly across reducers instead of funneling
    every empty line in a 100 TB corpus through one; their rank is
    meaningless and unused (keep is unconditional). Non-exempt groups are
    salted 0 — identical ranks to the unsalted plan. Residual skew is
    bounded by real repeated content, which is what AQE's skew handling
    splits.

    Plan: posexplode -> ONE window shuffle keyed by (line text, salt)
    (rank of (doc_id, pos) within each line group) -> filter -> one
    groupBy(doc) reassembly with sort_array(collect_list(struct(pos,
    line))) — order restored without a global sort. Returns (id, text,
    n_kept, n_dropped).
    """
    import re as _re

    from pyspark.sql import Window

    lines = df.select(
        F.col(id_col),
        # Spark split() takes a regex, DuckDB string_split a literal —
        # escape so both see the same delimiter.
        F.posexplode(
            F.split(F.col(text_col), _re.escape(delimiter))
        ).alias("__pos", "__line"),
    )
    exempt = F.length(F.trim(F.col("__line"))) < min_line_chars
    salt = F.when(exempt, F.monotonically_increasing_id()).otherwise(
        F.lit(0)
    )
    lines = lines.withColumn("__salt", salt)
    w = Window.partitionBy("__line", "__salt").orderBy(
        F.col(id_col).asc(), F.col("__pos").asc()
    )
    ranked = lines.withColumn(
        "__keep",
        exempt | (F.row_number().over(w) == 1),
    )
    return (
        ranked.groupBy(id_col)
        .agg(
            F.concat_ws(
                delimiter,
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("__keep"),
                                F.struct(
                                    F.col("__pos"), F.col("__line")
                                ),
                            )
                        )
                    ),
                    lambda s: s["__line"],
                ),
            ).alias(text_col),
            F.sum(F.when(F.col("__keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(~F.col("__keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
        )
    )


def line_dedup_sql(
    table: str,
    id_col: str,
    text_col: str,
    *,
    delimiter: str = "\n",
    min_line_chars: int = 10,
) -> str:
    """DuckDB oracle for :func:`line_dedup` — the same rank-first-occurrence
    formula with string_split/unnest and an ordered string_agg."""
    d = delimiter.replace("'", "''")
    return f"""
WITH lines AS (
  SELECT {id_col},
         generate_subscripts(string_split({text_col}, '{d}'), 1) - 1 AS pos,
         unnest(string_split({text_col}, '{d}')) AS line
  FROM {table}
),
ranked AS (
  SELECT *,
         (LENGTH(TRIM(line)) < {min_line_chars}
          OR ROW_NUMBER() OVER (
               PARTITION BY line ORDER BY {id_col} ASC, pos ASC) = 1
         ) AS keep
  FROM lines
)
SELECT {id_col},
       COALESCE(string_agg(CASE WHEN keep THEN line END, '{d}'
                           ORDER BY pos), '') AS {text_col},
       CAST(COALESCE(SUM(CASE WHEN keep THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_kept,
       CAST(COALESCE(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_dropped
FROM ranked GROUP BY {id_col}
"""


# -- exact-substring (duplicated token-span) dedup ----------------------------

def substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
) -> DataFrame:
    """ExactSubstr-style duplicated-span removal (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"), at token
    granularity: any ``k``-token window occurring more than once in the
    corpus keeps only its FIRST occurrence (minimum (doc, position)); all
    token positions covered by later occurrences are dropped and each
    document is reassembled from its surviving tokens in order. The
    line_dedup generalization from line granularity to sliding windows —
    the suffix-array substring dedup's Spark-shaped k-gram form.

    Plan: ONE tokenization pass (the token frame is persisted and
    tethered to the result — three plan branches consume it) -> sliding
    k-gram keys as a codegen'd ``transform`` over the token array (no
    explode of windows x tokens; one row per window start) -> ONE window
    shuffle on the gram hash (rank of (doc, pos)) -> duplicated starts
    expand to covered positions (bounded fan-out k) -> anti-join against
    the token rows -> groupBy reassembly. Gram keys at k >= 8 are
    high-entropy, so the gram shuffle has no structural hot key
    (boilerplate-heavy corpora behave like line_dedup's real-content
    skew: AQE's skew split is the relief valve). Per-doc reassembly state
    is bounded by document length.

    Returns (id, text, n_kept, n_dropped) with token counts. Documents
    with NO removed spans — including those shorter than ``k`` tokens —
    keep their ORIGINAL text verbatim (case, punctuation, whitespace);
    a document that lost a span is re-rendered as space-joined
    normalized tokens, the token-space contract of span removal.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    gram_hash = hash64_sql(f"concat_ws(' ', slice(__toks, i + 1, {k}))", "spark")
    toks = df.select(
        F.col(id_col),
        F.col(text_col).alias("__orig"),
        F.expr(tokens_sql(text_col, "spark")).alias("__toks"),
    ).persist()
    starts = toks.select(
        id_col,
        F.explode(
            F.expr(
                f"CASE WHEN size(__toks) >= {k} THEN "
                f"transform(sequence(0, size(__toks) - {k}), "
                f"i -> struct(i AS pos, {gram_hash} AS g)) "
                "ELSE array() END"
            )
        ).alias("w"),
    ).select(id_col, "w.pos", "w.g")
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("g").orderBy(F.col(id_col).asc(), F.col("pos").asc())
    )
    dup_starts = (
        starts.withColumn("__rn", rn).where(F.col("__rn") > 1)
        .select(id_col, "pos")
    )
    deleted = dup_starts.select(
        id_col,
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
        ).alias("tp"),
    ).distinct()
    tok_rows = toks.select(
        id_col, F.posexplode("__toks").alias("tp", "__tok")
    )
    kept = tok_rows.join(deleted, [id_col, "tp"], "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("tp"), F.col("__tok")))
                ),
                lambda s: s["__tok"],
            ),
        ).alias("__new_text"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
    )
    # token totals come from size() on the un-exploded array — map-only,
    # no second Generate and no extra agg exchange; __orig rides along for
    # the untouched-document passthrough
    totals = toks.select(
        F.col(id_col),
        F.col("__orig"),
        F.size("__toks").cast("bigint").alias("__total"),
    )
    # totals carries EVERY doc id (size() on the un-exploded array), so it
    # is the join anchor — no separate df.select(id) branch
    n_kept = F.coalesce("n_kept", F.lit(0)).cast("bigint")
    out = (
        totals.join(reassembled, id_col, "left")
        .select(
            id_col,
            F.when(
                n_kept == F.col("__total"), F.col("__orig")
            ).otherwise(F.coalesce("__new_text", F.lit("")))
            .alias(text_col),
            n_kept.alias("n_kept"),
            (F.col("__total") - n_kept).cast("bigint").alias("n_dropped"),
        )
    )
    return tether(out, toks)


def substring_dedup_sql(
    table: str,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
) -> str:
    """DuckDB oracle for :func:`substring_dedup` — identical gram hash,
    rank-first-occurrence, covered-position delete, ordered reassembly."""
    toks = tokens_sql(text_col, "duckdb")
    gram = hash64_sql(
        f"array_to_string(toks[CAST(pos + 1 AS BIGINT):"
        f"CAST(pos + {k} AS BIGINT)], ' ')",
        "duckdb",
    )
    return f"""
WITH t AS (SELECT {id_col}, {text_col} AS orig, {toks} AS toks FROM {table}),
starts AS (
  SELECT {id_col}, CAST(u.i AS BIGINT) AS pos, {gram} AS g
  FROM t, UNNEST(range(len(toks) - {k} + 1)) AS u(i)
  WHERE len(toks) >= {k}
),
dup_starts AS (
  SELECT {id_col}, pos FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY g ORDER BY {id_col} ASC, pos ASC) AS rn
    FROM starts
  ) WHERE rn > 1
),
deleted AS (
  SELECT DISTINCT {id_col}, pos + CAST(r.j AS BIGINT) AS tp
  FROM dup_starts, UNNEST(range({k})) AS r(j)
),
tok_rows AS (
  SELECT {id_col},
         CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS tp,
         unnest(toks) AS tok
  FROM t
),
kept AS (
  SELECT tr.* FROM tok_rows tr
  ANTI JOIN deleted d USING ({id_col}, tp)
),
reassembled AS (
  SELECT {id_col}, string_agg(tok, ' ' ORDER BY tp) AS new_text,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY {id_col}
),
totals AS (
  SELECT {id_col}, orig, CAST(len(toks) AS BIGINT) AS total FROM t
)
SELECT tt.{id_col},
       CASE WHEN COALESCE(r.n_kept, 0) = tt.total THEN tt.orig
            ELSE COALESCE(r.new_text, '') END AS {text_col},
       COALESCE(r.n_kept, 0) AS n_kept,
       CAST(tt.total - COALESCE(r.n_kept, 0) AS BIGINT) AS n_dropped
FROM totals tt
LEFT JOIN reassembled r ON tt.{id_col} = r.{id_col}
"""


# -- incremental dedup ---------------------------------------------------------


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Incremental exact dedup: the new-batch documents that are NOT already
    in the ingested corpus (same case/whitespace-normalized md5 digest as
    ``exact_dedup``), themselves canonicalized within the batch (minimal id
    per digest + in-batch copy count). The standard "nightly crawl append"
    pipeline step: dedup the increment against everything seen so far
    without re-deduping the corpus.

    Scale shape: one digest projection per side (codegen'd md5, no UDF),
    then a LEFT ANTI join keyed by the digest — both sides hash-partition on
    the 128-bit key, so the join is a co-partitioned shuffle with no skew
    (digests are uniform by construction). The corpus side reads ONE column
    (column pruning reaches the scan); AQE broadcasts it when the distinct
    digest set is small. For repeated increments against a static corpus,
    persist the corpus digest frame once and reuse — the anti-join then
    touches only the increment. A bloom-filter pre-filter on the batch side
    can cut the shuffle further; the exact anti-join stays as the verifier
    either way (false positives must not drop documents)."""
    digest = F.md5(F.lower(F.trim(F.col(text_col))))
    seen = corpus.select(digest.alias("text_hash")).distinct()
    fresh = batch.select(
        F.col(id_col), digest.alias("text_hash")
    ).join(seen, "text_hash", "left_anti")
    return fresh.groupBy("text_hash").agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def lsh_incremental(
    batch: DataFrame,
    state: DataFrame | None,
    id_col: str,
    text_col: str,
    *,
    est_threshold: float = 0.875,
    k: int = 8,
    n: int = 3,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Incremental MinHash near-dup: dedup a NEW batch against the
    accumulated signature state (and within the batch itself) without
    ever re-scanning previously ingested text — the nightly-crawl shape
    of RefinedWeb/Dolma-style corpus builds.

    ``state`` is the signature table from previous calls ((id,
    mh_0..mh_{k-1}) — k BIGINTs per document, metadata-sized next to the
    corpus; None for the first batch). Returns ``(dups, new_state)``:
    ``dups`` rows are (new-batch id, earlier id, est_jaccard) where
    est_jaccard is the standard MinHash estimator (fraction of agreeing
    signature components) — at corpus scale the original shingle sets are
    gone, so the estimator IS the verification, the same contract as
    RefinedWeb's estimator-only dedup; tune precision with ``k``.
    ``new_state`` is state ∪ batch signatures, the input to the next call.

    Within-batch pairs are ordered id-asc (id1 < id2); cross pairs pair
    the batch id with the state id. Candidates come from :func:`band_join`
    over k/2 bands of 2 rows (so ``k`` must be even), est-filtered after —
    band-keyed shuffles against the batch side only; the state side is
    scanned once per call, never self-joined.

    Equivalence contract (tested): feeding batches b1, b2, ... through
    successive calls yields exactly the dup pairs a single call over the
    concatenated corpus yields, modulo pair orientation.

    Ids are expected unique across the corpus lifetime; re-ingesting an
    id is tolerated without corrupting state — the stored signature
    stays authoritative (the batch row's signature is dropped from
    ``new_state``), and no self-pair is emitted for it."""
    if not 0.0 <= est_threshold <= 1.0:
        raise ValueError("est_threshold must be in [0, 1]")
    rows_per_band = 2
    sigs_b = minhash_signatures(
        batch, id_col, text_col, k=k, n=n, seed=seed
    ).persist()
    mh_cols = [f"mh_{i}" for i in range(k)]
    # within-batch candidates: the band self-join persists bands_b, so
    # the cross join below reads the same cached band explode
    bands_b = minhash_bands(sigs_b, id_col, k, rows_per_band)
    within = band_join(bands_b)
    pairs = within.toDF("id_new", "id_prior")
    if state is not None:
        cross = (
            band_join(bands_b, minhash_bands(state, id_col, k, rows_per_band))
            # a re-ingested id must not pair with its own stored row
            .where(F.col("id1") != F.col("id2"))
            .toDF("id_new", "id_prior")
        )
        pairs = pairs.unionByName(cross)
    sl = sigs_b.select(F.col(id_col).alias("id_new"),
                       *[F.col(c).alias(f"l_{c}") for c in mh_cols])
    if state is None:
        prior_sigs = sigs_b
    else:
        # state-authoritative union: a batch row whose id already exists
        # in state is dropped, so ids stay unique and the est-join below
        # can never fan out (duplicate state rows would compound on
        # every future call)
        fresh = sigs_b.join(
            state.select(id_col), id_col, "left_anti"
        )
        prior_sigs = state.unionByName(fresh)
    sr = prior_sigs.select(F.col(id_col).alias("id_prior"),
                           *[F.col(c).alias(f"r_{c}") for c in mh_cols])
    est_expr = (
        sum(
            (F.col(f"l_mh_{i}") == F.col(f"r_mh_{i}")).cast("int")
            for i in range(k)
        )
        / F.lit(float(k))
    )
    dups = (
        pairs.join(sl, "id_new")
        .join(sr, "id_prior")
        .withColumn("est_jaccard", F.round(est_expr, 6))
        .where(F.col("est_jaccard") >= est_threshold)
        .select("id_new", "id_prior", "est_jaccard")
    )
    new_state = prior_sigs
    return tether(transfer(within, dups), sigs_b), new_state


def pair_metrics(
    candidates: DataFrame,
    truth: DataFrame,
    *,
    id1: str = "id1",
    id2: str = "id2",
) -> DataFrame:
    """Precision / recall / F1 of an approximate duplicate-pair set
    against ground truth — the "measure, don't guess" harness for tuning
    band counts, sketch widths, and thresholds, as a first-class operator
    instead of a test-only assertion.

    Pairs are unordered: both frames are normalized to (min, max) and
    deduplicated before comparison, so callers may emit either
    orientation. Returns ONE row: ``(n_candidates, n_truth, tp,
    precision, recall, f1)`` — rounded 6; empty sides yield 0.0 metrics
    rather than NULL/divide-by-zero.

    Scale shape: pair frames are the (bounded) OUTPUTS of dedup
    operators, so the normalize + distinct + one equi-join cost tracks
    pair volume, never the corpus. Each side is consumed TWICE (its
    count + the tp join) and Catalyst does not CSE across crossJoin
    branches, so without materialization the whole upstream pair
    pipeline (LSH banding / brute verify — the expensive part) executes
    twice per side: localCheckpoint pins the normalized pair frames
    once (round-10; dedup_eval profile-session wall 4.0 s -> 2.3 s at
    sf0.1, the duplicated 13.1 s/11.3 s agg-build subtrees collapse to
    one execution each in the SQL tab).
    Unlike ``persist``, a checkpoint keeps AQE partition coalescing for
    consumers (the cached-subplan trap documented in phrase_suggest).
    """
    def norm(df: DataFrame) -> DataFrame:
        return df.select(
            F.least(F.col(id1), F.col(id2)).alias("__a"),
            F.greatest(F.col(id1), F.col(id2)).alias("__b"),
        ).distinct().localCheckpoint(eager=False)

    c, t = norm(candidates), norm(truth)
    tp = c.join(t, ["__a", "__b"])
    counts = (
        c.agg(F.count(F.lit(1)).alias("n_candidates"))
        .crossJoin(t.agg(F.count(F.lit(1)).alias("n_truth")))
        .crossJoin(tp.agg(F.count(F.lit(1)).alias("tp")))
    )
    prec = F.when(
        F.col("n_candidates") > 0, F.col("tp") / F.col("n_candidates")
    ).otherwise(0.0)
    rec = F.when(F.col("n_truth") > 0, F.col("tp") / F.col("n_truth")).otherwise(
        0.0
    )
    f1 = F.when(
        (prec + rec) > 0, 2 * prec * rec / (prec + rec)
    ).otherwise(0.0)
    return counts.select(
        F.col("n_candidates").cast("bigint"),
        F.col("n_truth").cast("bigint"),
        F.col("tp").cast("bigint"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


# -- intra-document repetition removal ---------------------------------------


def intra_doc_dedup_sql(
    expr: str,
    dialect: str,
    *,
    delimiter: str = "\n",
    min_unit_chars: int = 10,
) -> tuple[str, str]:
    """Within-document unit dedup (the removal half of Gopher's repetition
    rule, Rae et al. 2021 app. A1: docs whose lines/paragraphs repeat are
    dominated by boilerplate — here the repeats are DROPPED instead of the
    doc): split on ``delimiter``, keep each unit only at its FIRST
    position within the document, re-join in order. Units shorter than
    ``min_unit_chars`` are exempt (same contract as corpus-level
    line_dedup — '' and '---' are not the signal).

    Returns (deduped_text_sql, n_dropped_sql). Everything is a per-row
    array pipeline — split / indexed filter / first-position test /
    re-join — evaluated in the engine's expression layer: map-only, no
    shuffle, no UDF, scan-bound at 100 TB. Unlike corpus-level line_dedup
    there is no window exchange at all; this is the operator to run
    BEFORE the corpus-level pass so boilerplate-heavy docs don't flood
    the line-key shuffle.
    """
    d = delimiter.replace("'", "''")
    if dialect == "spark":
        # split() takes a REGEX on Spark — escape metacharacters
        dre = "".join(
            ("\\\\" + c) if c in r".^$*+?()[]{}|\\" else c for c in delimiter
        ).replace("'", "\\'")
        arr = f"split({expr}, '{dre}')"
        kept = (
            f"filter({arr}, (p, i) -> length(p) < {min_unit_chars} "
            f"OR array_position({arr}, p) = i + 1)"
        )
        joined = f"array_join({kept}, '{d}')"
        dropped = f"CAST(size({arr}) - size({kept}) AS BIGINT)"
        return joined, dropped
    arr = f"string_split({expr}, '{d}')"
    kept = (
        f"list_filter({arr}, (p, i) -> length(p) < {min_unit_chars} "
        f"OR list_position({arr}, p) = i)"
    )
    joined = f"coalesce(array_to_string({kept}, '{d}'), '')"
    dropped = f"CAST(len({arr}) - len({kept}) AS BIGINT)"
    return joined, dropped


def intra_doc_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    delimiter: str = "\n",
    min_unit_chars: int = 10,
) -> DataFrame:
    """DataFrame form of :func:`intra_doc_dedup_sql`: returns
    (id, text_dedup, n_dropped)."""
    joined, dropped = intra_doc_dedup_sql(
        text_col, "spark", delimiter=delimiter, min_unit_chars=min_unit_chars
    )
    return df.select(
        id_col,
        F.expr(joined).alias("text_dedup"),
        F.expr(dropped).alias("n_dropped"),
    )


def _reject_label_collisions(
    df: DataFrame, id_col: str, outputs: set
) -> None:
    """Output columns of the cluster-resolution operators are fixed; an
    input frame already carrying one would make the label join ambiguous
    (AnalysisException at best, wrong binding at worst) — reject up
    front with an actionable message."""
    clash = outputs & set(df.columns)
    if clash:
        raise ValueError(
            f"input columns collide with output columns {sorted(clash)}; "
            f"rename them first"
        )


def resolve_duplicates(
    df: DataFrame,
    labels: DataFrame,
    *,
    id_col: str,
    quality_col: str,
    quality_ascending: bool = False,
) -> DataFrame:
    """Quality-aware canonical selection over near-dup clusters: within
    each cluster keep the BEST document (highest ``quality_col``, ties
    to smallest id), not the smallest-id one — the retention policy
    production web-corpus dedup actually uses (keep the longest /
    highest-quality variant of a duplicated page, drop the truncated
    mirrors).

    ``labels`` is :func:`connected_components` output (id, cluster_id);
    unlabeled rows are their own singleton cluster. Returns every input
    row with (cluster_id, keep BOOLEAN) — filtering ``keep`` is the
    dedup, keeping both is the audit view.

    Scale shape: one equi-join onto the (pair-graph-sized, usually tiny
    relative to the corpus) label frame, then ONE row_number window
    keyed by cluster_id. Cluster sizes bound the window groups — the
    pathological giant cluster is a data-quality signal the near-dup
    graph already surfaced, not something this operator amplifies.
    """
    from pyspark.sql import Window

    _reject_label_collisions(df, id_col, {"cluster_id", "keep"})
    order = (
        F.col(quality_col).asc() if quality_ascending
        else F.col(quality_col).desc()
    )
    joined = df.join(
        labels.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    w = Window.partitionBy("cluster_id").orderBy(order, F.col(id_col).asc())
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .withColumn("keep", F.col("__rn") == 1)
        .drop("__rn")
    )


def soft_dedup_weights(
    df: DataFrame,
    labels: DataFrame,
    *,
    id_col: str,
    alpha: float = 1.0,
) -> DataFrame:
    """Soft deduplication: instead of DROPPING near-duplicates, emit a
    per-document sampling weight ``cluster_size ** -alpha`` so training
    downweights repeated content proportionally (the published SoftDedup
    reweighting idea — hard removal is ``alpha -> keep-one``, ``alpha=0``
    is no dedup; 1/size makes each cluster contribute ONE document's
    worth of expected mass).

    ``labels`` is :func:`connected_components` output; unlabeled rows are
    singletons (weight 1.0). Returns every row with (cluster_id,
    cluster_size, weight ROUND 6).

    Scale shape: one equi-join onto the label frame, one count keyed by
    cluster_id (map-side combined, bounded by cluster count), one
    co-partitioned join back — no windows, no per-cluster state beyond a
    counter.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    _reject_label_collisions(
        df, id_col, {"cluster_id", "cluster_size", "weight"}
    )
    joined = df.join(
        labels.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    sizes = joined.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return joined.join(sizes, "cluster_id").withColumn(
        "weight",
        F.round(
            F.pow(F.col("cluster_size").cast("double"), F.lit(-float(alpha))),
            6,
        ),
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Corpus snapshot diff — the dataset-versioning primitive: per
    document id, whether it was ``added``, ``removed``, ``changed``
    (same id, different normalized content digest — the exact_dedup
    digest, so whitespace/case-only edits do NOT count as changes), or
    ``unchanged`` between two corpus versions. One full outer join on
    id comparing two map-side digests; at 100 TB both sides bucket by
    id so the join is co-located, and the output is the audit/refresh
    work-list (retrain deltas, incremental index updates). Returns
    (id, status) ordered by id."""
    from harmonize_search_analyze_spark.functions.hashing import (
        hash64_sql,
    )

    def digests(df: DataFrame, side: str) -> DataFrame:
        # coalesce text to '' BEFORE hashing: hash64(NULL) is NULL, and
        # presence inferred from digest nullness would report a
        # NULL-text doc as added/removed.  With the coalesce,
        # NULL-vs-NULL compares 'unchanged' and presence is carried by
        # an explicit flag per side (matching the SQL twin's
        # o.id/n.id IS NULL test).
        norm = (
            f"lower(regexp_replace(COALESCE(CAST({text_col} AS STRING),"
            " ''), '\\\\s+', ' '))"
        )
        return df.where(F.col(id_col).isNotNull()).select(
            F.col(id_col).alias("__id"),
            F.expr(hash64_sql(f"trim({norm})", "spark")).alias(
                f"__d_{side}"
            ),
            F.lit(True).alias(f"__in_{side}"),
        )
    o = digests(old, "old")
    n = digests(new, "new")
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(F.col("__d_old") == F.col("__d_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        o.join(n, "__id", "full_outer")
        .select(F.col("__id").alias(id_col), status.alias("status"))
        .orderBy(id_col)
    )


def corpus_diff_sql(
    old_table: str,
    new_table: str,
    id_col: str,
    text_col: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`corpus_diff`."""
    from harmonize_search_analyze_spark.functions.hashing import (
        hash64_sql,
    )

    cast = "STRING" if dialect == "spark" else "VARCHAR"
    # COALESCE to '' mirrors the operator: NULL text hashes like the
    # empty string, so NULL-vs-NULL is 'unchanged', not a phantom
    # added/removed pair.
    norm = (
        f"trim(lower(regexp_replace(COALESCE(CAST({text_col} AS {cast}),"
        " ''), '\\s+', ' ', 'g')))"
        if dialect == "duckdb"
        else f"trim(lower(regexp_replace(COALESCE(CAST({text_col} AS"
        f" {cast}), ''), '\\\\s+', ' ')))"
    )
    h = hash64_sql(norm, dialect)
    return f"""
WITH o AS (
  SELECT {id_col} AS id, {h} AS d FROM {old_table}
  WHERE {id_col} IS NOT NULL
), n AS (
  SELECT {id_col} AS id, {h} AS d FROM {new_table}
  WHERE {id_col} IS NOT NULL
)
SELECT COALESCE(o.id, n.id) AS {id_col},
       CASE WHEN o.id IS NULL THEN 'added'
            WHEN n.id IS NULL THEN 'removed'
            WHEN o.d = n.d THEN 'unchanged'
            ELSE 'changed' END AS status
FROM o FULL OUTER JOIN n ON o.id = n.id
ORDER BY {id_col}
"""


# -- blocked record linkage (entity resolution) -------------------------------


def record_linkage(
    df: DataFrame,
    id_col: str,
    value_col: str,
    block_expr: str,
    *,
    max_edit: int = 2,
    max_block_size: int | None = None,
) -> DataFrame:
    """Blocked record linkage (entity resolution): candidate pairs come
    ONLY from records sharing a blocking key (a Spark SQL expression over
    the row — phonetic code, name prefix, zip+street, ...), then each
    candidate is verified with Levenshtein edit distance <= ``max_edit``.
    Returns ``(id1, id2, value1, value2, edit_distance, similarity)``
    with ``similarity = 1 - d / max(len)`` rounded 6, ordered (id1, id2).

    Blocking is the standard ER answer to the all-pairs trap: the
    within-block self-join is quadratic ONLY in block size, so the
    ``max_block_size`` guard (skip blocks above the cap — the classic
    dirty-data escape for degenerate keys like a NULL-ish phonetic code;
    skipped blocks trade recall for a bounded join, exactly like a
    production ER system) keeps per-task fan-out bounded at any corpus
    size. Block counts are block-key-sized and broadcast. Levenshtein is
    the engines' shared built-in — identical on both, no UDF.
    """
    if max_edit < 0:
        raise ValueError("max_edit must be >= 0")
    base = (
        df.where(F.col(id_col).isNotNull() & F.col(value_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.col(value_col).alias("value"),
            F.expr(block_expr).alias("blk"),
        )
        .where(F.col("blk").isNotNull())
    )
    if max_block_size is not None:
        sizes = base.groupBy("blk").agg(F.count(F.lit(1)).alias("__bs"))
        base = base.join(
            F.broadcast(sizes.where(F.col("__bs") <= max_block_size)),
            "blk",
        ).drop("__bs")
    a = base.alias("a")
    b = base.alias("b")
    d = F.levenshtein(F.col("a.value"), F.col("b.value"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(d <= max_edit)
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.value").alias("value1"),
            F.col("b.value").alias("value2"),
            d.cast("int").alias("edit_distance"),
            F.round(
                1.0
                - d
                / F.greatest(
                    F.length("a.value"), F.length("b.value")
                ).cast("double"),
                6,
            ).alias("similarity"),
        )
        .orderBy("id1", "id2")
    )


def record_linkage_sql(
    table: str,
    id_col: str,
    value_col: str,
    block_sql: str,
    dialect: str,
    *,
    max_edit: int = 2,
    max_block_size: int | None = None,
) -> str:
    """Dual-dialect twin of :func:`record_linkage` — ``levenshtein``,
    ``greatest`` and ``length`` are shared built-ins, so the text is
    identical on both engines. ``block_sql`` must itself be
    dialect-portable (the caller picks per-dialect text if not)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    guard = ""
    if max_block_size is not None:
        guard = (
            "JOIN (SELECT blk AS gblk FROM base GROUP BY blk"
            f" HAVING COUNT(*) <= {max_block_size}) g"
            " ON a.blk = g.gblk"
        )
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {value_col} AS value, {block_sql} AS blk
  FROM {table}
  WHERE {id_col} IS NOT NULL AND {value_col} IS NOT NULL
    AND ({block_sql}) IS NOT NULL
)
SELECT a.id AS id1, b.id AS id2,
       a.value AS value1, b.value AS value2,
       CAST(levenshtein(a.value, b.value) AS INT) AS edit_distance,
       ROUND(1.0 - levenshtein(a.value, b.value)
             / CAST(GREATEST(LENGTH(a.value), LENGTH(b.value)) AS DOUBLE),
             6) AS similarity
FROM base a
JOIN base b ON a.blk = b.blk AND a.id < b.id
{guard}
WHERE levenshtein(a.value, b.value) <= {max_edit}
ORDER BY id1, id2
"""


# -- asymmetric containment (quote / subset detection) -------------------------


def containment_sql(a: str, b: str, dialect: str) -> str:
    """Containment of shingle set ``a`` in ``b``: |a INTERSECT b| / |a| —
    the asymmetric near-dup signal (a short quote scores ~1.0 against
    its source while their Jaccard is tiny). Same formula discipline as
    :func:`jaccard_sql`, including the hash-based ``array_intersect``
    on the Spark side (distinct inputs make it value-identical to the
    filter scan; see jaccard_sql's docstring for the measured cost)."""
    if dialect == "spark":
        inter = f"size(array_intersect({a}, {b}))"
        na = f"size({a})"
    elif dialect == "duckdb":
        inter = f"len(list_filter({a}, x -> list_contains({b}, x)))"
        na = f"len({a})"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"ROUND(CAST({inter} AS DOUBLE) / NULLIF({na}, 0), 6)"


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    k: int = 8,
    n: int = 3,
    rows_per_band: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Asymmetric containment near-dup pairs: the quote/subset detector
    (is document A substantially contained in B?) that symmetric Jaccard
    misses when sizes differ. Candidates come from the SAME MinHash-LSH
    banding as :func:`near_dup_pairs_lsh`; verification computes BOTH
    directions and keeps pairs where either containment clears
    ``threshold``. Returns ``(id1, id2, c12, c21, jaccard)``.

    PINNED LIMITATION (documented, not hidden): MinHash banding recalls
    by JACCARD, so a tiny quote inside a huge document can evade the
    candidate stage even though its containment is 1.0 — the classic
    fix is one-sided sketches or suffix indexing; within this engine,
    pair extreme-size-skew corpora with ``substring_dedup`` (exact
    substring containment) instead. For near-peer sizes (the common
    dedup regime) banding recall matches the Jaccard path.

    Scale shape: identical to the LSH pipeline — one persisted shingle
    pass, banded self-equi-join, verify only candidates.
    """
    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, id_col
    )
    sh = df.select(
        F.col(id_col),
        F.expr(shingles_sql(text_col, "spark", n)).alias("shingles"),
    ).persist()
    sigs = minhash_signatures_from_shingles(sh, id_col, k=k, seed=seed)
    cands = lsh_candidate_pairs(
        sigs, id_col, k=k, rows_per_band=rows_per_band
    )
    c12 = containment_sql("l_sh", "r_sh", "spark")
    c21 = containment_sql("r_sh", "l_sh", "spark")
    j = jaccard_sql("l_sh", "r_sh", "spark")
    out = (
        cands.join(
            sh.select(
                F.col(id_col).alias("id1"),
                F.col("shingles").alias("l_sh"),
            ),
            "id1",
        )
        .join(
            sh.select(
                F.col(id_col).alias("id2"),
                F.col("shingles").alias("r_sh"),
            ),
            "id2",
        )
        .withColumn("c12", F.expr(c12))
        .withColumn("c21", F.expr(c21))
        .withColumn("jaccard", F.expr(j))
        .where(
            (F.col("c12") >= threshold) | (F.col("c21") >= threshold)
        )
        .select("id1", "id2", "c12", "c21", "jaccard")
    )
    transfer(cands, out)
    return tether(out, sh)


# -- exact set-similarity join (prefix filtering) ------------------------------


def set_similarity_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    n: int = 1,
) -> DataFrame:
    """EXACT Jaccard set-similarity self-join via prefix filtering
    (AllPairs/PPJoin family, Bayardo et al. 2007 / Xiao et al. 2008) —
    the no-false-negative counterpart to the MinHash-LSH path: LSH
    trades recall for speed; prefix filtering keeps exactness and still
    never goes all-pairs.

    The filter: order each doc's distinct n-gram tokens by GLOBAL
    frequency (rarest first, ties by token — the canonical total
    order); two sets with Jaccard >= t MUST share a token within each
    other's first ``|x| - ceil(t * |x|) + 1`` tokens, so candidates
    come from an equi-join on exploded PREFIX tokens only — common
    tokens (the quadratic hot keys) sit at the ends of the ordering
    and rarely enter prefixes. A length filter (``t * |x| <= |y|``)
    prunes size-skewed pairs the Jaccard bound already excludes.
    Verification computes exact Jaccard on the full token sets.

    Returns ``(id1, id2, jaccard)`` with jaccard >= threshold, ordered.

    Scale shape: token-frequency rank is vocabulary-sized (broadcast);
    the candidate join's fan-out is bounded by PREFIX token frequency —
    the rarest tokens by construction; verify joins fetch only
    candidate ids. The shingle frame persists across its three readers
    (same discipline as the LSH pipeline).
    """
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    # NOTE (round-11 optimization pass): the two heaviest profiled stages
    # here are the docs-side collect_list+sort persist fill racing its
    # self-join readers (9.2 s + 8.7 s runTime, 2.5-4 s cpu at sf0.1). A
    # dsir-style eager materialization cut was considered and DEFERRED:
    # it adds a job to an already 15-job query and the A/B host window
    # was too noisy to prove the win; revisit only with a quiet host.
    toks = (
        df.select(
            F.col(id_col),
            F.explode(
                F.expr(shingles_sql(text_col, "spark", n))
            ).alias("tok"),
        )
        .distinct()
        .persist()
    )
    # global total order: rarest first, ties by token text — carried
    # as (freq, tok) STRUCT sort inside each doc, NOT a global
    # row_number over the vocabulary (that would be a single-task
    # window over every distinct token; the struct compare is the same
    # total order with zero global state)
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__tf"))
    ranked = toks.join(F.broadcast(vocab), "tok")
    docs = ranked.groupBy(id_col).agg(
        F.expr(
            "transform(sort_array(collect_list(struct(__tf, tok))),"
            " x -> x.tok)"
        ).alias("rs"),
        F.count(F.lit(1)).alias("sz"),
    ).persist()
    # ALL threshold arithmetic is integer-exact via the rational form
    # t = p/1000: double 0.8*5 rounds to 4.0000000000000002 (ceil 5!)
    # while DuckDB's DECIMAL gives exactly 4 — the p/q form removes the
    # engine divergence. ceil(p*sz/q) = (p*sz + q - 1) DIV q.
    p = int(round(threshold * 1000))
    q = 1000
    pref = docs.select(
        F.col(id_col),
        F.col("sz"),
        F.explode(
            F.slice(
                F.col("rs"),
                1,
                (
                    F.col("sz")
                    - F.expr(f"({p} * sz + {q - 1}) DIV {q}")
                    + 1
                ).cast("int"),
            )
        ).alias("r"),
    )
    lhs = pref.select(
        F.col(id_col).alias("id1"), F.col("sz").alias("sz1"),
        F.col("r"),
    )
    rhs = pref.select(
        F.col(id_col).alias("id2"), F.col("sz").alias("sz2"),
        F.col("r"),
    )
    cands = (
        lhs.join(rhs, ["r"])
        .where(
            (F.col("id1") < F.col("id2"))
            # length filter, integer-exact: t*|x| <= |y| and t*|y| <= |x|
            & (F.lit(p) * F.col("sz1") <= F.lit(q) * F.col("sz2"))
            & (F.lit(p) * F.col("sz2") <= F.lit(q) * F.col("sz1"))
        )
        .select("id1", "id2")
        .distinct()
    )
    # verify with the integer cross-multiplied bound, report rounded 6;
    # ranks are DISTINCT per doc so array_intersect's dedup is a no-op
    out = (
        cands.join(
            docs.select(
                F.col(id_col).alias("id1"), F.col("rs").alias("a_rs")
            ),
            "id1",
        )
        .join(
            docs.select(
                F.col(id_col).alias("id2"), F.col("rs").alias("b_rs")
            ),
            "id2",
        )
        .withColumn(
            "__i", F.expr("size(array_intersect(a_rs, b_rs))")
        )
        .withColumn("__u", F.expr("size(a_rs) + size(b_rs) - __i"))
        .where(F.lit(q) * F.col("__i") >= F.lit(p) * F.col("__u"))
        .select(
            "id1", "id2",
            F.round(
                F.col("__i").cast("double") / F.col("__u"), 6
            ).alias("jaccard"),
        )
        .orderBy("id1", "id2")
    )
    return tether(out, toks, docs)


def set_similarity_join_sql(
    table: str,
    id_col: str,
    text_col: str,
    dialect: str,
    *,
    threshold: float = 0.8,
    n: int = 1,
) -> str:
    """Dual-dialect twin of :func:`set_similarity_join` — identical
    ranking, prefix and verification arithmetic. Ranks (not raw token
    hashes) are the set elements in BOTH engines, so intersection
    counts agree exactly."""
    if dialect == "spark":
        stream = f"explode({shingles_sql(text_col, 'spark', n)})"
        size_fn, inter = "size", "array_intersect"
    elif dialect == "duckdb":
        stream = f"unnest({shingles_sql(text_col, 'duckdb', n)})"
        size_fn, inter = "len", "list_intersect"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    mat = " MATERIALIZED" if dialect == "duckdb" else ""
    p = int(round(threshold * 1000))
    q = 1000
    idiv = "DIV" if dialect == "spark" else "//"
    expl = "explode" if dialect == "spark" else "unnest"
    slc = "slice" if dialect == "spark" else "list_slice"
    if dialect == "spark":
        mkrs = ("transform(sort_array(collect_list(struct(tf, tok))),"
                " x -> x.tok)")
    else:
        mkrs = ("list_transform(list_sort(list({'tf': tf, 'tok': tok})),"
                " x -> x.tok)")
    return f"""
WITH toks AS{mat} (
  SELECT DISTINCT {id_col} AS id, {stream} AS tok FROM {table}
),
vocab AS (
  SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok
),
docs AS{mat} (
  SELECT id, {mkrs} AS rs, COUNT(*) AS sz
  FROM toks JOIN vocab USING (tok) GROUP BY id
),
pref AS{mat} (
  SELECT id, sz, {expl}({slc}(rs, 1,
      CAST(sz - (({p} * sz + {q - 1}) {idiv} {q}) + 1 AS INT))) AS r
  FROM docs
),
cands AS (
  SELECT DISTINCT a.id AS id1, b.id AS id2
  FROM pref a JOIN pref b ON a.r = b.r AND a.id < b.id
   AND {p} * a.sz <= {q} * b.sz AND {p} * b.sz <= {q} * a.sz
),
verified AS (
  SELECT id1, id2,
         {size_fn}({inter}(da.rs, db.rs)) AS i_,
         {size_fn}(da.rs) + {size_fn}(db.rs)
           - {size_fn}({inter}(da.rs, db.rs)) AS u_
  FROM cands
  JOIN docs da ON da.id = id1
  JOIN docs db ON db.id = id2
)
SELECT id1, id2, ROUND(CAST(i_ AS DOUBLE) / u_, 6) AS jaccard
FROM verified WHERE {q} * i_ >= {p} * u_
ORDER BY id1, id2
"""


# -- winnowing fingerprints (partial-copy detection) ---------------------------


def winnow_sql(
    expr: str, dialect: str, *, ngram: int = 8, window: int = 4
) -> str:
    """Winnowing fingerprint SET of a text (Schleimer/Wilkerson/Aiken,
    MOSS): hash every character ``ngram`` of the normalized text
    (lowercase, whitespace collapsed — same normalization as
    ``text.fingerprint_sql``), then keep the MINIMUM hash of every
    sliding window of ``window`` consecutive positions, distinct. The
    winnowing guarantee: any shared substring of length >=
    ``window + ngram - 1`` chars between two docs yields at least one
    SHARED fingerprint — the local version of MinHash that catches
    PARTIAL copies whole-document sketches miss. Pure per-row HOF
    chain, identical on both engines (shared 60-bit hash family)."""
    from harmonize_search_analyze_spark.functions.hashing import hash64_sql

    if dialect == "spark":
        raise ValueError(
            "the Spark side stages columns instead of a correlated "
            "scalar subquery — use winnow_fingerprints()"
        )
    if dialect == "duckdb":
        norm = f"lower(trim(regexp_replace({expr}, '\\s+', ' ', 'g')))"
        h = hash64_sql(f"substring(__t, CAST(i AS INT), {ngram})",
                       "duckdb")
        hashes = (
            f"list_transform(range(1, greatest(length(__t) - {ngram - 1},"
            f" 1) + 1), i -> {h})"
        )
        mins = (
            f"list_transform(range(1, greatest(len(__h) - {window - 1},"
            f" 1) + 1), j -> list_min(list_slice(__h, CAST(j AS INT),"
            f" CAST(j + {window - 1} AS INT))))"
        )
        return (
            f"list_distinct(CASE WHEN {expr} IS NULL THEN CAST([] AS"
            " BIGINT[]) ELSE"
            f" (SELECT {mins} FROM (SELECT {hashes} AS __h FROM"
            f" (SELECT {norm} AS __t))) END)"
        )
    raise ValueError(f"unknown dialect: {dialect}")


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram: int = 8,
    window: int = 4,
    distinct: bool = True,
) -> DataFrame:
    """Exploded winnowing fingerprints per document (see
    :func:`winnow_sql` for the algorithm and guarantee). Spark side
    stages the normalized text and the per-position hash array as
    columns (each computed ONCE per row; a single inlined expression
    would recompute the normalization per character position — O(L²)).
    Returns ``(id, fingerprint)`` distinct rows. Map-only until the
    final distinct's exchange.

    ``distinct=False`` skips the global distinct exchange for callers
    whose downstream aggregation dedupes anyway (winnow_pairs'
    count_distinct/collect_set posting build — round 11); rows are then
    distinct per document (array_distinct) but repeated ids in the
    INPUT may repeat (id, fingerprint) pairs."""
    from harmonize_search_analyze_spark.functions.hashing import hash64_sql

    h = hash64_sql(f"substring(__t, i, {ngram})", "spark")
    exploded = (
        df.where(F.col(text_col).isNotNull())
        .withColumn(
            "__t",
            F.expr(
                f"lower(trim(regexp_replace({text_col}, '\\\\s+', ' ')))"
            ),
        )
        .withColumn(
            "__h",
            F.expr(
                f"transform(sequence(1, greatest(length(__t)"
                f" - {ngram - 1}, 1)), i -> {h})"
            ),
        )
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(1,"
                    f" greatest(size(__h) - {window - 1}, 1)),"
                    f" j -> array_min(slice(__h, j, {window}))))"
                )
            ).alias("fingerprint"),
        )
    )
    return exploded.distinct() if distinct else exploded


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_postings: int = 1000,
) -> DataFrame:
    """Partial-copy candidate pairs from shared winnowing fingerprints —
    the MOSS move: docs sharing >= ``min_shared`` fingerprints, with
    the shared count as the match strength. Any common substring of
    ``window + ngram - 1`` chars forces >= 1 shared fingerprint, so
    recall for real partial copies is structural, not probabilistic.

    Scale shape: fingerprints are the join key; a fingerprint posted by
    more than ``max_postings`` docs is DROPPED before the self-join
    (the boilerplate stop-fingerprint rule — a ubiquitous window is
    pure quadratic noise), bounding per-key fan-out. Returns
    ``(id1, id2, shared)`` ordered (shared DESC, id1, id2)."""
    # Round-11 (guide §2.4/§3 — remove the join outright): pairs are
    # generated from per-fingerprint POSTING LISTS instead of the
    # a-x-b self-join. The old shape shuffled the exploded fingerprint
    # frame three times (distinct, postings count, join probe) and
    # joined; the new shape shuffles it twice (postings count with the
    # distinct folded in as count_distinct, then collect_set for the
    # kept fingerprints only) and explodes each sorted posting list's
    # id1<id2 combinations in-task — the identical pair multiset, so
    # shared counts are unchanged. Sets are collected ONLY for
    # fingerprints already known to post 2..max_postings docs, so no
    # row ever materializes an unbounded posting list (the stop-
    # fingerprint scale guard still bites BEFORE any collection).
    raw = winnow_fingerprints(
        df, id_col, text_col, ngram=ngram, window=window, distinct=False
    ).persist()
    postings = raw.groupBy("fingerprint").agg(
        F.count_distinct(id_col).alias("__p")
    )
    kept = raw.join(
        F.broadcast(
            postings.where(
                (F.col("__p") >= 2) & (F.col("__p") <= max_postings)
            ).select("fingerprint")
        ),
        "fingerprint",
    )
    lists = kept.groupBy("fingerprint").agg(
        F.array_sort(F.collect_set(id_col)).alias("__ids")
    )
    pair_expr = (
        "flatten(transform(__ids, (x, i) -> "
        "transform(slice(__ids, i + 2, size(__ids) - i - 1), "
        "y -> struct(x AS id1, y AS id2))))"
    )
    out = (
        lists.select(F.explode(F.expr(pair_expr)).alias("__pr"))
        .select("__pr.id1", "__pr.id2")
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
        .where(F.col("shared") >= min_shared)
        .orderBy(F.desc("shared"), F.asc("id1"), F.asc("id2"))
    )
    return tether(out, raw)

def leakage_check(
    df: DataFrame,
    id_col: str,
    text_col: str,
    fractions: dict[str, float],
    *,
    threshold: float = 0.8,
    k: int = 8,
    n: int = 3,
    rows_per_band: int = 2,
    lsh_seed: int = 42,
    split_seed: int = 42,
) -> DataFrame:
    """Train/test leakage audit: near-duplicate pairs (MinHash-LSH, the
    :func:`near_dup_pairs_lsh` pipeline) tallied by the split boundary
    they span under the :func:`ordering.assign_split` hash partitioning
    — THE pre-training split gate ("how many eval documents have a
    near-dup in train?"). Returns one row per unordered split pair:
    ``(split_a, split_b, n_pairs, is_cross, cross_share)`` with
    ``split_a <= split_b`` lexicographically, ``is_cross`` flagging
    boundary-spanning pairs, and ``cross_share`` (the overall leaked
    fraction, rounded 6) repeated on every row of the split-pair-sized
    frame. No near-dup pairs at all -> empty result (nothing to leak).

    Scale shape: the LSH pipeline's shuffles only — split labels are a
    PURE hash expression of each pair's ids (``split_case_sql``), so the
    audit adds zero joins and zero extra scans on top of the dedup pass
    it rides.
    """
    from harmonize_search_analyze_spark.operators.ordering import (
        split_case_sql,
    )

    # NOTE (round-11): the one heavy profiled stage (13.7 s runTime /
    # 4.9 s cpu at sf0.1) is the shared LSH signature build inside
    # near_dup_pairs_lsh — md5-derived minhashing that IS the pinned
    # cross-engine contract (bands are value-checked by the oracle), so
    # the VERDICT-suggested xxhash64 swap is rejected on correctness,
    # not effort. The audit itself adds only pure hash expressions.
    pairs = near_dup_pairs_lsh(
        df, id_col, text_col,
        threshold=threshold, k=k, n=n,
        rows_per_band=rows_per_band, seed=lsh_seed,
    )
    s1 = F.expr(split_case_sql("id1", fractions, "spark", seed=split_seed))
    s2 = F.expr(split_case_sql("id2", fractions, "spark", seed=split_seed))
    labeled = pairs.select(
        F.least(s1, s2).alias("split_a"),
        F.greatest(s1, s2).alias("split_b"),
    )
    grouped = (
        labeled.groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .persist()
    )
    totals = grouped.agg(
        F.sum("n_pairs").alias("__tot"),
        F.sum(
            F.when(F.col("split_a") != F.col("split_b"), F.col("n_pairs"))
            .otherwise(F.lit(0))
        ).alias("__cross"),
    )
    out = (
        grouped.crossJoin(F.broadcast(totals))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("is_cross"),
            F.round(F.col("__cross") / F.col("__tot"), 6).alias(
                "cross_share"
            ),
        )
        .orderBy("split_a", "split_b")
    )
    return tether(out, grouped)

def cross_source_dups(
    df: DataFrame,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """Exact-duplicate clusters that SPAN sources — the mixture-hygiene
    audit behind "source B is just a mirror of source A" and "this
    benchmark set leaked into two feeds": md5-digest clusters with more
    than one member AND more than one distinct source. Returns
    ``(digest, n_docs, n_sources, sources)`` with the source list
    sorted and comma-joined (deterministic, array-free for the driver
    canonicalizer), ordered by n_docs desc, digest.

    Scale shape: one (digest, source) hash agg then one digest agg —
    the two-level stack keeps count and count-distinct out of the same
    agg (the Expand-plan trap); everything after the first agg is
    duplicate-cluster-sized.
    """
    d = F.md5(F.col(text_col)).alias("digest")
    per_ds = (
        df.where(F.col(text_col).isNotNull() & F.col(group_col).isNotNull())
        .groupBy(d, F.col(group_col).alias("__src"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return (
        per_ds.groupBy("digest")
        .agg(
            F.sum("__c").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_sources"),
            F.array_join(
                F.sort_array(F.collect_list("__src")), ","
            ).alias("sources"),
        )
        .where((F.col("n_docs") > 1) & (F.col("n_sources") > 1))
        .orderBy(F.desc("n_docs"), F.asc("digest"))
    )


def cross_source_dups_sql(
    table: str,
    text_col: str,
    group_col: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`cross_source_dups` (string_agg with
    ORDER BY vs array_join(sort_array(collect_list)))."""
    if dialect == "spark":
        srcs = "array_join(sort_array(collect_list(src)), ',')"
    elif dialect == "duckdb":
        srcs = "string_agg(src, ',' ORDER BY src)"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH per_ds AS (
  SELECT md5({text_col}) AS digest, {group_col} AS src, COUNT(*) AS c
  FROM {table}
  WHERE {text_col} IS NOT NULL AND {group_col} IS NOT NULL
  GROUP BY 1, 2
)
SELECT digest, CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_sources,
       {srcs} AS sources
FROM per_ds
GROUP BY digest
HAVING SUM(c) > 1 AND COUNT(*) > 1
ORDER BY n_docs DESC, digest ASC
"""


def fuzzy_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    title_len: int = 24,
    block_len: int = 8,
    max_dist: int = 2,
) -> DataFrame:
    """Blocked edit-distance self-join — typo/near-variant pair
    detection where the shingle machinery of :func:`near_dup_pairs` is
    overkill (short titles, names, template slugs): normalize to a
    lowercased ``title_len``-char title, DISTINCT the titles (the join
    runs on the title vocabulary, never the corpus), block on the first
    ``block_len`` chars + a same-length-band predicate, and keep pairs
    with ``levenshtein <= max_dist``. Each title carries its smallest
    id and its row count so the pair output sizes the dedup win.
    Returns ``(title_a, title_b, id_a, id_b, n_a, n_b, dist)`` ordered
    by (title_a, title_b).

    Scale shape: the corpus touches ONE (title -> min id, count) agg;
    the quadratic risk lives inside blocks of the DISTINCT-title frame
    only, bounded by the prefix blocking + the |len(a) - len(b)| <=
    max_dist band (an edit-distance lower bound, so it prunes nothing
    valid). A templated corpus with one hot prefix should raise
    ``block_len`` — blocking is the knob, the join shape is fixed.
    """
    if max_dist < 1:
        raise ValueError("max_dist must be >= 1")
    t = F.lower(F.substring(F.col(text_col), 1, title_len))
    titles = (
        df.where(F.col(text_col).isNotNull())
        .groupBy(t.alias("__title"))
        .agg(
            F.min(F.col(id_col)).alias("__id"),
            F.count(F.lit(1)).alias("__n"),
        )
        .withColumn("__block", F.substring(F.col("__title"), 1, block_len))
        .withColumn("__len", F.length("__title"))
    )
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    a = titles.select(
        F.col("__title").alias("title_a"), F.col("__id").alias("id_a"),
        F.col("__n").alias("n_a"), F.col("__block").alias("__ba"),
        F.col("__len").alias("__la"),
    ).repartition(n_parts, "__ba")
    # REPARTITION_BY_NUM pins the probe-side parallelism: the title
    # frame is tiny in BYTES, so AQE would coalesce the post-shuffle
    # side to one partition and run every block's quadratic
    # levenshtein work on a single task (measured 35x on the decade
    # rig before the pin; 10x corpus growth grows block POPULATIONS,
    # and the pair work quadratically — spread the blocks, don't let
    # byte-size heuristics serialize them)
    b = titles.select(
        F.col("__title").alias("title_b"), F.col("__id").alias("id_b"),
        F.col("__n").alias("n_b"), F.col("__block").alias("__bb"),
        F.col("__len").alias("__lb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("__ba") == F.col("__bb"))
            & (F.col("title_a") < F.col("title_b"))
            & (F.abs(F.col("__la") - F.col("__lb")) <= max_dist),
        )
        .where(
            F.levenshtein(F.col("title_a"), F.col("title_b")) <= max_dist
        )
    )
    return pairs.select(
        "title_a", "title_b",
        F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"),
        F.col("n_a").cast("bigint"), F.col("n_b").cast("bigint"),
        F.levenshtein(F.col("title_a"), F.col("title_b"))
        .cast("int").alias("dist"),
    ).orderBy("title_a", "title_b")


def fuzzy_join_sql(
    table: str,
    id_expr: str,
    text_expr: str,
    dialect: str,
    *,
    title_len: int = 24,
    block_len: int = 8,
    max_dist: int = 2,
) -> str:
    """Dual-dialect twin of :func:`fuzzy_join` — both engines ship
    ``levenshtein``; substr/lower/length are shared text."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH titles AS (
  SELECT LOWER(SUBSTR({text_expr}, 1, {title_len})) AS title,
         MIN({id_expr}) AS id, COUNT(*) AS n
  FROM {table} WHERE {text_expr} IS NOT NULL
  GROUP BY 1
),
blocked AS (
  SELECT title, id, n, SUBSTR(title, 1, {block_len}) AS block,
         LENGTH(title) AS len
  FROM titles
)
SELECT a.title AS title_a, b.title AS title_b,
       CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b,
       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
       CAST(levenshtein(a.title, b.title) AS INT) AS dist
FROM blocked a JOIN blocked b
  ON a.block = b.block AND a.title < b.title
 AND ABS(a.len - b.len) <= {max_dist}
WHERE levenshtein(a.title, b.title) <= {max_dist}
ORDER BY title_a, title_b
"""


def chao1_richness(
    df: DataFrame,
    key_expr: str,
) -> DataFrame:
    """Chao1 species-richness estimate over duplicate clusters — the
    corpus-planning question dedup counts can't answer: from THIS
    sample's duplicate profile, how many DISTINCT documents does the
    underlying population hold, and how much of it have we seen?
    Treats each distinct ``key_expr`` (a content digest) as a species:
    with ``F1`` singletons and ``F2`` doubletons,
    ``chao1 = S_obs + F1 (F1 - 1) / (2 (F2 + 1))`` (the bias-corrected
    form, defined even at F2 = 0 — Chao 1984/1987), plus the
    Good-Turing sample coverage ``1 - F1/N`` (the probability the next
    document drawn is a duplicate of something already seen). Returns
    ONE row ``(n, s_obs, f1, f2, chao1, coverage)`` rounded 6.

    Scale shape: one key hash agg (digest counts), one
    frequency-of-frequency agg OVER THAT FRAME (count-of-count —
    bounded by max multiplicity), one 1-row fold. Map-combinable end
    to end; the raw corpus is scanned once.
    """
    counts = (
        df.where(F.expr(key_expr).isNotNull())
        .groupBy(F.expr(key_expr).alias("__k"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    fof = counts.groupBy("__c").agg(F.count(F.lit(1)).alias("__f"))
    one = fof.agg(
        F.sum(F.col("__c") * F.col("__f")).alias("__n"),
        F.sum("__f").alias("__s"),
        F.coalesce(
            F.sum(F.when(F.col("__c") == 1, F.col("__f"))), F.lit(0)
        ).alias("__f1"),
        F.coalesce(
            F.sum(F.when(F.col("__c") == 2, F.col("__f"))), F.lit(0)
        ).alias("__f2"),
    )
    f1 = F.col("__f1").cast("double")
    chao = (
        F.col("__s")
        + f1 * (f1 - 1.0) / (2.0 * (F.col("__f2") + 1.0))
    )
    cov = 1.0 - F.try_divide(f1, F.col("__n").cast("double"))
    return one.select(
        F.col("__n").cast("bigint").alias("n"),
        F.col("__s").cast("bigint").alias("s_obs"),
        F.col("__f1").cast("bigint").alias("f1"),
        F.col("__f2").cast("bigint").alias("f2"),
        F.round(chao, 6).alias("chao1"),
        (F.round(cov, 6) + F.lit(0.0)).alias("coverage"),
    )


def chao1_richness_sql(
    table: str,
    key_expr: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`chao1_richness` (identical text)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH counts AS (
  SELECT {key_expr} AS k, COUNT(*) AS c
  FROM {table}
  WHERE {key_expr} IS NOT NULL
  GROUP BY 1
),
fof AS (SELECT c, COUNT(*) AS f FROM counts GROUP BY 1),
one AS (
  SELECT CAST(SUM(c * f) AS BIGINT) AS n, CAST(SUM(f) AS BIGINT) AS s,
         CAST(COALESCE(SUM(CASE WHEN c = 1 THEN f END), 0) AS BIGINT)
           AS f1,
         CAST(COALESCE(SUM(CASE WHEN c = 2 THEN f END), 0) AS BIGINT)
           AS f2
  FROM fof
)
SELECT n, s AS s_obs, f1, f2,
       ROUND(s + CAST(f1 AS DOUBLE) * (f1 - 1.0)
                 / (2.0 * (f2 + 1.0)), 6) AS chao1,
       ROUND(1.0 - CAST(f1 AS DOUBLE) / NULLIF(CAST(n AS DOUBLE), 0.0),
             6) + 0.0 AS coverage
FROM one
"""


def substring_span_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
) -> DataFrame:
    """Cross-document shared-span CLUSTERS — the suffix-array-style
    extension of :func:`substring_dedup` (Lee et al. 2021 ExactSubstr)
    from "delete later occurrences" to "report WHO shares WHAT": instead
    of dropping duplicated k-gram windows, merge each document's
    cross-doc-duplicated window starts into maximal token spans
    (gaps-and-islands) and group spans across documents by their exact
    token content.  The training-data curation read: each cluster is one
    piece of boilerplate/quotation with its full occurrence list —
    the unit a curation pipeline inspects before deciding to strip.

    Semantics (pinned, hand-computable):

    - a window start (doc, pos) is *shared* iff its k-gram occurs in
      >= 2 DISTINCT documents (same-doc repeats alone don't count);
    - per document, runs of CONSECUTIVE shared starts merge into one
      maximal span [pos_first, pos_last + k - 1] (token indices);
    - spans cluster by the 60-bit content hash of their exact token
      sequence; clusters with >= 2 distinct documents are returned —
      a doc whose maximal span extends PAST a neighbor's (superset
      span) hashes differently and forms its own (possibly filtered)
      cluster, by design: the cluster is "this exact maximal text".

    Returns one row per qualifying span: (id, span_start, span_len,
    span_key, n_docs, n_spans).

    Plan shape (the 100 TB story): ONE tokenization pass (persisted,
    tethered); window starts as a codegen'd transform over the token
    array (one row per start, no windows x tokens explode); gram-key
    two-level agg (map-combinable, high-entropy keys at k >= 8) +
    co-partitioned semi-join; ONE doc-key window shuffle for the island
    merge; span content sliced from the token array (co-located join on
    the doc key); one span-key agg for cluster stats.  No driver-side
    collect; every frame after the starts projection is sized by the
    DUPLICATED surface, not the corpus.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    from pyspark.sql import Window

    gram_hash = hash64_sql(
        f"concat_ws(' ', slice(__toks, i + 1, {k}))", "spark"
    )
    toks = df.select(
        F.col(id_col),
        F.expr(tokens_sql(text_col, "spark")).alias("__toks"),
    ).persist()
    starts = toks.select(
        id_col,
        F.explode(
            F.expr(
                f"CASE WHEN size(__toks) >= {k} THEN "
                f"transform(sequence(0, size(__toks) - {k}), "
                f"i -> struct(i AS pos, {gram_hash} AS g)) "
                "ELSE array() END"
            )
        ).alias("w"),
    ).select(id_col, "w.pos", "w.g")
    # two-level distinct-doc count: (g, id) pre-agg is map-combinable,
    # then the tiny (g, n_docs) frame filters via a co-partitioned
    # semi-join (both sides hashed on g)
    cross_doc = (
        starts.groupBy("g", id_col).agg(F.lit(1))
        .groupBy("g").agg(F.count(F.lit(1)).alias("__nd"))
        .where(F.col("__nd") >= 2)
        .select("g")
    )
    shared = starts.join(cross_doc, "g", "left_semi")
    # gaps-and-islands on the doc key: consecutive shared starts merge
    island = (
        F.col("pos")
        - F.row_number().over(
            Window.partitionBy(id_col).orderBy(F.col("pos").asc())
        )
    )
    spans = (
        shared.withColumn("__isl", island)
        .groupBy(id_col, "__isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + F.lit(k)).alias("span_len"),
        )
        .drop("__isl")
    )
    keyed = spans.join(toks, id_col).select(
        id_col,
        F.col("span_start").cast("bigint").alias("span_start"),
        F.col("span_len").cast("int").alias("span_len"),
        F.expr(
            hash64_sql(
                "concat_ws(' ', slice(__toks, span_start + 1, span_len))",
                "spark",
            )
        ).alias("span_key"),
    ).persist()
    # two-level, not countDistinct+count in one agg: the mixed form
    # expands the input (one Expand branch per distinct agg) — the
    # (span_key, id) pre-agg is map-combinable and the second level is
    # a plain count/sum over the tiny per-doc frame
    clusters = (
        keyed.groupBy("span_key", id_col)
        .agg(F.count(F.lit(1)).alias("__per_doc"))
        .groupBy("span_key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__per_doc").cast("bigint").alias("n_spans"),
        )
        .where(F.col("n_docs") >= 2)
    )
    out = keyed.join(clusters, "span_key").select(
        id_col, "span_start", "span_len", "span_key", "n_docs", "n_spans"
    )
    transfer(keyed, out)
    return tether(out, toks)


def substring_span_clusters_sql(
    table: str,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
) -> str:
    """DuckDB oracle for :func:`substring_span_clusters` — identical gram
    hash, distinct-doc gate, island merge, span content hash, cluster
    stats."""
    toks = tokens_sql(text_col, "duckdb")
    gram = hash64_sql(
        f"array_to_string(toks[CAST(pos + 1 AS BIGINT):"
        f"CAST(pos + {k} AS BIGINT)], ' ')",
        "duckdb",
    )
    span_hash = hash64_sql(
        "array_to_string(toks[CAST(span_start + 1 AS BIGINT):"
        "CAST(span_start + span_len AS BIGINT)], ' ')",
        "duckdb",
    )
    return f"""
WITH t AS (SELECT {id_col}, {toks} AS toks FROM {table}),
starts AS (
  SELECT {id_col}, CAST(u.i AS BIGINT) AS pos, {gram} AS g
  FROM t, UNNEST(range(len(toks) - {k} + 1)) AS u(i)
  WHERE len(toks) >= {k}
),
cross_doc AS (
  SELECT g FROM (
    SELECT g, COUNT(*) AS nd FROM (
      SELECT DISTINCT g, {id_col} FROM starts
    ) GROUP BY g
  ) WHERE nd >= 2
),
shared AS (
  SELECT s.* FROM starts s SEMI JOIN cross_doc c ON s.g = c.g
),
spans AS (
  SELECT {id_col}, MIN(pos) AS span_start,
         CAST(MAX(pos) - MIN(pos) + {k} AS INT) AS span_len
  FROM (
    SELECT {id_col}, pos,
           pos - ROW_NUMBER() OVER (
             PARTITION BY {id_col} ORDER BY pos ASC) AS isl
    FROM shared
  ) GROUP BY {id_col}, isl
),
keyed AS (
  SELECT s.{id_col}, s.span_start, s.span_len, {span_hash} AS span_key
  FROM spans s JOIN t ON s.{id_col} = t.{id_col}
),
clusters AS (
  SELECT span_key, CAST(COUNT(DISTINCT {id_col}) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_spans
  FROM keyed GROUP BY span_key HAVING COUNT(DISTINCT {id_col}) >= 2
)
SELECT k2.{id_col}, k2.span_start, k2.span_len, k2.span_key,
       c.n_docs, c.n_spans
FROM keyed k2 JOIN clusters c ON k2.span_key = c.span_key
"""
