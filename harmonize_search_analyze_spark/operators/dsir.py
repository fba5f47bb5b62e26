"""DSIR — Data Selection via Importance Resampling (Xie et al., 2023).

The published recipe for selecting pretraining data that "looks like" a
target corpus: featurize every document into hashed n-gram buckets, fit
bag-of-buckets unigram distributions ``p`` (target sample) and ``q`` (raw
pool), weight each raw document by its importance ratio

    log w(x) = sum_b  c_b(x) * ( log p_hat[b] - log q_hat[b] )

(``c_b(x)`` = count of bucket ``b`` among the doc's unigrams+bigrams,
``p_hat``/``q_hat`` Laplace-smoothed), then draw ``k`` documents WITHOUT
replacement with probability proportional to ``w`` via the Gumbel top-k
trick: ``key = log w + Gumbel(0,1)``, take the k largest keys.

Everything here is deterministic and engine-portable:

- n-gram hashing reuses the md5-derived :func:`hash64_sql` family, so
  Spark and the DuckDB oracle bucket every gram identically;
- per-bucket log-ratios are rounded to INTEGER MICRO-NATS
  (``round(lr * 1e6) -> BIGINT``) before the per-document sum — the
  cross-engine hazard in a float sum is summation ORDER, and integer
  addition is order-free, so both engines produce bit-identical weights;
- the Gumbel noise derives from the same hash family (uniform in (0,1)
  from a 60-bit hash), not an RNG, so the "random" resample is
  reproducible across runs, partitionings, and engines.

Scale shape (the 100 TB plan):

- FIT: one pass — explode grams, bucket, hash-agg to ``m`` rows with
  map-side combine (state is m buckets per task regardless of corpus
  size). ``m`` is 10k in the paper; the ratio table is metadata.
- WEIGHT: second pass — explode grams, broadcast-join the m-row ratio
  table (map-side), hash-agg by doc_id (the ONLY row-volume shuffle,
  partially aggregated). SELECT: TakeOrderedAndProject on the Gumbel
  key — no global sort.
- The fit pass can run on a corpus SAMPLE when two full scans are too
  expensive; the operator takes any pre-filtered frame for that.

No counterpart exists in the reference (harmonize-search-analyze stops at
search/profiling); this extends the engine per SURVEY §2's LLM-pipeline
brief, like `contamination.py` / `sampling.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from harmonize_search_analyze_spark.functions.hashing import hash64_sql
from harmonize_search_analyze_spark.operators.text import ngrams_sql

#: hash-uniform granularity for the Gumbel draw (matches sampling.py's
#: HASH_BUCKETS discipline: h % GRAIN maps to u in (0,1))
_GUMBEL_GRAIN = 1_000_000_000


def _grams_sql(text_expr: str, dialect: str) -> str:
    """Unigram + bigram array of the pinned tokenization (the paper's
    feature set), duplicates kept — c_b is a COUNT, not a set indicator."""
    uni = ngrams_sql(text_expr, dialect, 1)
    bi = ngrams_sql(text_expr, dialect, 2)
    if dialect == "spark":
        return f"concat({uni}, {bi})"
    return f"list_concat({uni}, {bi})"


def _bucket_sql(gram_expr: str, dialect: str, m: int) -> str:
    return f"({hash64_sql(gram_expr, dialect)} % {m})"


def _gumbel_sql(id_expr: str, dialect: str, seed: int) -> str:
    """Deterministic standard Gumbel draw per id: u = hash-uniform(0,1),
    g = -ln(-ln(u)). The +0.5 offset keeps u strictly inside (0,1)."""
    cat = (
        f"CONCAT(CAST({id_expr} AS STRING), '|dsir|', '{seed}')"
        if dialect == "spark"
        else f"CAST({id_expr} AS VARCHAR) || '|dsir|' || '{seed}'"
    )
    h = hash64_sql(cat, dialect)
    u = f"((({h}) % {_GUMBEL_GRAIN}) + 0.5) / {_GUMBEL_GRAIN}.0"
    return f"(-LN(-LN({u})))"


def dsir_bucket_ratios(
    docs: DataFrame,
    target_pred: str,
    *,
    text_col: str = "text",
    m: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """Fit stage: per-bucket integer micro-nat log-ratio table.

    ``target_pred`` is a boolean SQL expression over ``docs`` columns
    selecting the target sample (e.g. ``"lang = 'en'"``). Returns
    ``(bucket BIGINT, lr_micro BIGINT)`` — m rows, metadata-sized, meant
    to be broadcast.

    Laplace smoothing with ``alpha`` keeps buckets unseen in either
    corpus finite: p_hat[b] = (t_b + alpha) / (T + alpha*m).
    """
    if m <= 0:
        raise ValueError(f"m must be positive, got {m}")
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    grams = docs.select(
        F.expr(target_pred).cast("int").alias("__is_tgt"),
        F.explode(F.expr(_grams_sql(text_col, "spark"))).alias("__gram"),
    )
    per_bucket = grams.select(
        F.expr(_bucket_sql("__gram", "spark", m)).alias("bucket"), "__is_tgt"
    ).groupBy("bucket").agg(
        F.sum("__is_tgt").alias("__t"),
        F.count(F.lit(1)).alias("__r"),
    )
    totals = per_bucket.agg(
        F.sum("__t").alias("__tt"), F.sum("__r").alias("__rt")
    )
    a = float(alpha)
    return (
        per_bucket.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(
                (
                    F.log(
                        (F.col("__t") + a)
                        / (F.col("__tt") + F.lit(a * m))
                    )
                    - F.log(
                        (F.col("__r") + a)
                        / (F.col("__rt") + F.lit(a * m))
                    )
                )
                * F.lit(1_000_000.0)
            )
            .cast("bigint")
            .alias("lr_micro"),
        )
    )


def dsir_weights(
    docs: DataFrame,
    target_pred: str,
    *,
    doc_id: str = "doc_id",
    text_col: str = "text",
    m: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-document importance weight in integer micro-nats.

    Returns ``(doc_id, n_grams BIGINT, logw_micro BIGINT)`` — one row per
    input document (zero-gram documents keep weight 0). ``logw_micro``
    is an exact integer on both engines (see module docstring), so the
    oracle comparison carries no float tolerance at all.
    """
    if m <= 0:
        raise ValueError(f"m must be positive, got {m}")
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    from harmonize_search_analyze_spark.functions.caching import tether

    # ONE gram explosion shared by the fit and weight aggregations — the
    # tokenize+explode pass dominates (measured ~40% of wall at sf0.1
    # when run twice); materialized EAGERLY via localCheckpoint and
    # tethered to the returned frame. With a lazy persist, the
    # ratio/total broadcast-subquery futures and the main weight stage
    # race to fill the cache under ONE action, and the per-partition
    # cache locks serialize the md5 gram hashing (profiled: the weight
    # stage alone carried 16.7 s of the pipeline's 34 s CPU at sf0.1).
    # One eager job hashes every gram exactly once; every consumer then
    # reads checkpointed blocks, and localCheckpoint rather than persist
    # keeps AQE coalescing for the consumers (the r10-documented
    # cached-plan trap). The lazy persist measured slower on 4 cores
    # too (PERFORMANCE.md decision 9).
    bucketed = docs.select(
        F.col(doc_id).alias("__id"),
        F.expr(target_pred).cast("int").alias("__is_tgt"),
        F.explode(F.expr(_grams_sql(text_col, "spark"))).alias("__gram"),
    ).select(
        "__id",
        "__is_tgt",
        F.expr(_bucket_sql("__gram", "spark", m)).alias("bucket"),
    ).localCheckpoint(eager=True)
    per_bucket = bucketed.groupBy("bucket").agg(
        F.sum("__is_tgt").alias("__t"),
        F.count(F.lit(1)).alias("__r"),
    )
    totals = per_bucket.agg(
        F.sum("__t").alias("__tt"), F.sum("__r").alias("__rt")
    )
    a = float(alpha)
    ratios = per_bucket.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            (
                F.log((F.col("__t") + a) / (F.col("__tt") + F.lit(a * m)))
                - F.log((F.col("__r") + a) / (F.col("__rt") + F.lit(a * m)))
            )
            * F.lit(1_000_000.0)
        )
        .cast("bigint")
        .alias("lr_micro"),
    )
    sums = (
        bucketed.join(F.broadcast(ratios), "bucket")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum("lr_micro").cast("bigint").alias("logw_micro"),
        )
    )
    out = (
        docs.select(F.col(doc_id).alias("__id"))
        .join(sums, "__id", "left")
        .select(
            F.col("__id").alias(doc_id),
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("logw_micro", F.lit(0)).cast("bigint").alias("logw_micro"),
        )
    )
    return tether(out, bucketed)


def dsir_sample(
    docs: DataFrame,
    target_pred: str,
    *,
    k: int = 100,
    doc_id: str = "doc_id",
    text_col: str = "text",
    m: int = 1024,
    alpha: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """Select ``k`` documents by Gumbel top-k importance resampling.

    Returns ``(doc_id, logw_micro BIGINT, gumbel_key DOUBLE rounded to 6)``
    ordered by key descending (ties broken by doc_id ascending — pinned).
    ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject: per-task
    k-row heaps + a k-row driver merge, never a global sort.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    w = dsir_weights(
        docs, target_pred, doc_id=doc_id, text_col=text_col, m=m, alpha=alpha
    )
    key = (
        F.col("logw_micro").cast("double") / F.lit(1_000_000.0)
        + F.expr(_gumbel_sql(doc_id, "spark", seed))
    )
    return (
        w.select(doc_id, "logw_micro", key.alias("gumbel_key"))
        .orderBy(F.col("gumbel_key").desc(), F.col(doc_id).asc())
        .limit(k)
        .select(doc_id, "logw_micro", F.round("gumbel_key", 6).alias("gumbel_key"))
    )


def dsir_weights_sql(
    doc_table: str,
    target_pred: str,
    dialect: str,
    *,
    doc_id: str = "doc_id",
    text_col: str = "text",
    m: int = 1024,
    alpha: float = 1.0,
) -> str:
    """Dual-dialect twin of :func:`dsir_weights` — identical hashing,
    smoothing, and integer micro-nat rounding on both engines."""
    grams = _grams_sql(text_col, dialect)
    bucket = _bucket_sql("__gram", dialect, m)
    a = float(alpha)
    if dialect == "spark":
        explode = (
            f"SELECT {doc_id} AS __id, gram_tbl.__gram AS __gram, "
            f"{target_pred} AS __tp FROM {doc_table} "
            f"LATERAL VIEW explode({grams}) gram_tbl AS __gram"
        )
    else:
        explode = (
            f"SELECT {doc_id} AS __id, UNNEST({grams}) AS __gram, "
            f"{target_pred} AS __tp FROM {doc_table}"
        )
    return f"""
WITH exploded AS ({explode}),
bucketed AS (
  SELECT __id, {bucket} AS bucket, CAST(__tp AS INT) AS __is_tgt
  FROM exploded
),
per_bucket AS (
  SELECT bucket, SUM(__is_tgt) AS t, COUNT(*) AS r FROM bucketed GROUP BY bucket
),
totals AS (SELECT SUM(t) AS tt, SUM(r) AS rt FROM per_bucket),
ratios AS (
  SELECT bucket,
         CAST(ROUND((LN((t + {a!r}) / (tt + {a * m!r}))
                   - LN((r + {a!r}) / (rt + {a * m!r}))) * 1000000.0)
              AS BIGINT) AS lr_micro
  FROM per_bucket, totals
),
sums AS (
  SELECT b.__id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(ratios.lr_micro) AS BIGINT) AS logw_micro
  FROM bucketed b JOIN ratios ON b.bucket = ratios.bucket
  GROUP BY b.__id
)
SELECT d.{doc_id}, COALESCE(s.n_grams, 0) AS n_grams,
       COALESCE(s.logw_micro, 0) AS logw_micro
FROM {doc_table} d LEFT JOIN sums s ON d.{doc_id} = s.__id
"""


def dsir_sample_sql(
    doc_table: str,
    target_pred: str,
    dialect: str,
    *,
    k: int = 100,
    doc_id: str = "doc_id",
    text_col: str = "text",
    m: int = 1024,
    alpha: float = 1.0,
    seed: int = 42,
) -> str:
    """Dual-dialect twin of :func:`dsir_sample`."""
    weights = dsir_weights_sql(
        doc_table,
        target_pred,
        dialect,
        doc_id=doc_id,
        text_col=text_col,
        m=m,
        alpha=alpha,
    )
    gumbel = _gumbel_sql(doc_id, dialect, seed)
    return f"""
WITH weights AS ({weights})
SELECT {doc_id}, logw_micro,
       ROUND(CAST(logw_micro AS DOUBLE) / 1000000.0 + {gumbel}, 6) AS gumbel_key
FROM weights
ORDER BY CAST(logw_micro AS DOUBLE) / 1000000.0 + {gumbel} DESC, {doc_id} ASC
LIMIT {k}
"""
