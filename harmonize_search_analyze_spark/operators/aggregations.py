"""Dashboard aggregation layer.

Re-expresses the reference's Kibana visualization aggregations
(``notebooks/kibana-content/kibana-exported-visualizations.json``) as
DataFrame operators:

- count metric (viz 2,3,4,5,7 all use ``{type: 'count'}``)
- terms top-k (single level, viz 2/5; two-field table viz 4)
- nested terms (viz 3: dayofweek size 10 -> hour size 24)
- geohash grid (viz 7: precision-2 geohash buckets)
- typeahead suggestions (webapp ``views.js:378-412``)

Determinism note: ES orders equal-count terms by term key; we pin the total
order ``count DESC, key ASC`` everywhere (SURVEY.md §7 risk list) so results
are reproducible and oracle-comparable.

Scale notes (100 TB): every operator here is a partial+final hash aggregation
(map-side combine comes free from ``groupBy().count()``), followed by either a
global top-k (``orderBy().limit(k)`` -> Spark's TakeOrderedAndProject, which
never materializes a full sort) or a bounded per-group window. No shuffles
beyond the single agg exchange; no Python in the hot path.
"""

from __future__ import annotations

import datetime as _dt  # noqa: F401  (annotation only)
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from harmonize_search_analyze_spark.functions.caching import tether_shared
from harmonize_search_analyze_spark.sources.tables import local_frame
from harmonize_search_analyze_spark.functions.datemath import (
    is_date_math,
    parse_date_math,
)
from harmonize_search_analyze_spark.functions.geohash import (
    auto_precision,
    geohash_encode,
    geotile_sql,
)


def count_metric(df: DataFrame, predicate: Column | None = None) -> DataFrame:
    """Total doc count, optionally under a predicate (Kibana count metric)."""
    if predicate is not None:
        df = df.where(predicate)
    return df.agg(F.count(F.lit(1)).alias("doc_count"))


def terms(
    df: DataFrame,
    field: str,
    k: int = 10,
    *,
    skip_nulls: bool = True,
    missing: str | None = None,
    partition: int | None = None,
    num_partitions: int | None = None,
    include: str | None = None,
    exclude: str | None = None,
    min_doc_count: int = 1,
) -> DataFrame:
    """Top-k terms by doc count (ES terms aggregation).

    ES terms aggs skip missing values by default; we mirror that with a
    null filter (pushed to the scan). The ES ``missing`` parameter instead
    buckets nulls under the given substitute value (coalesce — still one
    hash agg). Exact counts (ES's are shard-approximate — exactness is
    strictly better, SURVEY.md §4).

    ``partition``/``num_partitions`` mirror the ES ``include.partition``
    paging contract for high-cardinality fields: restrict the agg to the
    terms whose portable hash lands in partition ``p`` of ``n`` — calling
    once per partition enumerates EVERY term with a bounded per-call
    result, where a giant single top-k would not. The filter is a
    codegen'd hash compare before the agg (each call scans once; n calls
    total — the same contract ES documents).

    ``include``/``exclude`` take both ES forms: a regex string
    (full-value anchored, like Lucene's RegExp) or a list of exact
    values. Either way they filter BEFORE the aggregation, so excluded
    terms never enter the hash table; null keys are untouched by the
    filters (ES applies include/exclude to bucket KEYS — missing-value
    handling stays orthogonal to ``skip_nulls``/``missing``).

    ``min_doc_count`` follows ES where a relational engine can: > 1 is a
    HAVING floor; 0 (emit zero-doc buckets) is only meaningful against a
    known term universe, so it requires the list form of ``include`` and
    emits those values with doc_count 0 when absent.
    """
    if (partition is None) != (num_partitions is None):
        raise ValueError("partition and num_partitions go together")
    if partition is not None:
        if not 0 <= partition < num_partitions:
            raise ValueError(
                f"partition must be in [0, {num_partitions}), got {partition}"
            )
        from harmonize_search_analyze_spark.functions.hashing import (
            hash64_sql,
        )

        h = F.expr(hash64_sql(f"CAST({field} AS STRING)", "spark"))
        df = df.where(h % num_partitions == partition)
    if missing is not None:
        df = df.withColumn(field, F.coalesce(F.col(field), F.lit(missing)))
    elif skip_nulls:
        df = df.where(F.col(field).isNotNull())
    if min_doc_count == 0 and not isinstance(include, (list, tuple)):
        raise ValueError(
            "min_doc_count=0 needs the list form of include (the term "
            "universe to zero-fill) — a relational scan has no term "
            "dictionary beyond the data"
        )

    def _key_match(spec) -> Column:
        if isinstance(spec, (list, tuple)):
            return F.col(field).isin(list(spec))
        return F.col(field).rlike(f"^(?:{spec})$")

    # null keys pass through the key filters untouched (ES semantics)
    if include is not None:
        df = df.where(F.col(field).isNull() | _key_match(include))
    if exclude is not None:
        df = df.where(F.col(field).isNull() | ~_key_match(exclude))
    out = df.groupBy(field).agg(F.count(F.lit(1)).alias("doc_count"))
    if min_doc_count > 1:
        # ES terms min_doc_count: buckets under the floor drop (a HAVING
        # filter after the agg — map-side combine already happened)
        out = out.where(F.col("doc_count") >= min_doc_count)
    elif min_doc_count == 0:
        spark_ = df.sparkSession
        grid = local_frame(
            spark_, [(v,) for v in include], f"{field} string"
        )
        out = grid.join(out, field, "left").select(
            field, F.coalesce("doc_count", F.lit(0)).alias("doc_count")
        )
    return (
        out
        .orderBy(F.desc("doc_count"), F.asc(field))
        .limit(k)
    )


def terms_salted(
    df: DataFrame,
    field: str,
    k: int = 10,
    *,
    salt: int = 16,
    skip_nulls: bool = True,
) -> DataFrame:
    """``terms`` with explicit two-phase salting for skewed keys.

    A hot key (one term holding a large fraction of all rows) funnels its
    entire partial-agg output through ONE reducer in the plain
    ``groupBy(field)``. Salting splits each key into ``salt`` sub-keys —
    phase 1 aggregates (field, salt) so no reducer sees more than ~1/salt of
    a hot key, phase 2 sums the tiny per-salt partials. Same result, same
    top-k order; use when AQE's skew handling isn't available (it only
    splits JOIN partitions, not aggregation reducers).

    For plain counts Spark's map-side combine already bounds reducer input
    by distinct-key count, so this matters for high-cardinality-payload
    aggs (collect_list/count_distinct per group) and extreme row counts.
    """
    if skip_nulls:
        df = df.where(F.col(field).isNotNull())
    partial = (
        df.withColumn("_salt", (F.rand(seed=42) * salt).cast("int"))
        .groupBy(field, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return (
        partial.groupBy(field)
        .agg(F.sum("_partial").alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc(field))
        .limit(k)
    )


def terms_multi(df: DataFrame, fields: list[str], k: int = 20) -> DataFrame:
    """Multi-field terms table (viz 4 'DatasetTable': city x notebookhtml)."""
    cond = None
    for f_ in fields:
        c = F.col(f_).isNotNull()
        cond = c if cond is None else (cond & c)
    return (
        df.where(cond)
        .groupBy(*fields)
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), *[F.asc(f_) for f_ in fields])
        .limit(k)
    )


def nested_terms(
    df: DataFrame,
    outer: str,
    inner: str,
    outer_k: int = 10,
    inner_k: int = 24,
) -> DataFrame:
    """Two-level terms agg (viz 3: dayofweek -> hour), ES semantics:
    top ``outer_k`` outer buckets by their TOTAL count, then within each the
    top ``inner_k`` inner buckets.

    Single shuffle of the base table on (outer, inner) — the pair-count
    frame persists across its two consumers, so the base is SCANNED
    ONCE. Outer totals are a second partial agg over the pair counts
    (cheap: |pairs| rows, not |df|), and the outer top-k is a
    TakeOrderedAndProject (``orderBy().limit()``) over that
    outer-totals frame — distributed per-partition top-k + driver merge
    of outer_k rows, NEVER an unpartitioned window, so a
    high-cardinality outer field cannot funnel the pair frame through
    one task. The outer_k winners broadcast back onto the pair counts
    (semi-filter + outer_count attach in one join); the only window
    left is the inner ranking, partitioned by outer. Tie order pinned
    (count DESC, key ASC) at both levels.
    """
    from harmonize_search_analyze_spark.functions.caching import tether

    pair = (
        df.where(F.col(outer).isNotNull() & F.col(inner).isNotNull())
        .groupBy(outer, inner)
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .persist()
    )
    top_outer = (
        pair.groupBy(outer)
        .agg(F.sum("doc_count").alias("outer_count"))
        .orderBy(F.desc("outer_count"), F.asc(outer))
        .limit(outer_k)
    )
    w_inner = Window.partitionBy(outer).orderBy(F.desc("doc_count"), F.asc(inner))
    out = (
        pair.join(F.broadcast(top_outer), outer)
        .withColumn("inner_rank", F.row_number().over(w_inner))
        .where(F.col("inner_rank") <= inner_k)
        .select(outer, inner, "doc_count", "outer_count")
        .orderBy(F.desc("outer_count"), F.asc(outer), F.desc("doc_count"), F.asc(inner))
    )
    return tether(out, pair)


def histogram(
    df: DataFrame,
    field: str,
    interval: float,
    *,
    min_doc_count: int = 1,
) -> DataFrame:
    """Numeric histogram (ES/Kibana ``histogram`` agg): fixed-width bins
    keyed by ``floor(value / interval) * interval``.

    ``min_doc_count`` follows ES exactly: the default 1 omits empty bins;
    0 EMITS them — every bin between the data's min and max key appears
    with doc_count 0 (the Kibana chart contract: gaps render as zeros,
    not as missing x-positions). Gap filling is a sequence-explode of the
    [min, max] bin range (one extra 1-row agg + a generate — bounded by
    range/interval, never by row count) left-joined against the counts.

    Everything is keyed on the integer bin index ``floor(value /
    interval)`` (BIGINT) — grid and counts alike — and multiplied by
    ``interval`` only for display.  Joining on ``floor(v/i)*i`` doubles
    would let floating-point representation differences (e.g. i=0.1)
    silently drop a non-empty bin from the gap-filled grid; integer keys
    cannot drift, and ``floor`` (not cast-truncation) keeps negative
    values in the right bin.
    """
    idx = F.floor(F.col(field) / F.lit(interval))  # BIGINT, exact join key
    out = (
        df.where(F.col(field).isNotNull())
        .groupBy(idx.alias("__idx"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
    )
    if min_doc_count > 1:
        out = out.where(F.col("doc_count") >= min_doc_count)
    elif min_doc_count == 0:
        bounds = out.agg(
            F.min("__idx").alias("lo"), F.max("__idx").alias("hi")
        )
        grid = bounds.select(
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("__idx")
        )
        out = grid.join(out, "__idx", "left").select(
            "__idx", F.coalesce("doc_count", F.lit(0)).alias("doc_count")
        )
    return out.select(
        (F.col("__idx") * F.lit(interval)).cast("double").alias("bin"),
        "doc_count",
    ).orderBy("bin")


def date_histogram(
    df: DataFrame,
    ts_field: str,
    interval: str = "1 hour",
    *,
    min_doc_count: int = 1,
) -> DataFrame:
    """Date histogram (ES/Kibana ``date_histogram`` agg): calendar-ish
    fixed-interval time buckets via ``window`` — the batch twin of the
    streaming ``windowed_counts`` (streaming/windows.py).

    ``min_doc_count=0`` emits EMPTY buckets across the data's [min, max]
    time range (the ES/Kibana gap contract — a quiet hour renders as 0).
    The bucket grid is a sequence-explode between the min and max bucket
    (bounded by time span / interval) left-joined against the counts; the
    interval must be a fixed duration for the grid arithmetic."""
    out = (
        df.where(F.col(ts_field).isNotNull())
        .groupBy(F.window(ts_field, interval).alias("w"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .select(F.col("w.start").alias("bucket"), "doc_count")
    )
    if min_doc_count == 0:
        bounds = out.agg(
            F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
        )
        grid = bounds.select(
            F.explode(
                F.sequence(
                    F.col("lo"), F.col("hi"),
                    F.expr(f"INTERVAL {interval}"),
                )
            ).alias("bucket")
        )
        out = grid.join(out, "bucket", "left").select(
            "bucket", F.coalesce("doc_count", F.lit(0)).alias("doc_count")
        )
    return out.orderBy("bucket")


# ES auto_date_histogram interval ladder (public ES docs): label, seconds,
# and how the bucket is produced. Sub-month intervals are fixed-duration
# (epoch-aligned floor); month+ are calendar truncations. The *selection*
# uses fixed-second approximations for calendar units (1M=30d, 1y=365d) —
# bucketing itself is true calendar.
AUTO_DH_LADDER: list[tuple[str, int, str]] = [
    ("1s", 1, "fixed"), ("5s", 5, "fixed"), ("10s", 10, "fixed"),
    ("30s", 30, "fixed"),
    ("1m", 60, "fixed"), ("5m", 300, "fixed"), ("10m", 600, "fixed"),
    ("30m", 1800, "fixed"),
    ("1h", 3600, "fixed"), ("3h", 10800, "fixed"), ("12h", 43200, "fixed"),
    ("1d", 86400, "fixed"), ("7d", 604800, "fixed"),
    ("1M", 2592000, "month"), ("3M", 7776000, "quarter"),
    ("1y", 31536000, "year1"), ("5y", 157680000, "year5"),
    ("10y", 315360000, "year10"), ("20y", 630720000, "year20"),
    ("50y", 1576800000, "year50"), ("100y", 3153600000, "year100"),
]


def auto_date_histogram_sql(
    table: str, ts_col: str, target_buckets: int, dialect: str
) -> str:
    """ES ``auto_date_histogram``: pick the smallest ladder interval that
    yields at most ``target_buckets`` buckets over the data's actual time
    span, then bucket by it — all inside the plan (the bounds agg is a
    1-row frame cross-joined in; no driver round-trip), so the same SQL is
    the DuckDB oracle.

    Selection rule: smallest interval ``i`` with ``span <= i*(target-1)``
    (i.e. floor(span/i)+1 <= target for epoch-aligned buckets); falls back
    to the ladder max. Fixed intervals bucket by epoch-floor; 1M/3M by
    calendar truncation; N-year by flooring the year to a 1970-anchored
    multiple of N."""
    if target_buckets < 2:
        raise ValueError("target_buckets must be >= 2")
    if dialect == "spark":
        # keep every branch TIMESTAMP_LTZ (events load as NTZ; session tz
        # is UTC so the cast is value-identity)
        src_ts = f"CAST({ts_col} AS TIMESTAMP_LTZ)"
        src_epoch = f"CAST(CAST({ts_col} AS TIMESTAMP_LTZ) AS DOUBLE)"
        fixed_bucket = "timestamp_seconds(FLOOR(e / isec) * isec)"
    else:
        src_ts = ts_col
        src_epoch = f"epoch({ts_col})"
        fixed_bucket = (
            "make_timestamp(CAST(FLOOR(e / isec) * isec * 1000000 AS BIGINT))"
        )

    sel_cases = " ".join(
        f"WHEN mx - mn <= {secs}.0 * {target_buckets - 1} THEN {secs}"
        for _, secs, _ in AUTO_DH_LADDER
    )
    label_cases = " ".join(
        f"WHEN isec = {secs} THEN '{label}'"
        for label, secs, _ in AUTO_DH_LADDER
    )

    def year_bucket(n: int) -> str:
        yr = f"1970 + CAST(FLOOR((YEAR(t) - 1970) / {n}.0) AS INT) * {n}"
        return f"make_timestamp({yr}, 1, 1, 0, 0, 0)"

    kind_cases = []
    for label, secs, kind in AUTO_DH_LADDER:
        if kind == "fixed":
            continue
        if kind == "month":
            b = "date_trunc('month', t)"
        elif kind == "quarter":
            b = "date_trunc('quarter', t)"
        else:
            b = year_bucket(int(kind.removeprefix("year")))
        kind_cases.append(f"WHEN isec = {secs} THEN {b}")
    bucket = f"CASE {' '.join(kind_cases)} ELSE {fixed_bucket} END"
    last = AUTO_DH_LADDER[-1][1]
    return f"""
WITH src AS (
  SELECT {src_ts} AS t, {src_epoch} AS e
  FROM {table} WHERE {ts_col} IS NOT NULL
), bounds AS (
  SELECT MIN(e) AS mn, MAX(e) AS mx FROM src
), sel AS (
  SELECT CASE {sel_cases} ELSE {last} END AS isec FROM bounds
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS doc_count, interval_label
FROM (
  SELECT {bucket} AS bucket,
         CASE {label_cases} END AS interval_label
  FROM src CROSS JOIN sel
) g
GROUP BY bucket, interval_label ORDER BY bucket
"""


def auto_date_histogram(
    df: DataFrame, ts_field: str, target_buckets: int = 10
) -> DataFrame:
    """ES ``auto_date_histogram`` over a DataFrame (see
    auto_date_histogram_sql): returns (bucket, doc_count, interval_label)
    with the interval chosen from the data's span — one bounds agg
    (broadcast 1-row cross join) + one hash agg; scan count, not data size,
    is the cost at any scale."""
    import uuid as _uuid

    view = f"__auto_dh_{_uuid.uuid4().hex}"
    df.createOrReplaceTempView(view)
    out = df.sparkSession.sql(
        auto_date_histogram_sql(view, ts_field, target_buckets, "spark")
    )
    df.sparkSession.catalog.dropTempView(view)
    return out


def extended_stats(
    df: DataFrame,
    field: str,
    by: str | None = None,
    *,
    round_scale: int = 6,
) -> DataFrame:
    """ES ``extended_stats`` metric agg: count, min, max, sum, avg,
    population variance and std-deviation of a numeric field, optionally
    per bucket. One partial+final hash aggregation pass.

    Cross-engine determinism: avg/variance/stddev are rounded (summation
    order differs between engines/partitions). ``sum_of_squares`` (the one
    remaining ES field) is deliberately omitted from the default output —
    its magnitude is ~field^2 * count, far beyond where a fixed decimal
    rounding can absorb float summation drift; callers that need it can add
    ``F.sum(F.col(field) ** 2)`` knowingly.
    """
    aggs = [
        F.count(F.col(field)).alias("count"),
        F.min(field).alias("min"),
        F.max(field).alias("max"),
        F.round(F.sum(field), round_scale).alias("sum"),
        F.round(F.avg(field), round_scale).alias("avg"),
        F.round(F.var_pop(field), round_scale).alias("variance"),
        F.round(F.stddev_pop(field), round_scale).alias("std_deviation"),
    ]
    df = df.where(F.col(field).isNotNull())
    if by is None:
        return df.agg(*aggs)
    return df.groupBy(by).agg(*aggs).orderBy(by)


def percentiles(
    df: DataFrame,
    field: str,
    percents: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    by: str | None = None,
) -> DataFrame:
    """ES ``percentiles`` metric agg, exact (not TDigest): linearly
    interpolated quantiles via Spark's ``percentile`` — same definition as
    ANSI ``percentile_cont`` / DuckDB ``quantile_cont``, so it is
    oracle-comparable. Exactness is the ES-strictly-better trade we make
    everywhere (SURVEY.md §4); the scale path for a true sketch is
    ``approx_percentile`` (one pass, bounded state, no global sort).
    """
    aggs = [
        F.round(F.expr(f"percentile({field}, {p})"), 6).alias(
            f"p{str(p).replace('0.', '').ljust(2, '0')}"
        )
        for p in percents
    ]
    df = df.where(F.col(field).isNotNull())
    if by is None:
        return df.agg(*aggs)
    return df.groupBy(by).agg(*aggs).orderBy(by)


def top_hits(
    df: DataFrame,
    by: str,
    sort_field: str,
    id_field: str,
    k: int = 3,
    payload: list[str] | None = None,
) -> DataFrame:
    """ES ``top_hits`` sub-agg: the top-k documents inside each bucket by
    ``sort_field`` DESC, ties broken by ``id_field`` ASC (pinned total order,
    same discipline as terms). Bounded per-group window — Spark's
    ``row_number`` over a partitioned window keeps only k rows per group
    after the filter, and the window shuffle is the only exchange.
    """
    w = Window.partitionBy(by).orderBy(F.desc(sort_field), F.asc(id_field))
    cols = [by, F.col("hit_rank"), id_field, sort_field] + list(payload or [])
    return (
        df.where(F.col(sort_field).isNotNull())
        .withColumn("hit_rank", F.row_number().over(w))
        .where(F.col("hit_rank") <= k)
        .select(*cols)
        .orderBy(by, "hit_rank")
    )


def cardinality(
    df: DataFrame,
    by: str,
    of: str,
    *,
    exact: bool = True,
    rsd: float = 0.05,
) -> DataFrame:
    """ES ``cardinality`` agg: distinct count of ``of`` per ``by`` bucket.

    ``exact=True`` (default, oracle-comparable) is a single COUNT(DISTINCT)
    — fine alone, but never mix it with regular aggs in one ``.agg()`` (the
    Expand-plan cliff, PERFORMANCE.md). ``exact=False`` is the 100 TB path:
    HyperLogLog++ ``approx_count_distinct`` — one pass, fixed-size sketch
    state, no distinct-value exchange (ES cardinality is HLL too).
    """
    f = (
        F.count_distinct(F.col(of))
        if exact
        else F.approx_count_distinct(of, rsd)
    )
    return (
        df.where(F.col(of).isNotNull())
        .groupBy(by)
        .agg(f.alias("cardinality"))
        .orderBy(by)
    )


def rare_terms(
    df: DataFrame,
    field: str,
    max_doc_count: int = 1,
    k: int | None = None,
) -> DataFrame:
    """ES ``rare_terms`` agg: the long tail — terms appearing at most
    ``max_doc_count`` times, ordered rarest-first (count ASC, key ASC
    pinned). ES approximates with a CuckooFilter; exact counts are strictly
    better and the same single hash agg as ``terms``."""
    out = (
        df.where(F.col(field).isNotNull())
        .groupBy(field)
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .where(F.col("doc_count") <= max_doc_count)
        .orderBy(F.asc("doc_count"), F.asc(field))
    )
    return out.limit(k) if k is not None else out


def adjacency_matrix(df: DataFrame, filters: dict[str, Column]) -> DataFrame:
    """ES ``adjacency_matrix`` agg: doc counts for every named filter and
    every pairwise intersection (key "a&b", ES's separator), all in ONE
    conditional-count pass — N + N*(N-1)/2 counters, one scan, no joins.
    Empty buckets are omitted (ES behavior)."""
    names = list(filters)
    buckets: list[tuple[str, Column]] = [(n, filters[n]) for n in names]
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            buckets.append((f"{a}&{b}", filters[a] & filters[b]))
    return _conditional_buckets(df, buckets, "key").where(
        F.col("doc_count") > 0
    )


def weighted_avg(
    df: DataFrame,
    value: str,
    weight: str,
    by: str | None = None,
) -> DataFrame:
    """ES ``weighted_avg`` metric agg: sum(v*w)/sum(w), docs missing either
    side skipped (ES default). Single partial+final hash agg pass.
    try_divide: an all-zero weight set makes the denominator 0 and raw
    division raises under ANSI; the average is undefined there — NULL
    (DuckDB's /0 agrees, so the oracle stays in lockstep)."""
    ok = F.col(value).isNotNull() & F.col(weight).isNotNull()
    wa = F.round(
        F.try_divide(
            F.sum(F.when(ok, F.col(value) * F.col(weight))),
            F.sum(F.when(ok, F.col(weight))),
        ),
        6,
    ).alias("weighted_avg")
    if by is None:
        return df.agg(wa)
    return df.groupBy(by).agg(wa).orderBy(by)


def median_absolute_deviation(
    df: DataFrame,
    field: str,
    by: str | None = None,
) -> DataFrame:
    """ES ``median_absolute_deviation`` metric agg, exact (ES uses TDigest):
    median(|x - median(x)|). Two passes by necessity — the inner median must
    finish before deviations exist. Grouped form: per-group medians come
    back as a tiny frame and broadcast-join onto the rows (group count <<
    row count), so the second pass is scan + broadcast + one agg; the
    sketch path at extreme scale is ``approx_percentile`` for both medians.
    """
    df = df.where(F.col(field).isNotNull())
    med_expr = F.expr(f"percentile({field}, 0.5)").alias("__med")
    if by is None:
        med = df.agg(med_expr)
        joined = df.crossJoin(F.broadcast(med))
        return joined.agg(
            F.round(
                F.expr(
                    f"percentile(abs({field} - __med), 0.5)"
                ),
                6,
            ).alias("mad")
        )
    med = df.groupBy(by).agg(med_expr)
    joined = df.join(F.broadcast(med), on=by)
    return (
        joined.groupBy(by)
        .agg(
            F.round(
                F.expr(f"percentile(abs({field} - __med), 0.5)"), 6
            ).alias("mad")
        )
        .orderBy(by)
    )


def significant_terms(
    df: DataFrame,
    field: str,
    foreground: Column,
    k: int = 10,
    *,
    heuristic: str = "jlh",
    background_filter: Column | None = None,
) -> DataFrame:
    """ES ``significant_terms`` agg: terms over-represented in the
    ``foreground`` subset relative to the whole frame (background,
    treated as the superset — ES's ``background_is_superset`` default).

    Significance ``heuristic`` (the published ES options this engine
    models — all pure arithmetic over the same four counts):

    - ``jlh`` (ES default): ``(fg_rate - bg_rate) * (fg_rate/bg_rate)``;
    - ``chi_square``: the signed 2x2 chi-squared statistic over the
      superset-adjusted contingency table (Lucene's ChiSquare with
      include_negatives — a term RARER in the foreground scores
      negative);
    - ``percentage``: ``fg_count / bg_count`` (the docs' simple ratio);
    - ``mutual_information``: the 2x2 pointwise-MI sum in bits over the
      superset-adjusted table (zero cells contribute 0 — the x*log(x)
      limit), negated for terms RARER in the foreground
      (include_negatives, same division-free sign test as chi_square);
    - ``gnd``: Google Normalized Distance between the term and the
      foreground class (NGD over doc frequencies); scored as ``-NGD``
      so higher = more associated, matching the other heuristics'
      ordering (documented transform — Lucene's GND heuristic family).

    Terms absent from the foreground are dropped (ES emits no bucket for
    them). One hash agg computes fg+bg counts per term (conditional
    count, no second scan); the two totals ride along as a 1-row cross
    join (broadcast, no shuffle). Every quotient shape is identical on
    both engines, so the 6-decimal rounding never sits on an
    engine-dependent tie.

    ``background_filter`` (ES param of the same name) narrows the
    background to its matching subset instead of the whole frame; rows
    matching neither it nor the foreground leave the scan entirely (the
    filter is sargable and pushes down).
    """
    if heuristic not in ("jlh", "chi_square", "percentage",
                     "mutual_information", "gnd"):
        raise ValueError(f"unsupported heuristic: {heuristic!r}")
    # ES background_filter: significance is computed against a NARROWED
    # background set instead of the whole index ("commonly appearing in
    # reviews" vs "commonly appearing anywhere"). Rows in neither the
    # background nor the foreground are pre-filtered out of the scan.
    bg = F.lit(True) if background_filter is None else background_filter
    base = df.where(F.col(field).isNotNull())
    if background_filter is not None:
        base = base.where(bg | foreground)
    per_term = (
        base.groupBy(field)
        .agg(
            F.count(F.when(bg, F.lit(1))).alias("bg_count"),
            F.count(F.when(foreground, F.lit(1))).alias("fg_count"),
        )
    )
    totals = per_term.agg(
        F.sum("bg_count").alias("bg_total"),
        F.sum("fg_count").alias("fg_total"),
    )
    # try_divide: a zero total (empty foreground/background) must yield
    # NULL scores, not an ANSI DIVIDE_BY_ZERO
    fg_rate = F.try_divide(F.col("fg_count"), F.col("fg_total"))
    bg_rate = F.try_divide(F.col("bg_count"), F.col("bg_total"))
    if heuristic == "jlh":
        score = (fg_rate - bg_rate) * F.try_divide(fg_rate, bg_rate)
    elif heuristic == "percentage":
        score = F.try_divide(F.col("fg_count"), F.col("bg_count"))
    elif heuristic == "mutual_information":
        n11 = F.col("fg_count").cast("double")
        n01 = (F.col("bg_count") - F.col("fg_count")).cast("double")
        n10 = (F.col("fg_total") - F.col("fg_count")).cast("double")
        n00 = (
            F.col("bg_total") - F.col("bg_count")
            - (F.col("fg_total") - F.col("fg_count"))
        ).cast("double")
        n = F.col("bg_total").cast("double")
        rx1 = n11 + n10  # foreground row
        rx0 = n01 + n00
        cy1 = n11 + n01  # term column
        cy0 = n10 + n00

        def _mi_term(nxy, rx, cy):
            return F.when(nxy <= 0, F.lit(0.0)).otherwise(
                (nxy / n) * F.log((n * nxy) / (rx * cy))
            )

        mi = (
            _mi_term(n11, rx1, cy1) + _mi_term(n10, rx1, cy0)
            + _mi_term(n01, rx0, cy1) + _mi_term(n00, rx0, cy0)
        ) / F.log(F.lit(2.0))
        sign = F.when(
            n11 * (n01 + n00) < n01 * (n11 + n10), F.lit(-1.0)
        ).otherwise(F.lit(1.0))
        score = sign * mi
    elif heuristic == "gnd":
        # NGD(term, fg-class) over doc frequencies: fx = bg_count,
        # fy = fg_total, fxy = fg_count, N = bg_total; zero-fg terms are
        # already dropped below, so every log is finite
        fx = F.log(F.col("bg_count").cast("double"))
        fy = F.log(F.col("fg_total").cast("double"))
        fxy = F.log(F.col("fg_count").cast("double"))
        n = F.log(F.col("bg_total").cast("double"))
        score = -F.try_divide(
            F.greatest(fx, fy) - fxy, n - F.least(fx, fy)
        )
    else:  # chi_square, superset-adjusted contingency
        if background_filter is not None:
            # a foreground row outside the narrowed background makes
            # fg_count > bg_count and the 2x2 table's cells negative; ES
            # throws (subsetFreq > supersetFreq) — fail IN-PLAN rather
            # than emit a wrong-signed score (the interval_join pattern)
            guard = F.when(
                F.col("fg_count") > F.col("bg_count"),
                F.raise_error(F.lit(
                    "significant_terms chi_square: foreground is not a "
                    "subset of the filtered background — add the "
                    "background_filter to the foreground predicate or "
                    "use the jlh/percentage heuristics"
                )).cast("double"),
            )
        n11 = F.col("fg_count").cast("double")
        n01 = (F.col("bg_count") - F.col("fg_count")).cast("double")
        n10 = (F.col("fg_total") - F.col("fg_count")).cast("double")
        n00 = (
            F.col("bg_total") - F.col("bg_count")
            - (F.col("fg_total") - F.col("fg_count"))
        ).cast("double")
        n = F.col("bg_total").cast("double")
        num = n * (n11 * n00 - n01 * n10) * (n11 * n00 - n01 * n10)
        den = (n11 + n01) * (n11 + n10) * (n10 + n00) * (n01 + n00)
        # cross-multiplied rate comparison: division-free, so the sign is
        # exact on both engines even at degenerate zero marginals
        sign = F.when(
            n11 * (n01 + n00) < n01 * (n11 + n10), F.lit(-1.0)
        ).otherwise(F.lit(1.0))
        score = sign * F.try_divide(num, den)
        if background_filter is not None:
            score = guard.otherwise(score)
    return (
        per_term.crossJoin(F.broadcast(totals))
        .where(F.col("fg_count") > 0)
        .select(
            field,
            "fg_count",
            "bg_count",
            F.round(score, 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(field))
        .limit(k)
    )


def _conditional_buckets(
    df: DataFrame, buckets: list[tuple[str, Column]], key_name: str
) -> DataFrame:
    """One-pass conditional-count fan-out: every named bucket is a
    ``count(when(cond))`` in a single aggregation (one scan, one 1-row
    partial+final agg regardless of bucket count — buckets may overlap,
    matching ES semantics), then the 1-row result is exploded to
    (key, doc_count) rows. No shuffle beyond the scalar agg."""
    row = df.agg(
        *[
            F.count(F.when(cond, F.lit(1))).alias(f"__b{i}")
            for i, (_, cond) in enumerate(buckets)
        ]
    )
    return row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(key).alias(key_name),
                        F.col(f"__b{i}").alias("doc_count"),
                    )
                    for i, (key, _) in enumerate(buckets)
                ]
            )
        ).alias("r")
    ).select("r.*")


def range_agg(
    df: DataFrame,
    field: str,
    ranges: list[tuple[float | None, float | None]],
) -> DataFrame:
    """ES ``range`` bucket agg: half-open [from, to) buckets (ES contract:
    ``from`` inclusive, ``to`` exclusive; either side open), keyed
    "from-to" with "*" for an open side. Ranges may overlap — each is an
    independent conditional count in one pass (see ``_conditional_buckets``);
    null field values fall in no bucket (ES skips missing)."""
    buckets = []
    for lo, hi in ranges:
        cond = F.col(field).isNotNull()
        if lo is not None:
            cond = cond & (F.col(field) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(field) < F.lit(hi))
        key = f"{'*' if lo is None else lo}-{'*' if hi is None else hi}"
        buckets.append((key, cond))
    return _conditional_buckets(df, buckets, "range_key")


def filters_agg(df: DataFrame, filters: dict[str, Column]) -> DataFrame:
    """ES ``filters`` bucket agg: one named doc-count bucket per predicate,
    all evaluated in a single scan (the dashboard trick for N KPI tiles
    without N queries)."""
    return _conditional_buckets(df, list(filters.items()), "filter_key")


def missing_agg(df: DataFrame, field: str) -> DataFrame:
    """ES ``missing`` agg: count of docs with no value for ``field``."""
    return df.agg(
        F.count(F.when(F.col(field).isNull(), F.lit(1))).alias("doc_count")
    )


_GLOBAL_AGG_FNS = {
    "count": F.count,
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
}


def global_agg(
    df: DataFrame,
    query: Column,
    metrics: dict[str, tuple[str, str]],
) -> DataFrame:
    """ES ``global`` aggregation: inside a filtered search, a ``global``
    sub-agg escapes the query and aggregates over the WHOLE index — the
    "this slice vs. everything" comparison (e.g. category avg price next
    to the corpus-wide avg price).

    ``metrics`` maps output column name -> (fn, field) with fn in
    ``count|sum|avg|min|max``.  Returns two rows keyed by ``scope``:
    ``'query'`` (documents matching ``query``) and ``'global'`` (all
    documents), one column per metric.

    Scale note (100 TB): ES evaluates this as two aggregation contexts
    over one index scan; the naive relational translation is two scans
    (filtered + unfiltered) unioned.  This is ONE scan — the query-scoped
    value of every metric is a conditional aggregate
    (``fn(CASE WHEN query THEN field END)``) computed next to its
    unconditional twin in the same partial+final hash agg, then the 1-row
    result is exploded to the two scope rows.  No second exchange, no
    second scan; the predicate never gates the scan so nothing is read
    twice.
    """
    if not metrics:
        raise ValueError("global_agg needs at least one metric")
    aggs = []
    for name, (fn, field) in metrics.items():
        try:
            f = _GLOBAL_AGG_FNS[fn]
        except KeyError:
            raise ValueError(
                f"unsupported global_agg fn {fn!r}; "
                f"expected one of {sorted(_GLOBAL_AGG_FNS)}"
            ) from None
        col = F.lit(1) if fn == "count" and field == "*" else F.col(field)
        aggs.append(f(F.when(query, col)).alias(f"__q_{name}"))
        aggs.append(f(col).alias(f"__g_{name}"))
    row = df.agg(*aggs)
    return row.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("query").alias("scope"),
                    *[F.col(f"__q_{n}").alias(n) for n in metrics],
                ),
                F.struct(
                    F.lit("global").alias("scope"),
                    *[F.col(f"__g_{n}").alias(n) for n in metrics],
                ),
            )
        ).alias("r")
    ).select("r.*")


def date_range_agg(
    df: DataFrame,
    ts_field: str,
    ranges: list[tuple[object, object]],
    *,
    now: "_dt.datetime | None" = None,
) -> DataFrame:
    """ES ``date_range`` bucket agg: half-open [from, to) buckets on a
    timestamp field, bounds given as datetimes OR ES date-math strings
    (``"now-1y"``, ``"now/d"`` — the Kibana time-picker grammar, resolved
    against a caller-pinned ``now`` for determinism). Either side may be
    None (open). Unlike range *queries*, ES date_range does NOT round the
    upper bound up — ``to`` is the exact rounded-down instant, exclusive.
    Same one-pass conditional-count plan as ``range_agg``."""
    buckets = []
    for lo, hi in ranges:
        key = f"{'*' if lo is None else lo}-{'*' if hi is None else hi}"
        cond = F.col(ts_field).isNotNull()
        for bound, op in ((lo, "__ge__"), (hi, "__lt__")):
            if bound is None:
                continue
            if is_date_math(bound):
                bound = parse_date_math(bound, now=now)
            lit = F.lit(bound).cast("timestamp")
            cond = cond & getattr(F.col(ts_field), op)(lit)
        buckets.append((key, cond))
    return _conditional_buckets(df, buckets, "range_key")


def top_metrics(
    df: DataFrame,
    group_field: str,
    sort_field: str,
    metrics: list[str],
    *,
    size: int = 1,
    ascending: bool = False,
    tiebreak: str | None = None,
) -> DataFrame:
    """ES ``top_metrics`` agg (grouped): per bucket, the metric columns
    from the ``size`` documents with the largest (or smallest) sort value.
    ES leaves ties unspecified; we pin them on ``tiebreak`` (defaults to
    the first metric) so results are reproducible and oracle-matchable.
    One shuffle on the group key; rank + filter, no global sort."""
    sort_cols = [
        F.asc(sort_field) if ascending else F.desc(sort_field),
        *([F.asc(tiebreak or metrics[0])]),
    ]
    w = Window.partitionBy(group_field).orderBy(*sort_cols)
    return (
        df.select(group_field, sort_field, *metrics)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= size)
        .select(group_field, "rank", sort_field, *metrics)
    )


def rate_agg(
    df: DataFrame,
    ts_field: str,
    *,
    interval: str = "day",
    unit_seconds: int = 3600,
    value_col: str | None = None,
) -> DataFrame:
    """ES ``rate`` agg inside a date_histogram: per-bucket doc count (or
    sum of ``value_col``) rescaled to "per ``unit_seconds``" — e.g. daily
    buckets reported as hourly rates (unit_seconds=3600). The bucket width
    uses the calendar truncation's nominal seconds (ES calendar intervals:
    day=86400, hour=3600, minute=60); rate = raw / (bucket_seconds /
    unit_seconds), rounded once at the end."""
    nominal = {"day": 86400, "hour": 3600, "minute": 60}
    if interval not in nominal:
        raise ValueError(f"interval must be one of {sorted(nominal)}")
    scale = nominal[interval] / float(unit_seconds)
    raw = (
        F.count(F.lit(1)) if value_col is None
        else F.sum(F.col(value_col))
    )
    return (
        df.groupBy(F.date_trunc(interval, F.col(ts_field)).alias("bucket"))
        .agg(F.round(raw / F.lit(scale), 6).alias("rate"))
        .orderBy("bucket")
    )


def bucket_pipeline(
    buckets: DataFrame,
    bucket_col: str,
    value_col: str = "doc_count",
    *,
    moving_window: int = 7,
    shift: int = 1,
) -> DataFrame:
    """ES pipeline aggs over an already-bucketed frame (the output of
    ``date_histogram``/``histogram``): ``cumulative_sum``, ``derivative``
    (delta vs previous bucket; NULL for the first, per ES), and a
    ``moving_fn`` average over ``moving_window`` buckets.

    ``shift`` positions the moving window per ES ``moving_fn`` semantics:
    the window covers buckets ``[i - moving_window + shift, i - 1 + shift]``.
    ES's default ``shift=0`` EXCLUDES the current bucket (trailing window of
    the previous n); ``shift=1`` includes it. This operator's historical
    (round-1) behavior was shift=1, kept as the default for compatibility —
    pass ``shift=0`` for exact ES-default parity. An empty window (first
    bucket at shift=0) yields NULL, matching ES's null gap policy.

    The window is unpartitioned by design: its input is bucket-level (rows
    bounded by the time range / interval, not by raw data volume), so the
    single-task sort is over e.g. thousands of rows even at 100 TB of
    underlying events. Never point this at raw rows."""
    w = Window.orderBy(bucket_col)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mov = w.rowsBetween(-moving_window + shift, -1 + shift)
    v = F.col(value_col)
    return buckets.select(
        bucket_col,
        value_col,
        F.sum(v).over(run).alias("cumulative_sum"),
        (v - F.lag(v, 1).over(w)).alias("derivative"),
        F.round(F.avg(v).over(mov), 6).alias("moving_avg"),
    ).orderBy(bucket_col)


_MOVING_FNS = {
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
    "unweightedAvg": F.avg,
    "avg": F.avg,
    "stdDev": F.stddev_pop,
}


def moving_fn(
    buckets: DataFrame,
    bucket_col: str,
    value_col: str = "doc_count",
    *,
    fn: str = "unweightedAvg",
    window: int = 7,
    shift: int = 0,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.1,
    period: int = 7,
) -> DataFrame:
    """ES ``moving_fn`` pipeline agg with the named MovingFunctions
    (min/max/sum/unweightedAvg/stdDev, plus the sequential
    ``linearWeightedAvg`` and ``ewma`` — both the ES-documented
    recursions: linear weights 1..n oldest-to-newest; ewma folds
    ``avg = v*alpha + avg*(1-alpha)`` seeded with the window's first
    value). The sequential family runs as a fold over the window's
    collected array — the window is ``window``-bounded by contract, so
    the array is tiny and the fold is codegen'd, not Python.

    ``holt`` (double-exponential / Holt linear smoothing) is modeled
    with the TEXTBOOK initialization — s1 = x0, b1 = x1 - x0, then
    s_t = alpha*x_t + (1-alpha)*(s + b), b_t = beta*(s_t - s) +
    (1-beta)*b — returning the one-step-ahead forecast ``s + b`` (a
    perfectly linear window forecasts its next point exactly). PINNED
    DEVIATION: ES's MovingFunctions.holt seeding is not re-derived
    here; this is the standard formulation, deterministic on both
    engines.

    ``holtWinters`` (triple-exponential, ADDITIVE seasonality of
    ``period`` m) uses the TEXTBOOK initialization over the first two
    seasons — level = mean(season 1), trend = (mean(season 2) -
    mean(season 1)) / m, seasonals = season-1 deviations from the
    level — then the standard additive recursion, returning the
    one-step forecast ``l + b + s_{t+1-m}``. Windows shorter than
    2 * period yield NULL (not enough data to seed). PINNED DEVIATION:
    additive only (ES's default is multiplicative with a ``pad``
    epsilon); ES's unpublished seeding is not re-derived. Every step is
    LINEAR in the observations, which is what lets the DuckDB oracle
    twin replay it as closed-form dot-product weights derived by
    folding unit vectors (see ``__spark_entry__.holtwinters_weights``).

    ``shift`` follows ES exactly: the window covers buckets
    ``[i - window + shift, i - 1 + shift]`` — the default shift=0
    EXCLUDES the current bucket; an empty window yields NULL (ES's gap
    policy). stdDev is the population deviation, per MovingFunctions.

    Bucket-level window: same single-task sort contract as
    bucket_pipeline (input is bucket-sized, never raw rows)."""
    seq_fns = ("linearWeightedAvg", "ewma", "holt", "holtWinters")
    if fn not in _MOVING_FNS and fn not in seq_fns:
        raise ValueError(
            f"unknown moving_fn {fn!r}; one of "
            f"{sorted([*_MOVING_FNS, *seq_fns])}"
        )
    if window < 1:
        raise ValueError("window must be >= 1")
    w = Window.orderBy(bucket_col).rowsBetween(
        -window + shift, -1 + shift
    )
    v = F.col(value_col).cast("double")
    if fn == "linearWeightedAvg":
        arr = F.collect_list(v).over(w)
        expr = F.expr(
            "CASE WHEN size(__arr) = 0 THEN CAST(NULL AS DOUBLE) ELSE "
            "aggregate(zip_with(__arr, sequence(1, size(__arr)),"
            " (x, i) -> x * i), CAST(0 AS DOUBLE), (a, x) -> a + x)"
            " / (CAST(size(__arr) AS DOUBLE) * (size(__arr) + 1) / 2)"
            " END"
        )
        out = buckets.select(
            bucket_col, value_col, arr.alias("__arr")
        ).select(
            bucket_col, value_col,
            F.round(expr, 6).alias("moving_fn"),
        )
        return out.orderBy(bucket_col)
    if fn == "holt":
        arr = F.collect_list(v).over(w)
        # struct-accumulator fold: (s, b, n); the n=1 branch performs
        # the textbook seeding (s=x1, b=x1-x0 — applying the recursion
        # to x1 under s=x0, b=x1-x0 is the identity, so seeding at the
        # second element is exact), later steps run the Holt recursion
        sp = (
            f"(x * CAST({alpha!r} AS DOUBLE)"
            f" + (acc.s + acc.b) * CAST({1.0 - alpha!r} AS DOUBLE))"
        )
        expr = F.expr(
            "CASE WHEN size(__arr) = 0 THEN CAST(NULL AS DOUBLE) ELSE "
            "aggregate(slice(__arr, 2, size(__arr) - 1),"
            " named_struct('s', CAST(__arr[0] AS DOUBLE),"
            "              'b', CAST(0.0 AS DOUBLE), 'n', 1),"
            " (acc, x) -> IF(acc.n = 1,"
            "   named_struct('s', CAST(x AS DOUBLE),"
            "                'b', CAST(x AS DOUBLE) - acc.s, 'n', 2),"
            f"  named_struct('s', {sp},"
            f"               'b', ({sp} - acc.s) * CAST({beta!r} AS DOUBLE)"
            f"                    + acc.b * CAST({1.0 - beta!r} AS DOUBLE),"
            "                'n', acc.n + 1)),"
            " acc -> acc.s + acc.b) END"
        )
        out = buckets.select(
            bucket_col, value_col, arr.alias("__arr")
        ).select(
            bucket_col, value_col,
            F.round(expr, 6).alias("moving_fn"),
        )
        return out.orderBy(bucket_col)
    if fn == "holtWinters":
        if period < 2:
            raise ValueError("period must be >= 2")
        if window < 2 * period:
            raise ValueError(
                f"holtWinters needs window >= 2 * period "
                f"({window} < {2 * period}) — two full seasons seed the "
                "level/trend/seasonal state"
            )
        m = period
        arr = F.collect_list(v).over(w)
        l0 = (
            f"(aggregate(slice(__arr, 1, {m}), CAST(0.0 AS DOUBLE),"
            f" (a, x) -> a + x) / {m})"
        )
        avg2 = (
            f"(aggregate(slice(__arr, {m + 1}, {m}), CAST(0.0 AS DOUBLE),"
            f" (a, x) -> a + x) / {m})"
        )
        # new level, expanded wherever it is read (the struct fields must
        # be pure functions of acc and x)
        lp = (
            f"(CAST({alpha!r} AS DOUBLE)"
            f" * (x - element_at(acc.c, pmod(acc.i, {m}) + 1))"
            f" + CAST({1.0 - alpha!r} AS DOUBLE) * (acc.l + acc.b))"
        )
        expr = F.expr(
            f"CASE WHEN size(__arr) < {2 * m} THEN CAST(NULL AS DOUBLE)"
            " ELSE aggregate("
            f"slice(__arr, {m + 1}, size(__arr) - {m}),"
            f" named_struct('l', {l0},"
            f"  'b', ({avg2} - {l0}) / {m},"
            f"  'c', transform(slice(__arr, 1, {m}), x -> x - {l0}),"
            f"  'i', {m}),"
            " (acc, x) -> named_struct("
            f"  'l', {lp},"
            f"  'b', CAST({beta!r} AS DOUBLE) * ({lp} - acc.l)"
            f"       + CAST({1.0 - beta!r} AS DOUBLE) * acc.b,"
            f"  'c', transform(acc.c, (sv, j) -> IF(j = pmod(acc.i, {m}),"
            f"       CAST({gamma!r} AS DOUBLE) * (x - {lp})"
            f"       + CAST({1.0 - gamma!r} AS DOUBLE) * sv, sv)),"
            "  'i', acc.i + 1),"
            f" acc -> acc.l + acc.b"
            f"        + element_at(acc.c, pmod(acc.i, {m}) + 1)) END"
        )
        out = buckets.select(
            bucket_col, value_col, arr.alias("__arr")
        ).select(
            bucket_col, value_col,
            F.round(expr, 6).alias("moving_fn"),
        )
        return out.orderBy(bucket_col)
    if fn == "ewma":
        arr = F.collect_list(v).over(w)
        expr = F.expr(
            "CASE WHEN size(__arr) = 0 THEN CAST(NULL AS DOUBLE) ELSE "
            "aggregate(slice(__arr, 2, size(__arr) - 1),"
            " __arr[0],"
            f" (acc, x) -> x * CAST({alpha!r} AS DOUBLE)"
            f" + acc * CAST({1.0 - alpha!r} AS DOUBLE)) END"
        )
        out = buckets.select(
            bucket_col, value_col, arr.alias("__arr")
        ).select(
            bucket_col, value_col,
            F.round(expr, 6).alias("moving_fn"),
        )
        return out.orderBy(bucket_col)
    return buckets.select(
        bucket_col,
        value_col,
        F.round(_MOVING_FNS[fn](v).over(w), 6).alias("moving_fn"),
    ).orderBy(bucket_col)


def serial_diff(
    buckets: DataFrame,
    bucket_col: str,
    value_col: str = "doc_count",
    *,
    lag: int = 1,
) -> DataFrame:
    """ES ``serial_diff`` pipeline agg: value minus the value ``lag``
    buckets earlier (lag=1 is the derivative; lag=7 on daily buckets is
    week-over-week seasonality removal). NULL for the first ``lag``
    buckets, per ES's gap policy. Bucket-level window — same single-task
    sort contract as bucket_pipeline."""
    if lag < 1:
        raise ValueError("lag must be >= 1")
    w = Window.orderBy(bucket_col)
    v = F.col(value_col)
    return buckets.select(
        bucket_col,
        value_col,
        (v - F.lag(v, lag).over(w)).alias("serial_diff"),
    ).orderBy(bucket_col)


def bucket_script(
    buckets: DataFrame, scripts: dict[str, str], *, round_to: int | None = 6
) -> DataFrame:
    """ES ``bucket_script`` pipeline agg: derive new per-bucket metrics
    from sibling metrics with an arithmetic script. The "script" here is a
    Spark SQL expression string over the bucket frame's metric columns
    (ES's painless ``params.a / params.b`` maps 1:1 onto column names) —
    evaluated in-plan by the engine, never a UDF.

    A projection over the already-aggregated bucket frame: zero additional
    exchanges at any scale, the bucket count is the row count. ``round_to``
    rounds each derived DOUBLE once at the end (cross-engine float
    discipline; pass None to skip).
    """
    out = buckets
    for name, script in scripts.items():
        col = F.expr(script)
        if round_to is not None:
            col = F.round(col.cast("double"), round_to)
        out = out.withColumn(name, col)
    return out


def bucket_selector(buckets: DataFrame, predicate: Column) -> DataFrame:
    """ES ``bucket_selector`` pipeline agg: keep only buckets whose row
    satisfies the script predicate (here: a Column over the bucket frame —
    e.g. ``F.col("doc_count") > 100``). A plain filter; named for the
    ES-surface mapping."""
    return buckets.where(predicate)


def bucket_sort(
    buckets: DataFrame,
    sort: list[Column],
    *,
    size: int | None = None,
    offset: int = 0,
) -> DataFrame:
    """ES ``bucket_sort`` pipeline agg: reorder buckets and truncate to a
    page (``from``/``size``). Paging uses row_number over the sort — the
    frame is bucket-level, so the single-task window is bounded by bucket
    count, not data volume."""
    if offset:
        w = Window.orderBy(*sort)
        return (
            buckets.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") > offset)
            .where(F.lit(True) if size is None else F.col("__rn") <= offset + size)
            .drop("__rn")
        )
    out = buckets.orderBy(*sort)
    return out.limit(size) if size is not None else out


def bucket_stats(
    buckets: DataFrame, value_col: str = "doc_count"
) -> DataFrame:
    """ES sibling pipeline aggs (``stats_bucket`` / ``avg_bucket`` /
    ``max_bucket`` / ``min_bucket`` / ``sum_bucket``) in one row over the
    bucket frame."""
    v = F.col(value_col)
    return buckets.agg(
        F.count(v).alias("bucket_count"),
        F.round(F.avg(v), 6).alias("avg_bucket"),
        F.min(v).alias("min_bucket"),
        F.max(v).alias("max_bucket"),
        F.sum(v).alias("sum_bucket"),
    )


def extended_stats_bucket(
    buckets: DataFrame, value_col: str = "doc_count", *, sigma: float = 2.0
) -> DataFrame:
    """ES ``extended_stats_bucket`` sibling pipeline agg: the
    extended-stats row (population variance/std, sum of squares, and the
    ±``sigma`` std-deviation bounds) over the bucket frame's metric —
    one reduce over an already-bucket-sized frame, no extra exchange
    beyond the single-row agg."""
    v = F.col(value_col).cast("double")
    avg = F.avg(v)
    std = F.stddev_pop(v)
    return buckets.agg(
        F.count(v).cast("bigint").alias("bucket_count"),
        F.min(v).alias("min_bucket"),
        F.max(v).alias("max_bucket"),
        F.round(F.sum(v), 6).alias("sum_bucket"),
        F.round(F.sum(v * v), 6).alias("sum_of_squares"),
        F.round(avg, 6).alias("avg_bucket"),
        F.round(F.var_pop(v), 6).alias("variance"),
        F.round(std, 6).alias("std_deviation"),
        F.round(avg + F.lit(float(sigma)) * std, 6).alias("upper_bound"),
        F.round(avg - F.lit(float(sigma)) * std, 6).alias("lower_bound"),
    )


def composite_agg(
    df: DataFrame,
    fields: list[str] | None = None,
    size: int = 100,
    after: dict | None = None,
    *,
    sources: list[tuple[str, dict | None]] | None = None,
) -> DataFrame:
    """ES ``composite`` agg: exhaustive multi-source buckets streamed in
    pages of ``size``, resumable from the ``after`` key (the last bucket of
    the previous page). Buckets are ordered by the natural (lexicographic)
    key order, so pagination = a tuple-inequality filter pushed *below* the
    top-k — each page costs one hash agg + TakeOrderedAndProject, never a
    full materialization of all buckets on the driver.

    Sources follow the ES value-source forms: ``fields`` is shorthand for
    raw ``terms`` sources; ``sources`` additionally accepts derived keys —
    ``(name, {"date_histogram": {"field": ts, "interval": "1 day"}})``
    (fixed-interval, epoch-aligned like date_histogram) and
    ``(name, {"histogram": {"field": v, "interval": w}})`` — computed
    in-plan, so the after-key inequality still rides below the agg on the
    derived columns."""
    if (fields is None) == (sources is None):
        raise ValueError("pass exactly one of fields / sources")
    if sources is None:
        sources = [(f, None) for f in fields]
    keyed = df
    names: list[str] = []
    for name, spec in sources:
        if spec is None:
            col = F.col(name)
        elif "date_histogram" in spec:
            cfg = spec["date_histogram"]
            col = F.window(F.col(cfg["field"]), cfg["interval"])["start"]
        elif "histogram" in spec:
            cfg = spec["histogram"]
            iv = float(cfg["interval"])
            col = (
                F.floor(F.col(cfg["field"]) / F.lit(iv)) * F.lit(iv)
            ).cast("double")
        else:
            raise ValueError(f"unknown composite source: {spec!r}")
        keyed = keyed.withColumn(name, col)
        names.append(name)
    out = (
        keyed.na.drop(subset=names)
        .groupBy(*names)
        .agg(F.count(F.lit(1)).alias("doc_count"))
    )
    if after:
        pred = F.lit(False)
        eq = F.lit(True)
        for f in names:
            if f in after:
                pred = pred | (eq & (F.col(f) > F.lit(after[f])))
                eq = eq & (F.col(f) == F.lit(after[f]))
        out = out.where(pred)
    return out.orderBy(*names).limit(size)


def haversine_sql(lat: str, lon: str, origin: tuple[float, float]) -> str:
    """Great-circle distance in meters from ``origin`` — engine-portable SQL
    (radians/sin/cos/asin/sqrt behave identically on Spark and DuckDB, and
    identical formula text on identical doubles yields identical results,
    so distance-ring bucket edges are cross-engine tie-safe)."""
    olat, olon = origin
    dlat = f"radians(({lat}) - ({olat}))"
    dlon = f"radians(({lon}) - ({olon}))"
    h = (
        f"(pow(sin({dlat} / 2), 2) + cos(radians({olat})) * "
        f"cos(radians({lat})) * pow(sin({dlon} / 2), 2))"
    )
    return f"(6371000.0 * 2.0 * asin(sqrt({h})))"


def geo_distance(
    df: DataFrame,
    lat: str,
    lon: str,
    origin: tuple[float, float],
    ranges: list[tuple[float | None, float | None]],
) -> DataFrame:
    """ES ``geo_distance`` agg: doc counts in distance rings around an
    origin point. The haversine is a codegen'd projection; the rings are
    one-pass conditional counts (``range_agg`` semantics: from inclusive,
    to exclusive, either side open)."""
    return range_agg(
        df.withColumn("__dist", F.expr(haversine_sql(lat, lon, origin))),
        "__dist",
        ranges,
    )


def geo_bounds(df: DataFrame, lat: str, lon: str) -> DataFrame:
    """ES ``geo_bounds``: the bounding box (top-left / bottom-right) of all
    points — four min/max aggregates in one pass."""
    ok = df.where(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    return ok.agg(
        F.max(lat).alias("top"),
        F.min(lon).alias("left"),
        F.min(lat).alias("bottom"),
        F.max(lon).alias("right"),
    )


def geo_centroid(df: DataFrame, lat: str, lon: str) -> DataFrame:
    """ES ``geo_centroid``: arithmetic mean point + contributing count (the
    planar centroid ES computes, fine at city scale; not a spherical mean).
    """
    ok = df.where(F.col(lat).isNotNull() & F.col(lon).isNotNull())
    return ok.agg(
        F.round(F.avg(lat), 6).alias("centroid_lat"),
        F.round(F.avg(lon), 6).alias("centroid_lon"),
        F.count(F.lit(1)).alias("doc_count"),
    )


def geohash_grid(
    df: DataFrame,
    lat: str,
    lon: str,
    precision: int = 2,
    k: int | None = None,
    zoom: int | None = None,
) -> DataFrame:
    """Geohash-grid bucket counts (viz 7 'IncidentMap', precision 2).

    ``zoom`` engages Kibana's autoPrecision behavior (the reference viz sets
    ``autoPrecision: true``): the map zoom level picks the precision via the
    Kibana 4.x zoomPrecision table, overriding ``precision``.

    The geohash is a pure column expression (functions/geohash.py), so this is
    scan -> codegen'd projection -> hash agg; at precision p there are at most
    32^p buckets, so the final aggregation state is tiny no matter the input.
    """
    if zoom is not None:
        precision = auto_precision(zoom)
    out = (
        df.where(F.col(lat).isNotNull() & F.col(lon).isNotNull())
        .select(geohash_encode(lat, lon, precision).alias("geohash"))
        .groupBy("geohash")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("geohash"))
    )
    return out.limit(k) if k is not None else out


def geotile_grid(
    df: DataFrame,
    lat: str,
    lon: str,
    zoom: int = 7,
    k: int | None = None,
) -> DataFrame:
    """ES ``geotile_grid``: slippy-map ``z/x/y`` tile bucket counts — the
    tile scheme Kibana's maps use after the geohash era.

    ``lat``/``lon`` are SQL expressions (column names or arithmetic), same
    contract as ``geohash_encode_sql``. The tile key is pure column math
    (functions/geohash.py::geotile_sql — LN/TAN/FLOOR, no UDF), so the plan
    is scan -> codegen'd projection -> hash agg with at most 4^z buckets of
    final state; identical shape to geohash_grid and equally scan-bound at
    100 TB.
    """
    key = geotile_sql(lat, lon, zoom)
    out = (
        df.where(F.expr(lat).isNotNull() & F.expr(lon).isNotNull())
        .select(F.expr(key).alias("tile"))
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("tile"))
    )
    return out.limit(k) if k is not None else out


def matrix_stats(df: DataFrame, fields: list[str]) -> DataFrame:
    """ES ``matrix_stats``: pairwise covariance/correlation over a set of
    numeric fields, one row per unordered pair (self-pairs carry the
    variance and correlation 1 — coalesced explicitly, since
    ``corr(a, a)`` returns NULL when stddev is 0, i.e. a constant field;
    cross-pairs involving a zero-variance field keep the NULL, which is
    the mathematically-undefined case).

    ES drops documents missing any of the fields; we mirror that with a
    single all-non-null filter. The whole matrix is ONE aggregation pass —
    ``k*(k+1)/2`` covar/corr aggregates computed map-side in the same hash
    agg — then the 1-row wide result is unpivoted with ``stack`` (constant
    fan-out, no extra scan or shuffle). Scale: state is O(k²) scalars,
    independent of row count.
    """
    if len(fields) < 2:
        raise ValueError("matrix_stats needs at least 2 fields")
    cond = None
    for f_ in fields:
        c = F.col(f_).isNotNull()
        cond = c if cond is None else (cond & c)
    ok = df.where(cond)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for f_ in fields:
        aggs.append(F.round(F.avg(f_), 6).alias(f"__mean_{f_}"))
    pairs = [
        (a, b) for i, a in enumerate(fields) for b in fields[i:]
    ]
    for a, b in pairs:
        aggs.append(F.round(F.covar_samp(a, b), 6).alias(f"__cov_{a}_{b}"))
        if a == b:
            # diagonal: corr(a, a) is undefined for a constant field
            # (stddev 0); the documented contract is 1 whenever rows
            # exist
            cor = F.when(F.count(F.lit(1)) > 0, F.lit(1.0))
        else:
            # not F.corr: under ANSI mode (Spark 4 default) corr THROWS
            # DIVIDE_BY_ZERO when either field has zero variance;
            # try_divide yields the mathematically-undefined NULL
            # instead (DuckDB CORR agrees)
            cor = F.round(
                F.try_divide(
                    F.covar_samp(a, b),
                    F.stddev_samp(a) * F.stddev_samp(b),
                ),
                6,
            )
        aggs.append(cor.alias(f"__cor_{a}_{b}"))
    wide = ok.agg(*aggs)
    stack_args = []
    for a, b in pairs:
        stack_args.append(f"'{a}', '{b}', `__mean_{a}`, `__mean_{b}`, "
                          f"`__cov_{a}_{b}`, `__cor_{a}_{b}`")
    stacked = wide.selectExpr(
        "__n AS count",
        f"stack({len(pairs)}, {', '.join(stack_args)}) AS "
        "(field_a, field_b, mean_a, mean_b, covariance, correlation)",
    )
    return stacked.select(
        "field_a", "field_b", "count", "mean_a", "mean_b",
        "covariance", "correlation",
    ).orderBy("field_a", "field_b")


def variable_width_histogram(
    df: DataFrame,
    field: str,
    buckets: int = 4,
) -> DataFrame:
    """ES ``variable_width_histogram``: adaptive buckets sized to the data
    distribution. ES's variant is a one-pass clustering approximation; this
    is the deterministic equal-frequency form — interior boundaries at the
    exact ``i/buckets`` quantiles, rows assigned by value comparison.

    Two scans, NO global sort (an ``ntile`` window would funnel every row
    through one task): pass 1 computes the boundary quantiles (single
    aggregate, linear-interpolation percentile — the documented
    ``approx_percentile`` swap is the 100 TB path), pass 2 assigns each row
    ``bucket = Σ (value > boundary_i)`` and hash-aggregates min/max/count.
    Boundaries are rounded to 6dp so the comparison is cross-engine
    tie-stable (same rounded doubles on Spark and the DuckDB oracle).
    """
    if buckets < 2:
        raise ValueError("variable_width_histogram needs >= 2 buckets")
    ok = df.where(F.col(field).isNotNull())
    probs = [i / buckets for i in range(1, buckets)]
    row = ok.agg(
        *[
            F.round(F.expr(f"percentile({field}, {p})"), 6).alias(f"b{i}")
            for i, p in enumerate(probs)
        ]
    ).collect()[0]  # metadata-sized: buckets-1 doubles
    bounds = [row[f"b{i}"] for i in range(len(probs))]
    bucket = None
    for b in bounds:
        t = F.when(F.col(field) > F.lit(b), 1).otherwise(0)
        bucket = t if bucket is None else (bucket + t)
    return (
        ok.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.min(field).alias("min"),
            F.max(field).alias("max"),
            F.count(F.lit(1)).alias("doc_count"),
        )
        .orderBy("bucket")
    )


def ip_to_long_sql(expr: str) -> str:
    """Dotted-quad IPv4 string -> BIGINT, engine-portable (split_part +
    arithmetic are identical on Spark and DuckDB)."""
    parts = [
        f"CAST(split_part({expr}, '.', {i}) AS BIGINT)" for i in (1, 2, 3, 4)
    ]
    return (
        f"({parts[0]} * 16777216 + {parts[1]} * 65536 + "
        f"{parts[2]} * 256 + {parts[3]})"
    )


def ip_range_agg(
    df: DataFrame,
    field: str,
    ranges: list[tuple[str | None, str | None]],
) -> DataFrame:
    """ES ``ip_range``: doc counts in [from, to) IPv4 ranges (either side
    open). Addresses are mapped to integers with a codegen'd expression and
    the buckets are the usual one-scan conditional counts (``range_agg``
    shape) — overlap allowed, one pass regardless of bucket count."""

    def _lit(ip: str) -> int:
        a, b, c, d = (int(p) for p in ip.split("."))
        return a * 16777216 + b * 65536 + c * 256 + d

    num_ranges = [
        (None if lo is None else _lit(lo), None if hi is None else _lit(hi))
        for lo, hi in ranges
    ]
    keyed = df.withColumn("__ip", F.expr(ip_to_long_sql(field)))
    out = range_agg(keyed, "__ip", num_ranges)
    # Re-label buckets with the dotted-quad text keys ES reports.
    labels = [
        f"{lo if lo is not None else '*'}-{hi if hi is not None else '*'}"
        for lo, hi in ranges
    ]
    num_keys = [
        f"{lo if lo is not None else '*'}-{hi if hi is not None else '*'}"
        for lo, hi in num_ranges
    ]
    mapping = F.create_map(
        *[F.lit(v) for pair in zip(num_keys, labels) for v in pair]
    )
    return out.withColumn("range_key", mapping[F.col("range_key")])


def hex_grid(
    df: DataFrame,
    lat: str,
    lon: str,
    *,
    size_deg: float,
    k: int | None = None,
) -> DataFrame:
    """ES ``geohex_grid``-analog: bucket points into a pointy-top
    hexagonal tiling of circumradius ``size_deg`` degrees and count per
    cell (see functions/geohash.py::hex_qr_sql for the H3 deviation
    note). Key math is pure column arithmetic — one hash agg; with ``k``
    the top-k cells come back via TakeOrderedAndProject (ties pinned
    ``doc_count DESC, hex ASC`` like every terms-family agg here)."""
    from harmonize_search_analyze_spark.functions.geohash import hex_key_sql

    out = (
        df.groupBy(F.expr(hex_key_sql(lat, lon, size_deg)).alias("hex"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_count"))
    )
    out = out.orderBy(F.col("doc_count").desc(), F.col("hex").asc())
    return out.limit(k) if k is not None else out


def long_to_ip_sql(expr: str) -> str:
    """BIGINT → dotted-quad IPv4 text, engine-portable (FLOOR + ``%`` +
    CAST AS STRING parse identically on Spark and DuckDB; ``||`` rather
    than concat() so a NULL input yields NULL in BOTH engines — DuckDB's
    concat skips NULL arguments)."""
    octets = [
        f"CAST(CAST(FLOOR({expr} / {1 << s}) AS BIGINT) % 256 AS STRING)"
        for s in (24, 16, 8, 0)
    ]
    return f"({octets[0]} || '.' || {octets[1]} || '.' || {octets[2]} || '.' || {octets[3]})"


def ip_prefix_agg(
    df: DataFrame, field: str, *, prefix_length: int
) -> DataFrame:
    """ES ``ip_prefix`` agg: bucket IPv4 addresses by their
    ``prefix_length``-bit network prefix; keys are the network addresses in
    CIDR text form (``10.0.16.0/20``), counts per subnet.

    One hash aggregation over a codegen'd key expression — map-side
    combine collapses each partition to its distinct-subnet rows (≤2^p),
    so the exchange is subnet-count-sized no matter the corpus. IPv6 is
    out of scope (the synthetic corpus and ip_to_long_sql are v4).
    """
    if not 0 < prefix_length <= 32:
        raise ValueError("prefix_length must be in 1..32")
    block = 1 << (32 - prefix_length)
    net = (
        f"CAST(FLOOR({ip_to_long_sql(field)} / {block}) AS BIGINT)"
        f" * {block}"
    )
    return (
        df.withColumn("__net", F.expr(net))
        .groupBy("__net")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_count"))
        .select(
            F.concat(
                F.expr(long_to_ip_sql("__net")), F.lit(f"/{prefix_length}")
            ).alias("prefix"),
            "doc_count",
            F.col("__net").alias("__order"),
        )
        .orderBy("__order")
        .drop("__order")
    )


def geo_line(
    df: DataFrame,
    group: str,
    lat: str,
    lon: str,
    sort_col: str,
    *,
    max_points: int = 100,
) -> DataFrame:
    """ES ``geo_line``: per group, the track — an ordered array of
    [lon, lat] points sorted by ``sort_col`` (ES truncates to ``size``
    points; we keep the FIRST ``max_points`` in sort order, deterministic).

    Per-group aggregation state is bounded BEFORE the collect: a
    ``row_number() <= max_points`` window (same (sort, lon, lat) order as
    the final array sort, so results are identical) truncates each group
    first, then the hash agg collects at most ``max_points`` structs. The
    window and the agg share the group key, so Catalyst reuses one
    exchange — a hot group at corpus scale costs sort spill in the
    window, never unbounded agg state (ES's own hard size cap is 10k)."""
    pt = F.struct(
        F.col(sort_col).alias("s"),
        F.array(F.col(lon), F.col(lat)).alias("p"),
    )
    ok = df.where(
        F.col(lat).isNotNull() & F.col(lon).isNotNull()
        & F.col(sort_col).isNotNull()
    )
    # struct sort order is (s, p=[lon, lat]) lexicographic — mirror it in
    # the window so the pre-truncation keeps exactly the rows the final
    # sort_array/slice would have kept
    w_trunc = Window.partitionBy(group).orderBy(
        F.col(sort_col).asc(), F.col(lon).asc(), F.col(lat).asc()
    )
    ok = (
        ok.withColumn("__rn", F.row_number().over(w_trunc))
        .where(F.col("__rn") <= max_points)
        .drop("__rn")
    )
    return (
        ok.groupBy(group)
        .agg(
            F.slice(
                F.sort_array(F.collect_list(pt)), 1, max_points
            ).alias("__pts")
        )
        .select(
            group,
            F.transform(F.col("__pts"), lambda s: s["p"]).alias("line"),
            F.size("__pts").alias("n_points"),
        )
        .orderBy(group)
    )


def frequent_item_sets(
    df: DataFrame,
    item_col: str,
    group_col: str,
    *,
    min_support: float = 0.1,
    k: int = 20,
) -> DataFrame:
    """ES ``frequent_item_sets`` (8.x), size-2 variant: co-occurring item
    PAIRS with support >= ``min_support`` (fraction of groups containing
    both items), the market-basket signal.

    Plan: per-group DISTINCT items (one agg), self-join within group on
    item_a < item_b (the only quadratic step — bounded by per-group
    distinct item count, not corpus size), pair hash agg, support filter
    against the group count (1-row broadcast). ES's own implementation is
    Eclat over shard samples and approximate; this is exact."""
    items = df.where(F.col(item_col).isNotNull()).select(
        F.col(group_col).alias("g"), F.col(item_col).alias("item")
    ).distinct()
    n_groups = items.select("g").distinct().count()
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col("a.item") < F.col("b.item")))
        .groupBy(
            F.col("a.item").alias("item_a"),
            F.col("b.item").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .withColumn(
            "support",
            F.round(F.col("doc_count") / F.lit(float(n_groups)), 6),
        )
        .where(F.col("support") >= min_support)
        .orderBy(
            F.desc("doc_count"), F.asc("item_a"), F.asc("item_b")
        )
        .limit(k)
    )
    return pairs


def association_rules(
    df: DataFrame,
    item_col: str,
    group_col: str,
    *,
    min_support: float = 0.1,
    min_confidence: float = 0.0,
    k: int = 20,
) -> DataFrame:
    """Market-basket association rules on top of the
    :func:`frequent_item_sets` pair mining: every directed rule
    ``antecedent -> consequent`` whose PAIR clears ``min_support``,
    scored with the classic triple (support, confidence, lift).

    - support    = P(a, b)        (fraction of groups containing both)
    - confidence = P(b | a)       (pair count / antecedent count)
    - lift       = P(a, b) / (P(a) * P(b))  — > 1 means genuinely
      associated, not just both frequent.

    All three are computed from INTEGER counts with an identical
    division expression on both engines (``n * pair / (ca * cb)``), so
    the oracle comparison is bit-stable; ties in the ``lift DESC,
    confidence DESC`` ranking are pinned by ``(antecedent, consequent)``
    ASC, making the top-k selection a total order.

    Scale shape: the only quadratic step is the within-group pair join
    (bounded by per-group distinct items, never corpus size — same as
    frequent_item_sets); item counts are vocabulary-sized and
    broadcast into the rule frame; the final ranking is
    TakeOrderedAndProject, never a global sort.
    """
    items = df.where(F.col(item_col).isNotNull()).select(
        F.col(group_col).alias("g"), F.col(item_col).alias("item")
    ).distinct()
    n_groups = items.select("g").distinct().count()
    item_counts = items.groupBy("item").agg(
        F.count(F.lit(1)).alias("item_count")
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col("a.item") < F.col("b.item")))
        .groupBy(
            F.col("a.item").alias("item_a"),
            F.col("b.item").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(
            F.col("pair_count") / F.lit(float(n_groups)) >= min_support
        )
    )
    directed = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "pair_count",
    ).unionAll(
        pairs.select(
            F.col("item_b").alias("antecedent"),
            F.col("item_a").alias("consequent"),
            "pair_count",
        )
    )
    ca = item_counts.select(
        F.col("item").alias("antecedent"), F.col("item_count").alias("__ca")
    )
    cb = item_counts.select(
        F.col("item").alias("consequent"), F.col("item_count").alias("__cb")
    )
    n = F.lit(n_groups).cast("double")
    out = (
        directed.join(F.broadcast(ca), "antecedent")
        .join(F.broadcast(cb), "consequent")
        .withColumn(
            "support",
            F.round(F.col("pair_count") / n, 6),
        )
        .withColumn(
            "confidence",
            F.round(
                F.col("pair_count")
                / F.col("__ca").cast("double"),
                6,
            ),
        )
        .withColumn(
            "lift",
            F.round(
                (F.lit(n_groups) * F.col("pair_count")).cast("double")
                / (F.col("__ca") * F.col("__cb")).cast("double"),
                6,
            ),
        )
        .where(F.col("confidence") >= min_confidence)
        .select(
            "antecedent", "consequent",
            F.col("pair_count").cast("bigint").alias("pair_count"),
            "support", "confidence", "lift",
        )
        .orderBy(
            F.desc("lift"), F.desc("confidence"),
            F.asc("antecedent"), F.asc("consequent"),
        )
        .limit(k)
    )
    return out


def collapse(
    df: DataFrame,
    field: str,
    sort_col: str,
    k: int = 10,
    *,
    ascending: bool = False,
    tie_col: str | None = None,
) -> DataFrame:
    """ES search ``collapse``: the result list deduplicated to ONE top hit
    per value of ``field``, ranked by ``sort_col``. ``tie_col`` (a unique
    id) pins which hit wins inside a group when sort values tie — pass it
    whenever ``sort_col`` isn't unique per group or the result is
    partitioning-dependent. One window shuffle keyed by the collapse
    field + a TakeOrdered top-k of the survivors — never a global sort of
    all hits.
    """
    order = F.asc(sort_col) if ascending else F.desc(sort_col)
    inner = [order] + ([F.asc(tie_col)] if tie_col else [])
    w = Window.partitionBy(field).orderBy(*inner)
    ranked = df.where(F.col(field).isNotNull()).withColumn(
        "__rn", F.row_number().over(w)
    )
    return (
        ranked.where(F.col("__rn") == 1)
        .drop("__rn")
        .orderBy(order, F.asc(field))
        .limit(k)
    )


def suggest(
    df: DataFrame,
    field: str,
    prefix: str | None = None,
    k: int = 10,
) -> DataFrame:
    """Typeahead suggestions (webapp ``views.js:378-412``): top-k terms of
    ``field``, optionally filtered by phrase-prefix match of ``prefix``
    against the field's ``.split`` tokens."""
    from harmonize_search_analyze_spark.functions.tokenize import (
        phrase_prefix_predicate,
    )

    if prefix:
        df = df.where(phrase_prefix_predicate(field, prefix))
    return terms(df, field, k)


def suggest_completion(
    df: DataFrame,
    field: str,
    prefix: str | None = None,
    *,
    contexts: dict[str, dict[str, float]] | None = None,
    k: int = 10,
) -> DataFrame:
    """ES completion suggester with category contexts: suggestions
    restricted to documents matching at least one supplied context value
    per context, each value carrying a boost. Score pins: a document's
    weight is the PRODUCT over contexts of its matched value's boost
    (ES compounds context boosts multiplicatively); the suggestion score
    is the summed weight, rounded to 6; ties pin score DESC, term ASC.

    One scan: context filters are plain IN-list predicates (sargable),
    the weight is a CASE projection, the rollup is a single
    map-combinable hash agg + TakeOrdered."""
    from harmonize_search_analyze_spark.functions.tokenize import (
        phrase_prefix_predicate,
    )

    out = df.where(F.col(field).isNotNull())
    if prefix:
        out = out.where(phrase_prefix_predicate(field, prefix))
    weight = F.lit(1.0)
    for ctx_field, boosts in (contexts or {}).items():
        if not boosts:
            raise ValueError(f"context {ctx_field!r} needs values")
        out = out.where(F.col(ctx_field).isin(list(boosts)))
        expr = F.lit(None).cast("double")
        for val, boost in boosts.items():
            expr = F.when(
                F.col(ctx_field) == F.lit(val), F.lit(float(boost))
            ).otherwise(expr)
        weight = weight * expr
    return (
        out.groupBy(F.col(field).alias("term"))
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.round(F.sum(weight), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("term").asc())
        .limit(k)
    )


def filter_context(
    df: DataFrame,
    query: Column | None = None,
    time_field: str | None = None,
    time_from=None,
    time_to=None,
    now=None,
    kql: str | None = None,
    kql_default_fields: list[str] | None = None,
) -> DataFrame:
    """The dashboard's shared filter context (viz 9 + ``views.js:97-115``
    query injection): KQL search bar AND UI query AND global time window,
    applied to ``df``. Time bounds may be datetimes OR ES date-math
    strings resolved against ``now`` — the reference's global filter is
    literally from:"now-20y", to:"now" (config.js:31-32)."""
    filtered = df
    if kql is not None:
        from harmonize_search_analyze_spark.plans.kql import kql_query

        # field_names=df.columns: the dashboard knows its index pattern's
        # field list, so KQL field-name wildcards (machine.os*: v) work
        # here without the caller wiring anything — exactly the mapping
        # Kibana's query bar consults
        filtered = filtered.where(
            kql_query(
                kql,
                default_fields=kql_default_fields,
                field_names=list(df.columns),
                now=now,
            )
        )
    if query is not None:
        filtered = filtered.where(query)
    if time_field is not None:
        if is_date_math(time_from):
            time_from = parse_date_math(time_from, now=now)
        if is_date_math(time_to):
            time_to = parse_date_math(time_to, now=now, round_up=True)
        if time_from is not None:
            filtered = filtered.where(F.col(time_field) >= F.lit(time_from))
        if time_to is not None:
            filtered = filtered.where(F.col(time_field) <= F.lit(time_to))
    return filtered


def dashboard(
    df: DataFrame,
    panels: dict[str, "callable"],
    query: Column | None = None,
    time_field: str | None = None,
    time_from=None,
    time_to=None,
    cache: bool = True,
    now=None,
    global_panels: dict[str, "callable"] | None = None,
    kql: str | None = None,
    kql_default_fields: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Run a panel set over one shared filter context
    (``filter_context``: base query AND UI query AND global time window
    applied once), then each panel aggregates the same frame.

    ``panels`` maps name -> fn(DataFrame) -> DataFrame. The filtered frame is
    cached when more than one panel will reuse it (the reference gets this
    "for free" by ES query caching; in Spark we must ask for it). The cache
    is refcount-tethered to the returned panels: it unpersists once every
    panel frame is released/GC'd (caching.release for eager cleanup).

    ``global_panels`` implements ES's ``global`` aggregation: those panels
    evaluate against the UNFILTERED frame — the "3 of 120 incidents match"
    denominator every Kibana total widget needs — while sharing the same
    result dict.

    ``kql`` is the Kibana search bar on top of the dashboard: KQL text
    compiled through ``plans.kql`` and ANDed into the shared filter
    context exactly like the UI's query-bar filter joins the dashboard's
    own query (``now`` pins its date-math too).
    """
    filtered = filter_context(
        df, query, time_field, time_from, time_to, now=now, kql=kql,
        kql_default_fields=kql_default_fields,
    )
    if cache and len(panels) > 1:
        filtered = filtered.cache()
        out = {name: fn(filtered) for name, fn in panels.items()}
        tether_shared(list(out.values()), filtered)
    else:
        out = {name: fn(filtered) for name, fn in panels.items()}
    for name, fn in (global_panels or {}).items():
        if name in out:
            raise ValueError(f"panel name collision: {name!r}")
        out[name] = fn(df)  # ES 'global': the unfiltered frame
    return out


def boxplot(df: DataFrame, field: str) -> DataFrame:
    """ES ``boxplot`` agg: min, q1, q2 (median), q3, max of a numeric
    field. Exact linear-interpolation percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``) for the oracle gate; the documented scale
    path is ``approx_percentile`` (t-digest-style sketch, one pass, fixed
    state), the same exact/approx switch as ``percentiles``."""
    q = F.expr(f"percentile({field}, array(0.25, 0.5, 0.75))")
    return df.agg(
        F.min(field).cast("double").alias("min"),
        F.round(q[0], 6).alias("q1"),
        F.round(q[1], 6).alias("q2"),
        F.round(q[2], 6).alias("q3"),
        F.max(field).cast("double").alias("max"),
    )


def string_stats(df: DataFrame, field: str) -> DataFrame:
    """ES ``string_stats`` agg: count, min/max/avg length, and the Shannon
    entropy (bits) of the CHARACTER distribution over all values — the
    ES definition. Lengths are one hash agg; entropy explodes characters
    into a frequency table first (|alphabet| rows after the partial agg,
    tiny) then folds -Σ p·log2 p with one final round."""
    lengths = df.where(F.col(field).isNotNull()).agg(
        F.count(F.lit(1)).alias("count"),
        F.min(F.length(field)).cast("bigint").alias("min_length"),
        F.max(F.length(field)).cast("bigint").alias("max_length"),
        F.round(F.avg(F.length(field)), 6).alias("avg_length"),
    )
    chars = (
        df.where(F.col(field).isNotNull())
        .select(F.explode(F.split(F.col(field), "")).alias("ch"))
        .where(F.col("ch") != "")
        .groupBy("ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    p = F.col("c") / F.col("tot")
    ent = (
        chars.crossJoin(F.broadcast(chars.agg(F.sum("c").alias("tot"))))
        .agg(
            F.round(
                -F.sum(p * F.log(p)) / F.lit(math.log(2.0)), 6
            ).alias("entropy")
        )
    )
    return lengths.crossJoin(ent)


def t_test(
    df: DataFrame,
    field: str,
    filter_a: Column,
    filter_b: Column,
) -> DataFrame:
    """ES ``t_test`` agg (heteroscedastic / Welch, the ES default): the
    t-statistic and Welch degrees of freedom between the ``field`` values
    of two filtered populations, in ONE scan (conditional aggregates, the
    filters_agg trick). DIVERGENCE from ES: ES reports the p-value, which
    needs the t-distribution CDF (an incomplete beta — not expressible in
    portable SQL); we report (t, df) exactly instead and leave the CDF to
    the caller's stats library. Means/variances are exact; one final
    round."""
    def stats(cond, suffix):
        v = F.when(cond, F.col(field))
        return [
            F.count(v).alias(f"n{suffix}"),
            F.avg(v).alias(f"m{suffix}"),
            F.var_samp(v).alias(f"v{suffix}"),
        ]

    one = df.agg(*stats(filter_a, "a"), *stats(filter_b, "b"))
    # try_divide throughout: two zero-variance populations make the
    # pooled stderr 0 and raw division THROWS under ANSI mode (Spark 4
    # default); the statistic is undefined there — NULL, which is also
    # what DuckDB's /0 yields, keeping the oracle in lockstep
    sa = F.try_divide(F.col("va"), F.col("na"))
    sb = F.try_divide(F.col("vb"), F.col("nb"))
    t = F.try_divide(F.col("ma") - F.col("mb"), F.sqrt(sa + sb))
    dof = F.try_divide(
        (sa + sb) * (sa + sb),
        F.try_divide(sa * sa, F.col("na") - 1)
        + F.try_divide(sb * sb, F.col("nb") - 1),
    )
    return one.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 6).alias("welch_df"),
    )


def normalize_pipeline(
    buckets: DataFrame,
    bucket_col: str,
    value_col: str = "doc_count",
    *,
    method: str = "percent_of_sum",
) -> DataFrame:
    """ES ``normalize`` pipeline agg — the FULL published method set:
    ``percent_of_sum`` (v/Σv), ``percent_of_max``, ``mean`` (z-score,
    population stddev — ES's formula), ``range``/``rescale_0_1``
    (min-max to [0,1]), ``rescale_0_100``, and ``softmax``
    (e^v / Σ e^v, computed max-shifted so real-world magnitudes don't
    overflow to NaN). Bucket-level window over the already-aggregated
    frame — same single-task contract as bucket_pipeline (rows bounded
    by the interval, not data volume)."""
    w = Window.partitionBy()
    v = F.col(value_col)
    # try_divide throughout: an all-zero series (percent_of_sum) or a
    # constant series (mean: stddev 0; range: max-min 0) makes the
    # denominator 0 — the normalization is undefined and must yield NULL,
    # not an ANSI DIVIDE_BY_ZERO (DuckDB's /0 agrees)
    if method == "percent_of_sum":
        norm = F.try_divide(v, F.sum(v).over(w))
    elif method == "mean":
        norm = F.try_divide(v - F.avg(v).over(w), F.stddev_pop(v).over(w))
    elif method in ("range", "rescale_0_1"):
        norm = F.try_divide(
            v - F.min(v).over(w), F.max(v).over(w) - F.min(v).over(w)
        )
    elif method == "rescale_0_100":
        norm = F.lit(100.0) * F.try_divide(
            v - F.min(v).over(w), F.max(v).over(w) - F.min(v).over(w)
        )
    elif method == "percent_of_max":
        norm = F.try_divide(v, F.max(v).over(w))
    elif method == "softmax":
        # max-shifted for numeric stability: e^(v-max)/Σe^(v-max) is
        # algebraically ES's e^v/Σe^v but stays finite where raw
        # exponentials overflow double range (real-world doc counts do)
        shifted = v.cast("double") - F.max(v.cast("double")).over(w)
        norm = F.try_divide(
            F.exp(shifted), F.sum(F.exp(shifted)).over(w)
        )
    else:
        raise ValueError(
            "method must be one of percent_of_sum, percent_of_max, "
            "mean, range/rescale_0_1, rescale_0_100, softmax"
        )
    return buckets.select(
        bucket_col, value_col, F.round(norm, 6).alias("normalized")
    ).orderBy(bucket_col)


def percentile_ranks(
    df: DataFrame,
    field: str,
    values: list[float],
) -> DataFrame:
    """ES ``percentile_ranks`` agg: for each probe value, the percentage of
    observed values <= it. ES interpolates from its t-digest sketch; we
    compute the EXACT empirical CDF (strictly better, same stance as
    exact terms counts) in one conditional-aggregate pass — a count per
    probe value, one scan, one 1-row agg regardless of probe count."""
    # try_divide: an empty (or all-NULL) input makes count 0 — the rank
    # is undefined, NULL, not an ANSI DIVIDE_BY_ZERO
    probes = [
        F.round(
            F.try_divide(
                F.lit(100.0)
                * F.count(F.when(F.col(field) <= F.lit(v), F.lit(1))),
                F.count(field),
            ),
            6,
        ).alias(f"__p{i}")
        for i, v in enumerate(values)
    ]
    row = df.agg(*probes)
    return row.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(float(v)).alias("value"),
                    F.col(f"__p{i}").alias("pct_rank"),
                )
                for i, v in enumerate(values)
            ])
        ).alias("r")
    ).select("r.*")


def cumulative_cardinality(
    df: DataFrame,
    ts_field: str,
    value_field: str,
    *,
    interval: str = "1 day",
) -> DataFrame:
    """ES ``cumulative_cardinality`` pipeline agg: per time bucket, the
    number of DISTINCT ``value_field`` values seen in any bucket up to and
    including it (the classic "total users to date" curve).

    ES stacks a ``cumulative_sum`` over per-bucket HLL sketches; we compute
    the EXACT curve with the first-occurrence trick: the cumulative distinct
    count at bucket b equals the number of values whose FIRST bucket is
    <= b. One shuffle keyed by the value (min-bucket per value — map-side
    combine applies), one bucket-level aggregation, then a bucket-count
    window. Raw data volume only touches the first shuffle; the windows run
    over the bucket frame (bounded by the time range / interval), so the
    single-task sort contract of bucket_pipeline holds at 100 TB.

    Buckets with events but no new values report the running total
    unchanged (ES semantics); empty buckets are absent (min_doc_count=1)."""
    bucket = F.date_trunc(
        _interval_trunc_unit(interval), F.col(ts_field)
    ).alias("bucket")
    base = df.where(F.col(ts_field).isNotNull() & F.col(value_field).isNotNull())
    counts = base.groupBy(bucket).agg(F.count(F.lit(1)).alias("doc_count"))
    firsts = (
        base.groupBy(value_field)
        .agg(F.date_trunc(_interval_trunc_unit(interval), F.min(ts_field)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("__new"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        counts.join(firsts, "bucket", "left")
        .select(
            "bucket",
            "doc_count",
            F.sum(F.coalesce(F.col("__new"), F.lit(0)))
            .over(w)
            .alias("cumulative_cardinality"),
        )
        .orderBy("bucket")
    )


def _interval_trunc_unit(interval: str) -> str:
    """Map a calendar interval string to a date_trunc unit."""
    unit = interval.split()[-1].rstrip("s")
    allowed = {"year", "quarter", "month", "week", "day", "hour", "minute", "second"}
    if unit not in allowed:
        raise ValueError(f"unsupported calendar interval: {interval!r}")
    return unit


def change_point(
    buckets: DataFrame,
    bucket_col: str,
    value_col: str = "doc_count",
    *,
    min_segment: int = 3,
) -> DataFrame:
    """ES ``change_point`` agg (8.x): locate the single most likely step
    change in a metric series. ES runs a battery of detectors; this
    implements the deterministic step-change core — for every admissible
    split the absolute difference between the left and right segment means,
    maximized (first bucket of the right segment reported, earliest bucket
    winning ties).

    All statistics derive from one running-sum window over the bucket frame
    plus a 1-row total attached by the window itself (no self-join, no
    collect): mean_left = run/i, mean_right = (total-run)/(n-i). Bucket-level
    single-task window per the bucket_pipeline contract — the input is an
    already-aggregated series, thousands of rows at most."""
    if min_segment < 1:
        raise ValueError("min_segment must be >= 1")
    w = Window.orderBy(bucket_col)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    whole = Window.partitionBy()
    v = F.col(value_col).cast("double")
    stats = buckets.select(
        F.col(bucket_col),
        v.alias("__v"),
        F.row_number().over(w).alias("__i"),
        F.sum(v).over(run).alias("__run"),
        F.sum(v).over(whole).alias("__total"),
        F.count(F.lit(1)).over(whole).alias("__n"),
        F.lead(F.col(bucket_col), 1).over(w).alias("__next"),
    )
    i, n = F.col("__i"), F.col("__n")
    mean_l = F.col("__run") / i
    mean_r = (F.col("__total") - F.col("__run")) / (n - i)
    scored = stats.where(
        (i >= F.lit(min_segment)) & (i <= n - F.lit(min_segment))
    ).select(
        F.col("__next").alias("change_bucket"),
        F.round(mean_l, 6).alias("mean_before"),
        F.round(mean_r, 6).alias("mean_after"),
        F.round(F.abs(mean_r - mean_l), 6).alias("step_size"),
    )
    return scored.orderBy(F.desc("step_size"), F.asc("change_bucket")).limit(1)


def moving_percentiles(
    buckets: DataFrame,
    bucket_col: str,
    value_col: str = "doc_count",
    *,
    window: int = 7,
    percentile: float = 0.5,
    shift: int = 1,
) -> DataFrame:
    """ES ``moving_percentiles`` pipeline agg: a percentile of the trailing
    ``window`` buckets, sliding. ES reuses the t-digest sketch; we compute
    the EXACT linear-interpolated percentile (same stance as
    percentile_ranks). ``shift`` follows moving_fn/bucket_pipeline: the
    window covers ``[i - window + shift, i - 1 + shift]`` — ES's default
    shift=0 excludes the current bucket; the default here (shift=1,
    trailing-inclusive) matches bucket_pipeline's historical contract.
    Buckets whose window is empty yield NULL per ES's gap policy.
    Bucket-level single-task window — never point at raw rows."""
    if not 0.0 <= percentile <= 1.0:
        raise ValueError("percentile must be in [0, 1]")
    w = Window.orderBy(bucket_col)
    mov = w.rowsBetween(-window + shift, -1 + shift)
    v = F.col(value_col)
    return buckets.select(
        bucket_col,
        value_col,
        F.round(
            F.expr(f"percentile({value_col}, {percentile!r})").over(mov), 6
        ).alias("moving_pct"),
    ).orderBy(bucket_col)


def percentiles_bucket(
    buckets: DataFrame,
    value_col: str = "doc_count",
    *,
    percents: list[float] | None = None,
) -> DataFrame:
    """ES ``percentiles_bucket`` sibling pipeline agg: percentiles of a
    metric ACROSS the sibling buckets (one row per probe percent). Exact
    linear-interpolated percentiles (same stance as percentile_ranks /
    moving_percentiles — ES itself interpolates from t-digest). One 1-row
    aggregation over the bucket frame; bucket-level work regardless of
    underlying data volume."""
    percents = [25.0, 50.0, 75.0] if percents is None else percents
    for p in percents:
        if not 0.0 <= p <= 100.0:
            raise ValueError(f"percents must be in [0, 100], got {p}")
    fracs = ", ".join(repr(p / 100.0) for p in percents)
    row = buckets.agg(
        F.expr(f"percentile({value_col}, array({fracs}))").alias("__ps")
    )
    return row.select(
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(float(p)) for p in percents]).alias("percent"),
                F.expr(
                    "transform(__ps, v -> round(v, 6))"
                ).alias("value"),
            )
        ).alias("r")
    ).select("r.percent", "r.value")


def bucket_correlation(
    buckets: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """ES ``bucket_correlation`` pipeline agg (count_correlation function):
    Pearson correlation between two metric series over the same sibling
    buckets — here the general two-column form (ES correlates doc_count
    against a supplied indicator vector; materialize the indicator as a
    bucket column and pass it as ``y_col``). One 1-row aggregation;
    NULL when either series is constant (r undefined), which is also
    ES's behavior for a degenerate indicator. Pearson is assembled from
    covar_pop / (stddev_pop * stddev_pop) with a guarded denominator —
    ``F.corr`` itself raises a divide-by-zero under ANSI mode (Spark 4
    default) on a constant series instead of returning the NULL the
    contract (and DuckDB's ``corr``) specifies."""
    x, y = F.col(x_col), F.col(y_col)
    den = F.stddev_pop(x) * F.stddev_pop(y)
    return buckets.agg(
        F.round(
            F.when(den > 0, F.covar_pop(x, y) / den), 6
        ).alias("correlation"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
    )


def random_sampler_terms(
    df: DataFrame,
    field: str,
    key_col: str,
    *,
    probability: float,
    k: int = 10,
    seed: int = 42,
) -> DataFrame:
    """ES ``random_sampler`` aggregation over a ``terms`` sub-agg.

    ES samples documents with ``probability`` before running sub-aggs and
    scales the resulting doc_counts back up by ``1/probability``. ES uses
    a nondeterministic per-shard sampler; the engine pins the published
    deterministic equivalent — the same portable hash-threshold row filter
    as ``hash_sample`` keyed on ``key_col`` — so results are reproducible
    across runs, partitionings, and engines.

    Returns ``(key, sampled_count BIGINT, doc_count BIGINT)`` where
    ``doc_count = round(sampled_count / probability)`` is the corrected
    estimate, top-k by corrected count (ties ``key ASC``, pinned).

    Scale shape: the sampler is a codegen'd residual filter ON the scan —
    the whole point of the agg is that the shuffle sees only the sampled
    fraction. One hash agg + TakeOrdered after the cut.
    """
    from harmonize_search_analyze_spark.operators.sampling import hash_sample

    if not 0.0 < probability <= 1.0:
        raise ValueError(f"probability must be in (0, 1], got {probability}")
    return (
        hash_sample(df, key_col, probability, seed=seed)
        .groupBy(F.col(field).alias("key"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("sampled_count"))
        .select(
            "key",
            "sampled_count",
            F.round(F.col("sampled_count") / F.lit(float(probability)))
            .cast("bigint")
            .alias("doc_count"),
        )
        .orderBy(F.desc("doc_count"), F.asc("key"))
        .limit(k)
    )


def random_sampler_terms_sql(
    table: str,
    field: str,
    key_col: str,
    dialect: str,
    *,
    probability: float,
    k: int = 10,
    seed: int = 42,
) -> str:
    """Dual-dialect twin of :func:`random_sampler_terms`."""
    from harmonize_search_analyze_spark.operators.sampling import (
        HASH_BUCKETS,
        sample_hash_sql,
    )

    h = sample_hash_sql(key_col, dialect, seed=seed)
    thr = int(probability * HASH_BUCKETS)
    return f"""
SELECT {field} AS key,
       CAST(COUNT(*) AS BIGINT) AS sampled_count,
       CAST(ROUND(COUNT(*) / {probability!r}) AS BIGINT) AS doc_count
FROM {table}
WHERE {h} < {thr}
GROUP BY {field}
ORDER BY doc_count DESC, key ASC
LIMIT {k}
"""


def diversified_sampler(
    df: DataFrame,
    dedup_field: str,
    sort_col: str,
    *,
    tie_col: str,
    max_docs_per_value: int = 1,
    shard_size: int = 100,
    ascending: bool = False,
) -> DataFrame:
    """ES ``diversified_sampler`` aggregation: restrict the docs sub-aggs
    see to the best ``shard_size`` hits while capping contributions from
    any single value of ``dedup_field`` at ``max_docs_per_value`` — the
    anti-bias sampler ("don't let one host dominate the top hits").

    Returns the sampled ROWS (callers run their sub-agg on the result,
    mirroring ES's nesting). Rank inside a dedup group follows
    ``sort_col`` (best-first per ``ascending``); ``tie_col`` — a unique
    id, REQUIRED — pins equal sort values so the sample is deterministic
    across runs, partitionings, and engines (the repo-wide contract every
    oracle-gated operator carries). NULL dedup keys are kept unsampled up
    to the same cap, grouped together, matching ES's missing-bucket
    treatment.

    Scale shape: one window shuffle keyed by ``dedup_field`` for the
    per-value cap, then a TakeOrdered of the survivors — the full corpus
    is never globally sorted. A hot dedup value serializes one window
    group; the cap bounds what it can emit.
    """
    if max_docs_per_value <= 0:
        raise ValueError(
            f"max_docs_per_value must be positive, got {max_docs_per_value}"
        )
    if shard_size <= 0:
        raise ValueError(f"shard_size must be positive, got {shard_size}")
    order = F.asc(sort_col) if ascending else F.desc(sort_col)
    inner = [order, F.asc(tie_col)]
    w = Window.partitionBy(dedup_field).orderBy(*inner)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= max_docs_per_value)
        .drop("__rn")
        .orderBy(*inner)
        .limit(shard_size)
    )


def reverse_nested_terms(
    df: DataFrame,
    path: str,
    inner_field: str,
    *,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """ES ``nested`` terms aggregation with a ``reverse_nested``
    sub-aggregation: bucket the INNER objects of an array-of-structs
    column by ``inner_field``, reporting per bucket both the nested doc
    count (``doc_count`` — how many inner objects) and the PARENT doc
    count (``parent_count`` — how many distinct root documents own at
    least one such object). The reverse_nested step is exactly the join
    back to root context ES documents under nested mappings.

    Plan: explode is map-side (one pass over the parents, inner objects
    never materialize as a table); then ONE hash aggregation keyed by the
    inner term computing count(*) and count(DISTINCT parent id) — the
    distinct runs as Spark's standard two-phase partial-distinct expand,
    bounded per bucket by the parents that actually own the term, not the
    corpus. Ties pinned doc_count DESC, term ASC.
    """
    inner = df.select(
        F.col(id_col).alias("__parent"),
        F.explode(F.col(path)).alias("__obj"),
    ).select("__parent", F.col(f"__obj.{inner_field}").alias(inner_field))
    return (
        inner.where(F.col(inner_field).isNotNull())
        .groupBy(inner_field)
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.countDistinct("__parent").alias("parent_count"),
        )
        .orderBy(F.desc("doc_count"), F.asc(inner_field))
        .limit(k)
    )


_SM_COMBINES = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
    "count": lambda c: F.count(c),
}


def scripted_metric(
    df: DataFrame,
    map_script: str,
    *,
    combine: str = "sum",
    reduce_script: str | None = None,
    group_by: list[str] | None = None,
    alias: str = "value",
) -> DataFrame:
    """ES ``scripted_metric`` aggregation, restricted to the shape that
    distributes: ``map_script`` is a per-document SQL expression (the
    map_script's ``state`` accumulation), ``combine`` is an ASSOCIATIVE
    builtin (sum/min/max/avg/count — ES's combine_script contract is
    exactly "reduce per-shard state to one value"), and the optional
    ``reduce_script`` is a final expression over the combined value,
    exposed as ``state``.

    This deliberately does NOT model arbitrary stateful scripts: a
    non-associative combine cannot run map-side and would serialize every
    document through one reducer — the anti-pattern the published ES docs
    themselves warn about at scale. The canonical profit example
    (map: doc.type == 'sale' ? doc.amount : -doc.amount, combine: sum)
    fits exactly.

    Plan: one codegen'd projection + ONE hash aggregation with map-side
    partial combine; ``reduce_script`` is a post-agg projection over
    group-count-sized data.
    """
    fn = _SM_COMBINES.get(combine)
    if fn is None:
        raise ValueError(
            f"combine must be one of {sorted(_SM_COMBINES)}, got {combine!r}"
        )
    mapped = df.withColumn("__mapped", F.expr(map_script))
    keys = group_by or []
    agg = (
        mapped.groupBy(*keys).agg(fn(F.col("__mapped")).alias("state"))
    )
    out = F.expr(reduce_script) if reduce_script else F.col("state")
    cols = [F.col(k) for k in keys] + [out.alias(alias)]
    res = agg.select(*cols)
    return res.orderBy(*keys) if keys else res


def terms_enum(
    df: DataFrame,
    field: str,
    *,
    prefix: str = "",
    size: int = 10,
    case_insensitive: bool = False,
) -> DataFrame:
    """ES ``_terms_enum`` API: enumerate up to ``size`` distinct index
    terms of a keyword field that start with ``prefix``, alphabetically —
    the low-latency autocomplete primitive (unlike ``suggest`` it ranks
    lexicographically, not by popularity, and unlike ``terms`` it never
    counts).

    Plan: distinct (partial agg + one exchange) under a sargable
    startswith filter (prefix pushdown to the scan) + TakeOrdered. With
    ``case_insensitive`` the match folds case but the ORIGINAL terms
    return, per ES."""
    col = F.col(field)
    if prefix:
        if case_insensitive:
            pred = F.lower(col).startswith(prefix.lower())
        else:
            pred = col.startswith(prefix)
        df = df.where(pred)
    return (
        df.where(col.isNotNull())
        .select(col.alias("term"))
        .distinct()
        .orderBy(F.asc("term"))
        .limit(size)
    )


def counter_rate(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    value_col: str,
    *,
    per_seconds: float = 1.0,
) -> DataFrame:
    """TSDB counter ``rate``: per-series increase of a MONOTONIC counter
    per ``per_seconds``, reset-aware (ES time_series rate / PromQL rate
    semantics): a sample LOWER than its predecessor is a counter reset,
    and the post-reset value itself counts as increase from zero —
    increase = Σ (v_i - v_{i-1} if v_i >= v_{i-1} else v_i).

    Returns (series, samples BIGINT, increase DOUBLE, rate DOUBLE rounded
    6 — NULL for series with < 2 samples or a zero time span, per the
    undefined-rate contract).

    Shape: one series-keyed window (lag) sharing its exchange with the
    per-series aggregation — a single shuffle; per-series state is one
    lag row, never a collected array."""
    w = Window.partitionBy(series_col).orderBy(F.asc(ts_col), F.asc(value_col))
    v = F.col(value_col).cast("double")
    prev = F.lag(v, 1).over(w)
    inc = F.when(prev.isNull(), F.lit(None)).otherwise(
        F.when(v >= prev, v - prev).otherwise(v)
    )
    e = F.col(ts_col).cast("double")
    stepped = df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(series_col).alias("series"),
        e.alias("__e"),
        inc.alias("__inc"),
    )
    span = F.max("__e") - F.min("__e")
    return (
        stepped.groupBy("series")
        .agg(
            F.count(F.lit(1)).alias("samples"),
            F.round(F.sum("__inc"), 6).alias("increase"),
            F.round(
                F.try_divide(
                    F.sum("__inc") * F.lit(float(per_seconds)), span
                ),
                6,
            ).alias("rate"),
        )
        .orderBy("series")
    )


# -- continuous-aggregate query rewrite -------------------------------------

_UNIT_SECONDS = {
    "second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800,
}
_GRAIN_RE = __import__("re").compile(
    r"^\s*(\d+)\s+(second|minute|hour|day|week)s?\s*$"
)


def _grain_seconds(interval: str) -> int | None:
    """Seconds of a fixed-duration interval string ('2 hours'); None for
    calendar units (month/year) — those never enter the rewrite."""
    m = _GRAIN_RE.match(interval)
    if not m:
        return None
    return int(m.group(1)) * _UNIT_SECONDS[m.group(2)]


def rollup_rewrite(
    raw: DataFrame,
    ts_field: str,
    interval: str,
    rollups: dict[str, DataFrame],
    *,
    count_col: str = "doc_count",
) -> tuple[DataFrame, str]:
    """Continuous-aggregate query rewrite (the TimescaleDB/ES-rollup
    read path): answer a ``date_histogram(interval)`` from the COARSEST
    pre-aggregated rollup whose grain divides the requested interval,
    falling back to the raw rows only when none does.

    ``rollups`` maps grain ("1 hour") -> a (bucket TIMESTAMP,
    {count_col}) frame as produced by date_histogram at that grain (the
    continuous aggregate). Re-bucketing a rollup is exact because counts
    are decomposable and every fine bucket nests inside one coarse
    bucket when grain | interval (both epoch-aligned fixed durations).

    Returns (result frame, source used — the grain string or "raw").
    At 100 TB this is the difference between scanning a day-level
    aggregate (thousands of rows) and the events themselves; the rewrite
    is pure plan composition, no data moves until the caller executes."""
    want = _grain_seconds(interval)
    chosen = None
    if want is not None:
        # ANY registered fixed-duration grain qualifies, not a fixed menu
        divisors = {
            g: s
            for g in rollups
            if (s := _grain_seconds(g)) is not None and want % s == 0
        }
        if divisors:
            chosen = max(divisors, key=divisors.get)
    if chosen is None:
        out = date_histogram(raw, ts_field, interval)
        if count_col != "doc_count":  # fallback keeps the caller's schema
            out = out.withColumnRenamed("doc_count", count_col)
        return out, "raw"
    src = rollups[chosen]
    out = (
        src.groupBy(
            F.window("bucket", interval)["start"].alias("bucket")
        )
        .agg(F.sum(count_col).alias(count_col))
        .orderBy("bucket")
    )
    return out, chosen


def terms_ordered_by_metric(
    df: DataFrame,
    field: str,
    metric_field: str,
    *,
    metric: str = "sum",
    k: int = 10,
    ascending: bool = False,
) -> DataFrame:
    """ES ``terms`` agg with a metric ``order`` (the Kibana "order by
    sum/avg of field" panel): buckets ranked by a sub-aggregation value
    instead of doc_count. Ties pinned metric, then key ASC.

    One hash agg computes doc_count AND the ordering metric (no second
    pass); ranking is TakeOrderedAndProject. ``metric``: sum | avg |
    min | max. Metric rounded to 6 so cross-engine float summation order
    cannot flip a rank."""
    fns = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max}
    if metric not in fns:
        raise ValueError(f"unsupported metric: {metric!r}")
    m = F.round(fns[metric](F.col(metric_field)), 6)
    out = (
        df.where(F.col(field).isNotNull())
        .groupBy(field)
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            m.alias("metric"),
        )
    )
    order = (
        [F.asc_nulls_last("metric"), F.asc(field)]
        if ascending
        else [F.desc_nulls_last("metric"), F.asc(field)]
    )
    return out.orderBy(*order).limit(k)


def percentiles_sketch(
    df: DataFrame,
    field: str,
    probs: list[float] | None = None,
    *,
    n_bins: int = 256,
) -> DataFrame:
    """Mergeable binned quantile sketch — the 100 TB percentile path.

    The exact ``percentiles`` operator needs a global sort (fine as the
    oracle; a bottleneck at petabyte scale). This sketch is two
    map-combinable aggs: a (min, max) pass sizes ``n_bins`` equal-width
    bins, a bin-count pass histograms the column; each quantile then
    interpolates linearly inside the bin where the cumulative count
    crosses q*n. Bin counts merge by addition — the sketch distributes
    and re-aggregates freely (the t-digest property, with deterministic
    equal-width bins instead of adaptive centroids so the DuckDB oracle
    reproduces it bit-for-bit). Error is bounded by the bin width
    (range/n_bins), the documented accuracy knob.

    Returns (percentile, value) rows, value rounded to 6.
    """
    probs = probs or [0.25, 0.5, 0.75, 0.95, 0.99]
    for p in probs:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"percentile {p} outside [0, 1]")
    v = F.col(field).cast("double")
    base = df.where(v.isNotNull()).select(v.alias("__v"))
    bounds = base.agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    )
    binned = (
        base.crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.lit(n_bins - 1),
                F.floor(
                    (F.col("__v") - F.col("__lo"))
                    / ((F.col("__hi") - F.col("__lo")) / n_bins)
                ).cast("int"),
            ).alias("__bin"),
            "__lo", "__hi",
        )
        .groupBy("__bin", "__lo", "__hi")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    w = Window.orderBy("__bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = binned.select(
        "__bin", "__cnt", "__lo", "__hi",
        F.coalesce(F.sum("__cnt").over(w), F.lit(0)).alias("__before"),
        F.sum("__cnt").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__n"),
    )
    width = (F.col("__hi") - F.col("__lo")) / n_bins
    rows = []
    for p in probs:
        target = F.lit(float(p)) * F.col("__n")
        # the first bin whose cumulative count reaches the target
        hit = (
            cum.where(F.col("__before") + F.col("__cnt") >= target)
            .orderBy("__bin")
            .limit(1)
            .select(
                F.lit(float(p)).alias("percentile"),
                F.round(
                    F.col("__lo")
                    + F.col("__bin") * width
                    + F.greatest(
                        F.lit(0.0),
                        (target - F.col("__before")) / F.col("__cnt"),
                    ) * width,
                    6,
                ).alias("value"),
            )
        )
        rows.append(hit)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("percentile")


def percentiles_sketch_sql(
    table: str,
    field: str,
    probs: list[float] | None = None,
    *,
    n_bins: int = 256,
) -> str:
    """DuckDB replay of :func:`percentiles_sketch` — same bins, same
    crossing rule, same interpolation."""
    probs = probs or [0.25, 0.5, 0.75, 0.95, 0.99]
    picks = "\nUNION ALL\n".join(
        f"""(SELECT CAST({p!r} AS DOUBLE) AS percentile,
       ROUND(lo + bin * width
             + GREATEST(0.0, ({p!r} * n - before) / cnt) * width, 6)
         AS value
 FROM cum WHERE before + cnt >= {p!r} * n ORDER BY bin LIMIT 1)"""
        for p in probs
    )
    return f"""
WITH base AS (
  SELECT CAST({field} AS DOUBLE) AS v FROM {table}
  WHERE {field} IS NOT NULL
), bounds AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM base),
binned AS (
  SELECT LEAST({n_bins} - 1,
               CAST(FLOOR((v - lo) / ((hi - lo) / {n_bins})) AS INT))
           AS bin, lo, hi, COUNT(*) AS cnt
  FROM base CROSS JOIN bounds GROUP BY 1, 2, 3
),
cum AS (
  SELECT bin, cnt, lo, hi, (hi - lo) / {n_bins} AS width,
         COALESCE(SUM(cnt) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
         SUM(cnt) OVER () AS n
  FROM binned
)
SELECT percentile, value FROM ({picks}) ORDER BY percentile
"""


def hll_cardinality(df: DataFrame, field: str, *, p: int = 12) -> DataFrame:
    """HyperLogLog distinct-count estimate as DataFrame ops — the same
    register layout and estimator as
    ``functions.hashing.hll_cardinality_sql`` (shared 60-bit hash ->
    cross-engine-identical estimates; see that docstring for the pins).
    One map-combinable (bucket, MAX rho) agg over <= 2^p register rows;
    registers merge by MAX, so sketches union across partitions, days,
    or clusters for free — the 100 TB ``cardinality`` path where the
    exact count_distinct's full shuffle is the bottleneck."""
    from harmonize_search_analyze_spark.functions.hashing import (
        hash64_sql,
    )

    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    h = F.expr(hash64_sql(f"CAST({field} AS STRING)", "spark"))
    z = F.expr(
        f"({hash64_sql(f'CAST({field} AS STRING)', 'spark')}) DIV {m}"
    )
    rho = F.when(z == 0, F.lit(49)).otherwise(
        F.lit(49) - F.length(F.expr(f"bin({hash64_sql(f'CAST({field} AS STRING)', 'spark')} DIV {m})"))
    )
    regs = (
        df.where(F.col(field).isNotNull())
        .select((h % m).alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("r"))
    )
    s = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("sum2"),
        F.count(F.lit(1)).alias("nreg"),
    )
    raw = (
        F.lit(alpha) * m * m
        / (F.col("sum2") + (F.lit(m) - F.col("nreg")))
    )
    zeros = F.lit(m) - F.col("nreg")
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return s.select(F.round(est, 4).alias("estimate"))


def kmv_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    field: str,
    *,
    k: int = 256,
) -> DataFrame:
    """KMV (bottom-k / K-Minimum-Values, Beyer et al. 2007) sketch
    overlap between two corpora: estimated distinct counts per side,
    estimated distinct union, Jaccard, and intersection — the
    "how contaminated is corpus B with corpus A?" estimator that never
    joins the corpora, only their k-row sketches.

    Estimator pins (identical arithmetic on both engines, so the oracle
    comparison is exact):
    - sketch = k smallest DISTINCT 60-bit hashes (shared md5 family) —
      fully deterministic, mergeable by re-taking the k smallest of a
      sketch union (exactly how the union sketch is built here);
    - distinct estimate = (k-1) / (theta / 2^60) with theta the sketch
      max when the sketch is FULL, else the exact (sub-k) count;
    - Jaccard = |union-sketch members present in BOTH side sketches|
      / |union sketch| (the KMV set-operation rule: the union sketch is
      a uniform sample of the union's distinct values);
    - intersection = Jaccard * union estimate, from the UNROUNDED
      intermediates.

    Returns ONE row: (sketch_a, sketch_b, sketch_union, est_distinct_a,
    est_distinct_b, est_union, jaccard, est_intersection).

    Scale shape: per side one partial-agg distinct + TakeOrdered(k) —
    map-side heaps, no global sort; everything downstream operates on
    <= k-row frames (broadcast membership joins, single-row agg
    crossJoins). At 100 TB the sketches are also the incremental path:
    persist them per partition/day and merge by re-sketching the union.
    """
    from harmonize_search_analyze_spark.functions.hashing import (
        hash64_sql,
    )

    if k < 2:
        raise ValueError("k must be >= 2")
    two60 = 1152921504606846976.0  # 2^60, the hash family's range
    h = hash64_sql(f"CAST({field} AS STRING)", "spark")

    def sketch(df: DataFrame) -> DataFrame:
        return (
            df.where(F.col(field).isNotNull())
            .select(F.expr(h).alias("h"))
            .distinct()
            .orderBy("h")
            .limit(k)
        )

    # each k-row sketch feeds 2 consumers (stats agg + membership join),
    # the union sketch 2 — persist all three, tethered to the result
    sa = sketch(df_a).persist()
    sb = sketch(df_b).persist()
    su = (
        sa.unionAll(sb).distinct().orderBy("h").limit(k).persist()
    )
    stats = (
        sa.agg(F.count(F.lit(1)).alias("na"), F.max("h").alias("tha"))
        .crossJoin(
            sb.agg(F.count(F.lit(1)).alias("nb"), F.max("h").alias("thb"))
        )
        .crossJoin(
            su.agg(F.count(F.lit(1)).alias("nu"), F.max("h").alias("thu"))
        )
        .crossJoin(
            su.join(sa, "h").join(sb, "h").agg(
                F.count(F.lit(1)).alias("c_both")
            )
        )
    )

    def est(n: str, theta: str) -> Column:
        return F.when(
            F.col(n) < k, F.col(n).cast("double")
        ).otherwise(
            F.lit(float(k - 1)) * F.lit(two60)
            / F.col(theta).cast("double")
        )

    jac = F.when(F.col("nu") == 0, F.lit(0.0)).otherwise(
        F.col("c_both") / F.col("nu").cast("double")
    )
    out = stats.select(
        F.col("na").cast("bigint").alias("sketch_a"),
        F.col("nb").cast("bigint").alias("sketch_b"),
        F.col("nu").cast("bigint").alias("sketch_union"),
        F.round(est("na", "tha"), 4).alias("est_distinct_a"),
        F.round(est("nb", "thb"), 4).alias("est_distinct_b"),
        F.round(est("nu", "thu"), 4).alias("est_union"),
        F.round(jac, 6).alias("jaccard"),
        F.round(jac * est("nu", "thu"), 4).alias("est_intersection"),
    )
    from harmonize_search_analyze_spark.functions.caching import tether

    return tether(out, sa, sb, su)


def kmv_overlap_sql(
    table_a: str, table_b: str, field: str, dialect: str, *, k: int = 256
) -> str:
    """Dual-dialect twin of :func:`kmv_overlap` — identical sketches,
    identical estimator arithmetic on both engines."""
    from harmonize_search_analyze_spark.functions.hashing import (
        hash64_sql,
    )

    cast = "STRING" if dialect == "spark" else "VARCHAR"
    h = hash64_sql(f"CAST({field} AS {cast})", dialect)
    two60 = "1152921504606846976.0"
    est = lambda n, th: (  # noqa: E731
        f"CASE WHEN {n} < {k} THEN CAST({n} AS DOUBLE)"
        f" ELSE {float(k - 1)!r} * {two60} / CAST({th} AS DOUBLE) END"
    )
    jac = "CASE WHEN nu = 0 THEN 0.0 ELSE c_both / CAST(nu AS DOUBLE) END"
    return f"""
WITH sa AS (
  SELECT DISTINCT {h} AS h FROM {table_a}
  WHERE {field} IS NOT NULL ORDER BY h LIMIT {k}
),
sb AS (
  SELECT DISTINCT {h} AS h FROM {table_b}
  WHERE {field} IS NOT NULL ORDER BY h LIMIT {k}
),
su AS (
  SELECT DISTINCT h FROM
    (SELECT h FROM sa UNION ALL SELECT h FROM sb) u
  ORDER BY h LIMIT {k}
),
stats AS (
  SELECT (SELECT COUNT(*) FROM sa) AS na, (SELECT MAX(h) FROM sa) AS tha,
         (SELECT COUNT(*) FROM sb) AS nb, (SELECT MAX(h) FROM sb) AS thb,
         (SELECT COUNT(*) FROM su) AS nu, (SELECT MAX(h) FROM su) AS thu,
         (SELECT COUNT(*) FROM su
          JOIN sa ON su.h = sa.h JOIN sb ON su.h = sb.h) AS c_both
)
SELECT CAST(na AS BIGINT) AS sketch_a,
       CAST(nb AS BIGINT) AS sketch_b,
       CAST(nu AS BIGINT) AS sketch_union,
       ROUND({est('na', 'tha')}, 4) AS est_distinct_a,
       ROUND({est('nb', 'thb')}, 4) AS est_distinct_b,
       ROUND({est('nu', 'thu')}, 4) AS est_union,
       ROUND({jac}, 6) AS jaccard,
       ROUND(({jac}) * ({est('nu', 'thu')}), 4) AS est_intersection
FROM stats
"""


def join_size_estimate(
    df_a: DataFrame,
    df_b: DataFrame,
    key: str,
    *,
    k: int = 256,
) -> DataFrame:
    """Sketch-based equi-join cardinality estimate — the optimizer
    statistic that answers "how many rows will A JOIN B ON key produce"
    WITHOUT running the join (the decision input for broadcast-vs-
    shuffle, pre-aggregation, and skew planning at 100 TB, where an
    unexpected fan-out join is the classic cluster-killer).

    Estimator (uniform per-key multiplicity; the textbook
    System-R-style formula computed from KMV sketches instead of
    catalog stats):

        |A JOIN B| ~= D_overlap * (N_A / D_A) * (N_B / D_B)

    with D_A/D_B/D_overlap the KMV bottom-k distinct/intersection
    estimates (identical sketch + arithmetic as :func:`kmv_overlap`,
    shared md5 hash family, so the DuckDB oracle replays it EXACTLY)
    and N_A/N_B exact non-null-key row counts. Skewed keys make the
    true size exceed this estimate — that is the estimator's known
    bias (it underestimates under skew, never because of the sketch),
    documented rather than hidden.

    Returns ONE row: (rows_a, rows_b, est_distinct_a, est_distinct_b,
    est_key_overlap, est_join_rows).

    Scale shape: per side one map-combinable count + one TakeOrdered(k)
    sketch (map-side heaps); everything downstream is <= k-row frames
    and 1-row crossJoins. Never touches A x B.
    """
    from harmonize_search_analyze_spark.functions.caching import tether
    from harmonize_search_analyze_spark.functions.hashing import (
        hash64_sql,
    )

    if k < 2:
        raise ValueError("k must be >= 2")
    two60 = 1152921504606846976.0  # 2^60, the hash family's range
    h = hash64_sql(f"CAST({key} AS STRING)", "spark")

    def sketch(df: DataFrame) -> DataFrame:
        return (
            df.where(F.col(key).isNotNull())
            .select(F.expr(h).alias("h"))
            .distinct()
            .orderBy("h")
            .limit(k)
        )

    sa = sketch(df_a).persist()
    sb = sketch(df_b).persist()
    su = sa.unionAll(sb).distinct().orderBy("h").limit(k).persist()
    stats = (
        df_a.where(F.col(key).isNotNull())
        .agg(F.count(F.lit(1)).alias("ra"))
        .crossJoin(
            df_b.where(F.col(key).isNotNull())
            .agg(F.count(F.lit(1)).alias("rb"))
        )
        .crossJoin(
            sa.agg(F.count(F.lit(1)).alias("na"), F.max("h").alias("tha"))
        )
        .crossJoin(
            sb.agg(F.count(F.lit(1)).alias("nb"), F.max("h").alias("thb"))
        )
        .crossJoin(
            su.agg(F.count(F.lit(1)).alias("nu"), F.max("h").alias("thu"))
        )
        .crossJoin(
            su.join(sa, "h").join(sb, "h").agg(
                F.count(F.lit(1)).alias("c_both")
            )
        )
    )

    def est(n: str, theta: str) -> Column:
        return F.when(
            F.col(n) < k, F.col(n).cast("double")
        ).otherwise(
            F.lit(float(k - 1)) * F.lit(two60)
            / F.col(theta).cast("double")
        )

    jac = F.when(F.col("nu") == 0, F.lit(0.0)).otherwise(
        F.col("c_both") / F.col("nu").cast("double")
    )
    overlap = jac * est("nu", "thu")
    da, db = est("na", "tha"), est("nb", "thb")
    join_rows = (
        F.when((da > 0) & (db > 0),
               overlap * (F.col("ra") / da) * (F.col("rb") / db))
        .otherwise(F.lit(0.0))
    )
    out = stats.select(
        F.col("ra").cast("bigint").alias("rows_a"),
        F.col("rb").cast("bigint").alias("rows_b"),
        F.round(da, 4).alias("est_distinct_a"),
        F.round(db, 4).alias("est_distinct_b"),
        F.round(overlap, 4).alias("est_key_overlap"),
        F.round(join_rows, 2).alias("est_join_rows"),
    )
    return tether(out, sa, sb, su)


def join_size_estimate_sql(
    table_a: str, table_b: str, key: str, dialect: str, *, k: int = 256
) -> str:
    """Dual-dialect twin of :func:`join_size_estimate` — identical
    sketches, identical estimator arithmetic on both engines."""
    from harmonize_search_analyze_spark.functions.hashing import (
        hash64_sql,
    )

    cast = "STRING" if dialect == "spark" else "VARCHAR"
    h = hash64_sql(f"CAST({key} AS {cast})", dialect)
    two60 = "1152921504606846976.0"
    est = lambda n, th: (  # noqa: E731
        f"CASE WHEN {n} < {k} THEN CAST({n} AS DOUBLE)"
        f" ELSE {float(k - 1)!r} * {two60} / CAST({th} AS DOUBLE) END"
    )
    jac = "CASE WHEN nu = 0 THEN 0.0 ELSE c_both / CAST(nu AS DOUBLE) END"
    da, db = est("na", "tha"), est("nb", "thb")
    overlap = f"({jac}) * ({est('nu', 'thu')})"
    join_rows = (
        f"CASE WHEN ({da}) > 0 AND ({db}) > 0 THEN"
        f" ({overlap}) * (ra / ({da})) * (rb / ({db}))"
        f" ELSE 0.0 END"
    )
    return f"""
WITH sa AS (
  SELECT DISTINCT {h} AS h FROM {table_a}
  WHERE {key} IS NOT NULL ORDER BY h LIMIT {k}
),
sb AS (
  SELECT DISTINCT {h} AS h FROM {table_b}
  WHERE {key} IS NOT NULL ORDER BY h LIMIT {k}
),
su AS (
  SELECT DISTINCT h FROM
    (SELECT h FROM sa UNION ALL SELECT h FROM sb) u
  ORDER BY h LIMIT {k}
),
stats AS (
  SELECT (SELECT COUNT(*) FROM {table_a} WHERE {key} IS NOT NULL) AS ra,
         (SELECT COUNT(*) FROM {table_b} WHERE {key} IS NOT NULL) AS rb,
         (SELECT COUNT(*) FROM sa) AS na, (SELECT MAX(h) FROM sa) AS tha,
         (SELECT COUNT(*) FROM sb) AS nb, (SELECT MAX(h) FROM sb) AS thb,
         (SELECT COUNT(*) FROM su) AS nu, (SELECT MAX(h) FROM su) AS thu,
         (SELECT COUNT(*) FROM su
          JOIN sa ON su.h = sa.h JOIN sb ON su.h = sb.h) AS c_both
)
SELECT CAST(ra AS BIGINT) AS rows_a,
       CAST(rb AS BIGINT) AS rows_b,
       ROUND({da}, 4) AS est_distinct_a,
       ROUND({db}, 4) AS est_distinct_b,
       ROUND({overlap}, 4) AS est_key_overlap,
       ROUND({join_rows}, 2) AS est_join_rows
FROM stats
"""


def _countmin_cell_sql(
    item_expr: str, a: int, b: int, width: int, dialect: str
) -> str:
    """Column index of one Count-Min row for ``item_expr``: universal
    hash ``(a*(h%P) + b) % P`` over the shared cross-engine 60-bit hash,
    folded to ``width`` buckets. a, b < P = 2^31 and h%P < 2^31 keep
    every partial product under 2^62 — no int64 overflow on either
    engine."""
    from harmonize_search_analyze_spark.functions.hashing import (
        MERSENNE_P,
        hash64_sql,
    )

    h = hash64_sql(item_expr, dialect)
    return f"CAST((({a} * (({h}) % {MERSENNE_P}) + {b}) % {MERSENNE_P}) % {width} AS INT)"


def countmin_sketch(
    df: DataFrame,
    field: str,
    *,
    depth: int = 4,
    width: int = 2048,
    seed: int = 7,
) -> DataFrame:
    """Count-Min sketch cells ``(r, c, n)`` — the fixed-memory frequency
    summary for the 100 TB heavy-hitter path (Cormode & Muthukrishnan
    2005). One scan: each value fans out to its ``depth`` (row, column)
    cells via ``inline`` (codegen'd, no Python), then ONE map-combinable
    count — shuffle volume is bounded by depth*width cells per map task
    regardless of input size, and sketches MERGE by (r, c) addition
    across partitions, days, or clusters. Point-estimate guarantee:
    min over rows >= true count (never under), with overestimate
    bounded by e*N/width at probability 1 - e^-depth."""
    from harmonize_search_analyze_spark.functions.hashing import (
        minhash_params,
    )

    item = f"CAST({field} AS STRING)"
    structs = ", ".join(
        f"named_struct('r', {i}, 'c', "
        f"{_countmin_cell_sql(item, a, b, width, 'spark')})"
        for i, (a, b) in enumerate(minhash_params(depth, seed))
    )
    return (
        df.where(F.col(field).isNotNull())
        .selectExpr(f"inline(array({structs}))")
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def countmin_topk(
    df: DataFrame,
    field: str,
    *,
    k: int = 20,
    depth: int = 4,
    width: int = 2048,
    seed: int = 7,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Heavy hitters answered FROM the Count-Min sketch: each candidate
    item probes its ``depth`` cells and takes the row-minimum count.
    ``candidates`` defaults to the input's distinct values (the batch
    shape the oracle replays); at 100 TB pass a cheap sample-derived
    candidate frame instead and the sketch — depth*width cells,
    broadcast below — prices every candidate without rescanning the
    corpus. Returns (item, est) with est >= the true count, ordered
    (est DESC, item ASC), top k."""
    from harmonize_search_analyze_spark.functions.hashing import (
        minhash_params,
    )

    sketch = countmin_sketch(
        df, field, depth=depth, width=width, seed=seed
    )
    cand = (
        candidates
        if candidates is not None
        else df.where(F.col(field).isNotNull())
        .select(F.col(field).cast("string").alias("item"))
        .distinct()
    )
    probes = ", ".join(
        f"named_struct('r', {i}, 'c', "
        f"{_countmin_cell_sql('item', a, b, width, 'spark')})"
        for i, (a, b) in enumerate(minhash_params(depth, seed))
    )
    probed = cand.selectExpr(
        "item", f"inline(array({probes}))"
    )
    return (
        probed.join(F.broadcast(sketch), ["r", "c"])
        .groupBy("item")
        .agg(F.min("n").alias("est"))
        .orderBy(F.desc("est"), F.asc("item"))
        .limit(k)
    )


def countmin_topk_sql(
    source_sql: str,
    dialect: str,
    *,
    k: int = 20,
    depth: int = 4,
    width: int = 2048,
    seed: int = 7,
) -> str:
    """Dual-dialect twin of :func:`countmin_topk`. ``source_sql`` is a
    subquery yielding one TEXT column ``item`` per occurrence; the
    sketch build is a UNION ALL of ``depth`` single-row aggs (an oracle
    rendering — the Spark operator fans out with ``inline`` in one
    scan)."""
    from harmonize_search_analyze_spark.functions.hashing import (
        minhash_params,
    )

    params = minhash_params(depth, seed)
    cells = "\n  UNION ALL ".join(
        f"SELECT {i} AS r, "
        f"{_countmin_cell_sql('item', a, b, width, dialect)} AS c, "
        f"COUNT(*) AS n FROM items GROUP BY 2"
        for i, (a, b) in enumerate(params)
    )
    probes = "\n  UNION ALL ".join(
        f"SELECT item, {i} AS r, "
        f"{_countmin_cell_sql('item', a, b, width, dialect)} AS c "
        f"FROM cand"
        for i, (a, b) in enumerate(params)
    )
    return f"""
WITH items AS ({source_sql}),
cells AS (
  {cells}
),
cand AS (SELECT DISTINCT item FROM items),
probes AS (
  {probes}
)
SELECT item, CAST(MIN(n) AS BIGINT) AS est
FROM probes JOIN cells USING (r, c)
GROUP BY item
ORDER BY est DESC, item ASC LIMIT {k}
"""


def hll_registers_by(
    df: DataFrame,
    group_col: str,
    field: str,
    *,
    p: int = 12,
) -> DataFrame:
    """The register stage of :func:`hll_cardinality_by` on its own:
    (grp, bucket, r) rows — ONE map-combinable agg, so it runs
    unchanged on a stream (the continuous shape: registers ARE the
    state, merging by MAX; estimates are a batch view over them —
    chained aggregations don't stream, and shouldn't)."""
    from harmonize_search_analyze_spark.functions.hashing import (
        hash64_sql,
    )

    m = 1 << p
    h = hash64_sql(f"CAST({field} AS STRING)", "spark")
    rho = (
        f"CASE WHEN ({h}) DIV {m} = 0 THEN 49 "
        f"ELSE 49 - length(bin(({h}) DIV {m})) END"
    )
    return (
        df.where(F.col(field).isNotNull() & F.col(group_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"),
            F.expr(f"({h}) % {m}").alias("bucket"),
        )
        .agg(F.max(F.expr(rho)).alias("r"))
    )


def hll_cardinality_by(
    df: DataFrame,
    group_col: str,
    field: str,
    *,
    p: int = 12,
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimates — the 100 TB
    "distinct users per segment" path. Same register layout/estimator
    as :func:`hll_cardinality`, keyed by ``group_col``: one
    map-combinable (group, bucket, MAX rho) agg (<= 2^p registers per
    group), then a group-level estimator fold. Register frames merge
    by MAX across days/clusters, so per-group sketches are as
    incremental as the global one. Returns (group, estimate) ordered
    by group."""
    regs = hll_registers_by(df, group_col, field, p=p)
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    s = regs.groupBy("grp").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("sum2"),
        F.count(F.lit(1)).alias("nreg"),
    )
    raw = (
        F.lit(alpha) * m * m / (F.col("sum2") + (F.lit(m) - F.col("nreg")))
    )
    zeros = F.lit(m) - F.col("nreg")
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return (
        s.select(
            F.col("grp").alias(group_col),
            F.round(est, 4).alias("estimate"),
        )
        .orderBy(group_col)
    )


def downsample(
    df: DataFrame,
    ts_col: str,
    interval: str,
    *,
    dims: list[str],
    gauges: list[str] | None = None,
    counters: list[str] | None = None,
) -> DataFrame:
    """ES TSDB ``_downsample`` API: one document per (dimensions, fixed
    time bucket) carrying, for each GAUGE metric, the min/max/sum/
    value_count pre-aggregates ES stores (any downstream avg/min/max/
    sum/count over the downsampled index recomposes exactly), and for
    each COUNTER its last value in the bucket (at the max timestamp;
    ties pinned to the max value — one struct-max, no window). ONE hash
    agg over (dims, bucket): the 100 TB retention path — the raw
    time-series index drops, queries re-target the downsampled one
    (see ``rollup_rewrite`` for the query-rewrite side)."""
    gauges = gauges or []
    counters = counters or []
    aggs = [F.count(F.lit(1)).alias("_doc_count")]
    for g in gauges:
        v = F.col(g).cast("double")
        aggs += [
            F.round(F.min(v), 6).alias(f"{g}_min"),
            F.round(F.max(v), 6).alias(f"{g}_max"),
            F.round(F.sum(v), 6).alias(f"{g}_sum"),
            F.count(v).alias(f"{g}_value_count"),
        ]
    for c in counters:
        aggs.append(
            F.max(F.struct(F.col(ts_col), F.col(c)))[c].alias(
                f"{c}_last_value"
            )
        )
    out = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(
            *dims,
            F.window(ts_col, interval)["start"].alias("bucket"),
        )
        .agg(*aggs)
    )
    return out.orderBy(*[F.asc(d) for d in dims], F.asc("bucket"))


def downsample_sql(
    table: str,
    ts_col: str,
    interval: str,
    dialect: str,
    *,
    dims: list[str],
    gauges: list[str] | None = None,
    counters: list[str] | None = None,
) -> str:
    """Dual-dialect twin of :func:`downsample`. ``interval`` must be an
    epoch-aligned fixed width (hours/minutes) so Spark's window() and
    DuckDB's time_bucket() agree on bucket starts."""
    gauges = gauges or []
    counters = counters or []
    cols = [f"{d}" for d in dims]
    if dialect == "spark":
        bucket = f"window({ts_col}, '{interval}').start"
    else:
        bucket = f"time_bucket(INTERVAL '{interval}', {ts_col})"
    sel = [*cols, f"{bucket} AS bucket", "COUNT(*) AS _doc_count"]
    for g in gauges:
        v = f"CAST({g} AS DOUBLE)"
        sel += [
            f"ROUND(MIN({v}), 6) AS {g}_min",
            f"ROUND(MAX({v}), 6) AS {g}_max",
            f"ROUND(SUM({v}), 6) AS {g}_sum",
            f"COUNT({g}) AS {g}_value_count",
        ]
    for c in counters:
        if dialect == "spark":
            sel.append(
                f"max(struct({ts_col}, {c})).{c} AS {c}_last_value"
            )
        else:
            sel.append(
                f"MAX(ROW({ts_col}, {c}))[2] AS {c}_last_value"
            )
    dim_list = ", ".join(cols) + (", " if cols else "")
    order = ", ".join([*(f"{d} ASC" for d in dims), "bucket ASC"])
    return (
        f"SELECT {', '.join(sel)} FROM {table} "
        f"WHERE {ts_col} IS NOT NULL "
        f"GROUP BY {dim_list}bucket ORDER BY {order}"
    )


def percentiles_sketch_by(
    df: DataFrame,
    group_col: str,
    field: str,
    probs: list[float] | None = None,
    *,
    n_bins: int = 256,
) -> DataFrame:
    """Per-group binned quantile sketch — "p95 latency per segment" at
    100 TB, where per-group exact percentiles would global-sort every
    group. Same construction as :func:`percentiles_sketch`, keyed by
    ``group_col``: per-group (min, max) bounds (one map-combinable agg,
    broadcast back — group cardinality is broadcast-sized by the same
    contract as every dimension table here), per-(group, bin) counts
    (the second map-combinable agg), then bin-LEVEL windows and one
    struct-min per (group, percentile) for the interpolation. Bin
    counts merge by addition. Returns (group, percentile, value)."""
    probs = probs or [0.25, 0.5, 0.75, 0.95, 0.99]
    for p in probs:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"percentile {p} outside [0, 1]")
    v = F.col(field).cast("double")
    base = df.where(v.isNotNull() & F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("__g"), v.alias("__v")
    )
    bounds = base.groupBy("__g").agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    )
    binned = (
        base.join(F.broadcast(bounds), "__g")
        .select(
            "__g",
            F.least(
                F.lit(n_bins - 1),
                F.coalesce(
                    F.floor(
                        F.try_divide(
                            F.col("__v") - F.col("__lo"),
                            (F.col("__hi") - F.col("__lo")) / n_bins,
                        )
                    ).cast("int"),
                    F.lit(0),  # degenerate single-value group: hi == lo
                ),
            ).alias("__bin"),
            "__lo", "__hi",
        )
        .groupBy("__g", "__bin", "__lo", "__hi")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    wg = Window.partitionBy("__g").orderBy("__bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wn = Window.partitionBy("__g")
    cum = binned.select(
        "__g", "__bin", "__cnt", "__lo", "__hi",
        F.coalesce(F.sum("__cnt").over(wg), F.lit(0)).alias("__before"),
        F.sum("__cnt").over(wn).alias("__n"),
    )
    width = (F.col("__hi") - F.col("__lo")) / n_bins
    rows = []
    for p in probs:
        target = F.lit(float(p)) * F.col("__n")
        interp = F.round(
            F.col("__lo")
            + F.col("__bin") * width
            + F.greatest(
                F.lit(0.0),
                (target - F.col("__before")) / F.col("__cnt"),
            ) * width,
            6,
        )
        rows.append(
            cum.where(F.col("__before") + F.col("__cnt") >= target)
            .groupBy("__g")
            .agg(
                F.lit(float(p)).alias("percentile"),
                F.min_by(interp, F.col("__bin")).alias("value"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.select(
        F.col("__g").alias(group_col), "percentile", "value"
    ).orderBy(group_col, "percentile")


def percentiles_sketch_by_sql(
    table: str,
    group_col: str,
    field: str,
    probs: list[float] | None = None,
    *,
    n_bins: int = 256,
) -> str:
    """DuckDB twin of :func:`percentiles_sketch_by`."""
    probs = probs or [0.25, 0.5, 0.75, 0.95, 0.99]
    arms = "\n  UNION ALL ".join(
        f"""SELECT g AS {group_col}, CAST({p!r} AS DOUBLE) AS percentile,
       arg_min(ROUND(lo + bin * w
                     + GREATEST(0.0, ({p!r} * n - bef) / cnt) * w, 6),
               bin) AS value
    FROM cum WHERE bef + cnt >= {p!r} * n GROUP BY g"""
        for p in probs
    )
    return f"""
WITH base AS (
  SELECT {group_col} AS g, CAST({field} AS DOUBLE) AS v
  FROM {table}
  WHERE {field} IS NOT NULL AND {group_col} IS NOT NULL
),
bounds AS (SELECT g, MIN(v) AS lo, MAX(v) AS hi FROM base GROUP BY g),
binned AS (
  SELECT base.g,
         LEAST({n_bins - 1},
               CASE WHEN hi = lo THEN 0
                    ELSE CAST(FLOOR((v - lo) / ((hi - lo) / {n_bins}))
                              AS INTEGER) END) AS bin,
         lo, hi, COUNT(*) AS cnt
  FROM base JOIN bounds ON base.g = bounds.g
  GROUP BY 1, 2, 3, 4
),
cum AS (
  SELECT g, bin, cnt, lo, hi, (hi - lo) / {n_bins} AS w,
         COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY bin
                                 ROWS UNBOUNDED PRECEDING), cnt) - cnt
           AS bef,
         SUM(cnt) OVER (PARTITION BY g) AS n
  FROM binned
)
SELECT * FROM (
  {arms}
) ORDER BY {group_col}, percentile
"""


def collapse_inner_hits(
    df: DataFrame,
    field: str,
    sort_col: str,
    *,
    k: int = 10,
    size: int = 3,
    ascending: bool = False,
    tie_col: str | None = None,
) -> DataFrame:
    """ES search ``collapse`` with ``inner_hits``: the top-``k``
    collapsed groups (ranked by their best hit, like :func:`collapse`)
    each expanded to their ``size`` best hits, with the in-group
    ``inner_rank``. One window shuffle keyed by the collapse field;
    the winning-groups frame is k-sized and broadcast back — the
    expansion never re-sorts all hits. Ordered (group's best first,
    then inner_rank)."""
    order = F.asc(sort_col) if ascending else F.desc(sort_col)
    inner = [order] + ([F.asc(tie_col)] if tie_col else [])
    w = Window.partitionBy(field).orderBy(*inner)
    ranked = df.where(F.col(field).isNotNull()).withColumn(
        "__rn", F.row_number().over(w)
    )
    tops = (
        ranked.where(F.col("__rn") == 1)
        .select(
            F.col(field).alias("__grp"),
            F.col(sort_col).cast("double").alias("__best"),
        )
        .orderBy(
            F.asc("__best") if ascending else F.desc("__best"),
            F.asc("__grp"),
        )
        .limit(k)
    )
    keep = [c for c in df.columns if c != field]
    return (
        ranked.where(F.col("__rn") <= size)
        .join(F.broadcast(tops), ranked[field] == F.col("__grp"))
        .select(
            F.col(field),
            F.col("__rn").alias("inner_rank"),
            F.round(F.col("__best"), 6).alias("group_best"),
            *keep,
        )
        .orderBy(
            F.asc("group_best") if ascending else F.desc("group_best"),
            F.asc(field),
            F.asc("inner_rank"),
        )
    )


def terms_approx(
    df: DataFrame,
    field: str,
    *,
    k: int = 10,
    n_shards: int = 8,
    shard_size: int | None = None,
    id_col: str = "event_id",
) -> DataFrame:
    """ES terms agg with SHARD semantics — the approximation ES
    actually ships (and this engine's exact `terms` avoids): each
    shard contributes only its local top ``shard_size`` terms, the
    coordinator sums what it received, and
    ``doc_count_error_upper_bound`` = the sum of the cut-off line
    (each non-reporting shard's last reported count) — the published
    bound on how much a returned count may undercount.

    Shards here are DETERMINISTIC (hash(id) % n_shards computed
    in-query), so the whole algorithm — truncation, merge, error
    bound — is replayable by the SQL oracle; on a real cluster the
    physical partitioning plays the shard role and the shape is the
    same per-shard agg + k-sized merge, which is the point at 100 TB:
    shuffle volume is n_shards*shard_size rows, not every distinct
    term. Returns (field, doc_count, doc_count_error_upper_bound),
    top-k by merged count."""
    from harmonize_search_analyze_spark.functions.hashing import (
        hash64_sql,
    )

    shard_size = shard_size if shard_size is not None else k + 4
    shard = f"({hash64_sql(f'CAST({id_col} AS STRING)', 'spark')}) % {n_shards}"
    per = (
        df.where(F.col(field).isNotNull())
        .groupBy(
            F.expr(shard).alias("__shard"), F.col(field).alias("term")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("__shard").orderBy(
        F.desc("n"), F.asc("term")
    )
    ranked = per.withColumn("__rn", F.row_number().over(w))
    sent = ranked.where(F.col("__rn") <= shard_size)
    # each shard's cut-off line: the count of the LAST term it
    # reported — but a shard that returned ALL of its terms (fewer
    # than shard_size distinct) cannot be hiding anything, so ES pins
    # its error contribution to 0 (only truncated shards contribute).
    cutoff = (
        ranked.withColumn(
            "__total", F.max("__rn").over(Window.partitionBy("__shard"))
        )
        .where(
            F.col("__rn") == F.least(F.lit(shard_size), F.col("__total"))
        )
        .select(
            "__shard",
            F.when(F.col("__total") < shard_size, F.lit(0))
            .otherwise(F.col("n"))
            .alias("__cut"),
        )
    )
    merged = sent.groupBy("term").agg(F.sum("n").alias("doc_count"))
    total_cut = cutoff.agg(
        F.sum("__cut").alias("__all_cut")
    )
    seen_cut = (
        sent.join(cutoff, "__shard")
        .groupBy("term")
        .agg(F.sum("__cut").alias("__seen_cut"))
    )
    return (
        merged.join(seen_cut, "term")
        .crossJoin(F.broadcast(total_cut))
        .select(
            F.col("term").alias(field),
            "doc_count",
            (F.col("__all_cut") - F.col("__seen_cut")).alias(
                "doc_count_error_upper_bound"
            ),
        )
        .orderBy(F.desc("doc_count"), F.asc(field))
        .limit(k)
    )


def forecast_backtest(
    buckets: DataFrame,
    bucket_col: str,
    value_col: str = "doc_count",
    *,
    fn: str = "holt",
    window: int = 7,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.1,
    period: int = 7,
) -> DataFrame:
    """One-step forecast BACKTEST of the :func:`moving_fn` family — the
    eval layer the smoothing knobs are tuned against: every bucket's
    trailing-window forecast is compared to what actually happened.
    Returns ONE row: ``(n_eval, mae, rmse, mape, mase)`` rounded 6.

    Pins: the evaluation set is buckets with BOTH a forecast (full
    enough trailing window) and a previous bucket (the naive
    denominator's requirement) — the same rows feed every metric, so
    MASE = MAE / mean|v_t - v_{t-1}| compares like for like (in-sample
    naive scaling, Hyndman & Koehler 2006). MAPE skips zero actuals
    (the standard undefined case); all-zero actuals give NULL mape.
    MASE is NULL when the naive denominator is 0 (a constant series).

    Bucket-level: inherits moving_fn's single-task window contract —
    the input is an already-aggregated bucket frame, never raw rows.
    """
    preds = moving_fn(
        buckets, bucket_col, value_col, fn=fn, window=window,
        alpha=alpha, beta=beta, gamma=gamma, period=period,
    )
    w = Window.orderBy(bucket_col)
    v = F.col(value_col).cast("double")
    evald = (
        preds.withColumn("__prev", F.lag(v, 1).over(w))
        .where(F.col("moving_fn").isNotNull()
               & F.col("__prev").isNotNull())
    )
    err = v - F.col("moving_fn")
    naive = F.abs(v - F.col("__prev"))
    return evald.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        F.round(F.avg(F.abs(err)), 6).alias("mae"),
        F.round(F.sqrt(F.avg(err * err)), 6).alias("rmse"),
        F.round(
            F.avg(F.when(v != 0, F.abs(err) / F.abs(v))), 6
        ).alias("mape"),
        F.round(
            F.try_divide(F.avg(F.abs(err)), F.avg(naive)), 6
        ).alias("mase"),
    )

def source_overlap_matrix(
    df: DataFrame,
    field: str,
    group_col: str,
    *,
    k: int = 256,
) -> DataFrame:
    """Pairwise KMV-sketch overlap between EVERY pair of sources — the
    sketch-based mixture-design matrix ("which feeds share documents?")
    that generalizes :func:`kmv_overlap` from one pair to all pairs
    while still never joining the corpora: each source contributes ONE
    k-row bottom-k sketch, and every pair estimate derives from the
    union of two sketches (the KMV set-operation rule). Returns
    ``(source_a, source_b, sketch_union, est_union, jaccard,
    est_intersection)`` for ``source_a < source_b``, rounded like
    kmv_overlap, ordered.

    Scale shape: one (group, hash) distinct agg + one per-group bottom-k
    window (both shuffles share the group key); the pair stage operates
    on S^2 * k sketch rows — a per-SOURCE matrix (S bounded by
    contract, the source_jsd_matrix caveat), never per-document.
    """
    from harmonize_search_analyze_spark.functions.hashing import (
        hash64_sql,
    )

    if k < 2:
        raise ValueError("k must be >= 2")
    two60 = 1152921504606846976.0
    h = hash64_sql(f"CAST({field} AS STRING)", "spark")
    wk = Window.partitionBy("__g").orderBy("h")
    sk = (
        df.where(F.col(field).isNotNull() & F.col(group_col).isNotNull())
        .select(F.col(group_col).alias("__g"), F.expr(h).alias("h"))
        .distinct()
        .withColumn("__rn", F.row_number().over(wk))
        .where(F.col("__rn") <= k)
        .drop("__rn")
        .persist()
    )
    groups = sk.select("__g").distinct()
    spine = (
        groups.select(F.col("__g").alias("source_a"))
        .crossJoin(groups.select(F.col("__g").alias("source_b")))
        .where(F.col("source_a") < F.col("source_b"))
    )
    ha = spine.join(
        sk.select(F.col("__g").alias("source_a"), "h",
                  F.lit(1).alias("__ia")),
        "source_a",
    )
    hb = spine.join(
        sk.select(F.col("__g").alias("source_b"), "h",
                  F.lit(1).alias("__ib")),
        "source_b",
    )
    merged = ha.join(hb, ["source_a", "source_b", "h"], "full").select(
        "source_a", "source_b", "h",
        F.coalesce("__ia", F.lit(0)).alias("__ia"),
        F.coalesce("__ib", F.lit(0)).alias("__ib"),
    )
    wp = Window.partitionBy("source_a", "source_b").orderBy("h")
    kept = merged.withColumn("__rn", F.row_number().over(wp)).where(
        F.col("__rn") <= k
    )
    stats = kept.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("__nu"),
        F.max("h").alias("__thu"),
        F.sum(F.col("__ia") * F.col("__ib")).alias("__c_both"),
    )
    est_u = F.when(
        F.col("__nu") < k, F.col("__nu").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(two60) / F.col("__thu").cast("double")
    )
    jac = F.when(F.col("__nu") == 0, F.lit(0.0)).otherwise(
        F.col("__c_both") / F.col("__nu").cast("double")
    )
    from harmonize_search_analyze_spark.functions.caching import tether

    out = stats.select(
        "source_a", "source_b",
        F.col("__nu").cast("bigint").alias("sketch_union"),
        F.round(est_u, 4).alias("est_union"),
        F.round(jac, 6).alias("jaccard"),
        F.round(jac * est_u, 4).alias("est_intersection"),
    ).orderBy("source_a", "source_b")
    return tether(out, sk)


def source_overlap_matrix_sql(
    table: str,
    field: str,
    group_col: str,
    dialect: str,
    *,
    k: int = 256,
) -> str:
    """Dual-dialect twin of :func:`source_overlap_matrix` (identical
    text — windows and the KMV estimator arithmetic are shared SQL)."""
    from harmonize_search_analyze_spark.functions.hashing import (
        hash64_sql,
    )

    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    h = hash64_sql(f"CAST({field} AS STRING)", dialect)
    two60 = "1152921504606846976.0"
    return f"""
WITH hashes AS (
  SELECT DISTINCT {group_col} AS g, {h} AS h
  FROM {table}
  WHERE {field} IS NOT NULL AND {group_col} IS NOT NULL
),
sk AS (
  SELECT g, h FROM (
    SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
    FROM hashes
  ) t WHERE rn <= {k}
),
groups AS (SELECT DISTINCT g FROM sk),
spine AS (
  SELECT a.g AS sa, b.g AS sb
  FROM groups a CROSS JOIN groups b WHERE a.g < b.g
),
merged AS (
  SELECT COALESCE(ha.sa, hb.sa) AS sa, COALESCE(ha.sb, hb.sb) AS sb,
         COALESCE(ha.h, hb.h) AS h,
         CASE WHEN ha.h IS NULL THEN 0 ELSE 1 END AS ia,
         CASE WHEN hb.h IS NULL THEN 0 ELSE 1 END AS ib
  FROM (SELECT spine.sa, spine.sb, sk.h
        FROM spine JOIN sk ON sk.g = spine.sa) ha
  FULL OUTER JOIN (SELECT spine.sa, spine.sb, sk.h
        FROM spine JOIN sk ON sk.g = spine.sb) hb
    ON ha.sa = hb.sa AND ha.sb = hb.sb AND ha.h = hb.h
),
kept AS (
  SELECT * FROM (
    SELECT sa, sb, h, ia, ib,
           ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
    FROM merged
  ) t WHERE rn <= {k}
),
stats AS (
  SELECT sa, sb, COUNT(*) AS nu, MAX(h) AS thu,
         SUM(ia * ib) AS c_both
  FROM kept GROUP BY sa, sb
)
SELECT sa AS source_a, sb AS source_b,
       CAST(nu AS BIGINT) AS sketch_union,
       ROUND(CASE WHEN nu < {k} THEN CAST(nu AS DOUBLE)
                  ELSE {k - 1} * {two60} / CAST(thu AS DOUBLE) END, 4)
         AS est_union,
       ROUND(CASE WHEN nu = 0 THEN 0.0
                  ELSE c_both / CAST(nu AS DOUBLE) END, 6) AS jaccard,
       ROUND((CASE WHEN nu = 0 THEN 0.0
                   ELSE c_both / CAST(nu AS DOUBLE) END)
             * (CASE WHEN nu < {k} THEN CAST(nu AS DOUBLE)
                     ELSE {k - 1} * {two60} / CAST(thu AS DOUBLE) END), 4)
         AS est_intersection
FROM stats
ORDER BY source_a, source_b
"""


_HEX_NEIGHBOR_OFFSETS = (
    (0, 0), (1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1),
)


def geo_hotspots(
    df: DataFrame,
    lat: str,
    lon: str,
    *,
    size_deg: float,
    k: int = 20,
) -> DataFrame:
    """Getis-Ord Gi*-lite hotspot detection over the hexagonal grid —
    the "where does activity CLUSTER, not just count" layer above
    :func:`hex_grid`: each occupied cell's statistic compares its
    self+6-neighbor count sum against the occupied-cell mean under the
    standard Gi* z form with binary weights (W = 7). The study region
    is pinned to the OCCUPIED cells (absent neighbors contribute 0 to
    the sum and are not study units — documented, not hidden; a true
    field study would rasterize the empty frontier too). Returns the
    top-``k`` cells ``(hex, doc_count, hood_count, gi_z)`` rounded 6,
    ties pinned ``gi_z DESC, hex ASC``.

    Scale shape: one cell-count hash agg, then SCATTER-GATHER instead
    of a neighbor join — every cell emits its count to its 7
    neighborhood keys (a 7x explode of the CELL frame, never the
    corpus) and one more hash agg gathers the sums; the global
    mean/std is a 1-row broadcast. Zero joins on the corpus, zero
    quadratic candidate work.
    """
    from harmonize_search_analyze_spark.functions.geohash import hex_qr_sql

    qs, rs = hex_qr_sql(lat, lon, size_deg)
    cells = (
        df.groupBy(
            F.expr(qs).alias("__q"), F.expr(rs).alias("__r")
        )
        .agg(F.count(F.lit(1)).alias("__x"))
        .persist()
    )
    stats = cells.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__x").alias("__mean"),
        F.stddev_pop("__x").alias("__sd"),
    )
    scattered = cells.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("__q") + dq).alias("q"),
                        (F.col("__r") + dr).alias("r"),
                    )
                    for dq, dr in _HEX_NEIGHBOR_OFFSETS
                ]
            )
        ).alias("__nb"),
        "__x",
    ).select(
        F.col("__nb.q").alias("__q"), F.col("__nb.r").alias("__r"), "__x"
    )
    hoods = scattered.groupBy("__q", "__r").agg(
        F.sum("__x").alias("__hood")
    )
    w = float(len(_HEX_NEIGHBOR_OFFSETS))  # 7 binary weights incl self
    joined = (
        cells.join(hoods, ["__q", "__r"])
        .crossJoin(F.broadcast(stats))
    )
    n = F.col("__n").cast("double")
    # n <= W makes the finite-population term negative (sqrt -> NaN,
    # which sorts ABOVE every real z under DESC): Gi* needs more study
    # units than the neighborhood size — pin NULL below that
    denom = F.when(
        n > w,
        F.col("__sd") * F.sqrt((n * w - F.lit(w * w)) / (n - 1.0)),
    )
    z = F.try_divide(
        F.col("__hood") - F.lit(w) * F.col("__mean"), denom
    )
    from harmonize_search_analyze_spark.functions.caching import tether

    out = (
        joined.select(
            F.concat_ws(
                ":", F.col("__q").cast("string"),
                F.col("__r").cast("string"),
            ).alias("hex"),
            F.col("__x").cast("bigint").alias("doc_count"),
            F.col("__hood").cast("bigint").alias("hood_count"),
            (F.round(z, 6) + F.lit(0.0)).alias("gi_z"),
        )
        .orderBy(F.desc("gi_z"), F.asc("hex"))
        .limit(k)
    )
    return tether(out, cells)


def geo_hotspots_sql(
    table: str,
    lat: str,
    lon: str,
    dialect: str,
    *,
    size_deg: float,
    k: int = 20,
) -> str:
    """Dual-dialect twin of :func:`geo_hotspots` — the 7-key scatter is
    two SAME-LEVEL unnests of fixed offset lists on DuckDB (positional
    zip, the posexplode pin) vs one explode of a struct array on
    Spark."""
    from harmonize_search_analyze_spark.functions.geohash import hex_qr_sql

    qs, rs = hex_qr_sql(lat, lon, size_deg)
    dqs = ", ".join(str(dq) for dq, _ in _HEX_NEIGHBOR_OFFSETS)
    drs = ", ".join(str(dr) for _, dr in _HEX_NEIGHBOR_OFFSETS)
    if dialect == "spark":
        scatter = f"""
  SELECT cells.q + o.dq AS q, cells.r + o.dr AS r, cells.x
  FROM cells
  LATERAL VIEW inline(arrays_zip(array({dqs}), array({drs}))) o AS dq, dr
"""
    elif dialect == "duckdb":
        scatter = f"""
  SELECT cells.q + o.dq AS q, cells.r + o.dr AS r, cells.x
  FROM cells CROSS JOIN (
    SELECT unnest([{dqs}]) AS dq, unnest([{drs}]) AS dr
  ) o
"""
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    w = float(len(_HEX_NEIGHBOR_OFFSETS))
    return f"""
WITH cells AS (
  SELECT {qs} AS q, {rs} AS r, COUNT(*) AS x
  FROM {table} GROUP BY 1, 2
),
stats AS (
  SELECT COUNT(*) AS n, AVG(x) AS mean_, STDDEV_POP(x) AS sd FROM cells
),
scattered AS ({scatter}),
hoods AS (
  SELECT q, r, SUM(x) AS hood FROM scattered GROUP BY 1, 2
)
SELECT CAST(cells.q AS STRING) || ':' || CAST(cells.r AS STRING) AS hex,
       CAST(cells.x AS BIGINT) AS doc_count,
       CAST(hood AS BIGINT) AS hood_count,
       ROUND((hood - {w!r} * mean_)
             / NULLIF(CASE WHEN n > {w!r} THEN
                 sd * SQRT((CAST(n AS DOUBLE) * {w!r} - {w * w!r})
                           / (n - 1.0)) END, 0.0), 6) + 0.0 AS gi_z
FROM cells JOIN hoods ON cells.q = hoods.q AND cells.r = hoods.r
CROSS JOIN stats
ORDER BY gi_z DESC, hex ASC
LIMIT {k}
"""


def weighted_percentile(
    df: DataFrame,
    value_expr: str,
    weight_expr: str,
    *,
    probs: tuple = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Weighted percentiles (lower / inverse-CDF rule, NO interpolation
    — pinned): the smallest value whose cumulative weight reaches
    ``p * total_weight``. The corpus question percentile() can't
    answer: "the median BYTE lives in how long a document?" — weight
    doc length by itself and the mass-percentile emerges. Returns one
    row per prob ``(p, value, cum_weight, total_weight)`` rounded 6
    ordered by p. Non-positive and NULL weights drop.

    Scale shape: group by VALUE (one map-combinable agg), then the
    cumulative weight rides :func:`ordering.prefix_sums` over the value
    order (continuous values make that frame corpus-sized — never an
    unpartitioned window); every requested prob resolves in ONE
    conditional-min agg over the cum frame against the broadcast total.
    """
    if not probs:
        raise ValueError("probs must be non-empty")
    if any(not 0.0 < p <= 1.0 for p in probs):
        raise ValueError("probs must be in (0, 1]")
    from harmonize_search_analyze_spark.functions.caching import tether
    from harmonize_search_analyze_spark.operators.ordering import (
        prefix_sums,
    )

    v = F.expr(value_expr).cast("double")
    w = F.expr(weight_expr).cast("double")
    per = (
        df.where(v.isNotNull() & w.isNotNull() & (w > 0))
        .groupBy(v.alias("__v"))
        .agg(F.sum(w).alias("__w"))
    )
    # lazy_bounds=False: persisted-output shape — the eager boundary
    # sample pre-fills the cache and measured faster (4 cores, sf0.1,
    # 20 alternating trials: median 0.458 vs 0.488 s lazy; PERFORMANCE.md
    # decision 9; see lorenz_gini's note)
    cum = prefix_sums(
        per, ["__v"], {"__w": "__cw"}, lazy_bounds=False
    ).persist()
    tot = cum.agg(F.max("__cw").alias("__tot"))
    hit = cum.crossJoin(F.broadcast(tot)).agg(
        F.max("__tot").alias("__tot"),
        *[
            F.min(
                F.when(
                    F.col("__cw") >= F.lit(float(p)) * F.col("__tot"),
                    F.struct(F.col("__v"), F.col("__cw")),
                )
            ).alias(f"__hit_{i}")
            for i, p in enumerate(probs)
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(float(p)).alias("p"),
                F.col(f"__hit_{i}.__v").alias("value"),
                F.col(f"__hit_{i}.__cw").alias("cw"),
            )
            for i, p in enumerate(probs)
        ]
    )
    out = (
        hit.select(F.explode(pairs).alias("__e"), "__tot")
        .select(
            F.round(F.col("__e.p"), 6).alias("p"),
            F.round(F.col("__e.value"), 6).alias("value"),
            F.round(F.col("__e.cw"), 6).alias("cum_weight"),
            F.round(F.col("__tot"), 6).alias("total_weight"),
        )
        .orderBy("p")
    )
    return tether(out, cum)


def weighted_percentile_sql(
    table: str,
    value_expr: str,
    weight_expr: str,
    dialect: str,
    *,
    probs: tuple = (0.5, 0.9, 0.99),
) -> str:
    """Dual-dialect twin of :func:`weighted_percentile` (single-window
    form — fine at oracle scale; struct-min is replayed as a
    min-by-value pair via window rank)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    v = f"CAST({value_expr} AS DOUBLE)"
    w = f"CAST({weight_expr} AS DOUBLE)"
    plist = ", ".join(repr(float(p)) for p in probs)
    if dialect == "spark":
        pspine = f"SELECT explode(array({plist})) AS p"
    else:
        # CAST: DuckDB types decimal literals DECIMAL (the sprt pin)
        pspine = f"SELECT CAST(unnest([{plist}]) AS DOUBLE) AS p"
    return f"""
WITH per AS (
  SELECT {v} AS v, SUM({w}) AS w
  FROM {table}
  WHERE {v} IS NOT NULL AND {w} IS NOT NULL AND {w} > 0
  GROUP BY 1
),
cum AS (
  SELECT v, SUM(w) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM per
),
tot AS (SELECT MAX(cw) AS total FROM cum),
ps AS ({pspine}),
hits AS (
  SELECT ps.p, MIN(cum.v) AS value
  FROM ps CROSS JOIN tot JOIN cum ON cum.cw >= ps.p * tot.total
  GROUP BY ps.p
)
SELECT ROUND(hits.p, 6) AS p, ROUND(hits.value, 6) AS value,
       ROUND((SELECT MIN(cw) FROM cum WHERE cum.v = hits.value), 6)
         AS cum_weight,
       ROUND(tot.total, 6) AS total_weight
FROM hits CROSS JOIN tot
ORDER BY p
"""
