"""Global ordering and dataset splitting for training-data pipelines.

Two pipeline primitives every corpus-to-training handoff needs:

- ``global_order``: a contiguous 0..N-1 rank in a total order (curriculum
  ordering, reproducible shard assignment, resumable export cursors).
  The naive ``row_number() OVER (ORDER BY ...)`` is a SINGLE-REDUCER
  window — one task sorts the planet. The scalable shape: bucket rows by
  driver-sampled literal key boundaries (a deterministic pure-key
  expression — see the scalable-primitives note below for why NOT
  ``spark_partition_id()``), rank WITHIN each bucket (parallel — the
  window is partitioned by bucket id), and add per-bucket offsets
  computed from a count pass (metadata: one row per bucket, broadcast
  back). Total cost = one bucket shuffle, a boundary-sample pass, and a
  count pass; no serial stage anywhere.
- ``assign_split``: deterministic train/validation/test labeling from the
  portable sampling hash — a pure map (zero shuffles), reproducible
  across runs/partitionings/engines, independent of row order (the
  property random() splits lack).

Dual-dialect: the DuckDB oracles replay ``ROW_NUMBER() OVER (ORDER BY
...)`` (tiny data — the oracle checks VALUES; the plan shape is what the
Spark side is for) and the same hash-threshold CASE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from harmonize_search_analyze_spark.operators.sampling import (
    HASH_BUCKETS,
    sample_hash_sql,
)


def global_order(
    df: DataFrame,
    sort_cols: list[str],
    *,
    out_col: str = "rank",
    num_partitions: int | None = None,
    ascending: bool = True,
) -> DataFrame:
    """Contiguous 0-based global rank over ``sort_cols`` (ties broken by
    the column list itself — include a unique id as the last sort column
    for a total order; otherwise tied rows get an arbitrary-but-
    deterministic order within the tie).

    Plan: one driver-side boundary sample on the first sort column ->
    deterministic bucket id as a pure key expression -> per-bucket
    ``row_number()`` windows (all buckets rank in parallel) -> broadcast
    join of per-bucket offsets (one row per bucket). The bucket exchange
    is the ONLY row-volume shuffle. The bucket id deliberately is NOT
    ``spark_partition_id()`` over ``repartitionByRange`` — that id
    resamples per evaluation, so the ranked branch and the counts branch
    are consistent only while the persisted frame stays cached, and
    Spark's plan-matched cache registry breaks that across repeated
    same-plan persists (see the scalable-primitives note below; the
    failure reproduces in tests/test_session9_ops.py).
    """
    if not sort_cols:
        raise ValueError("sort_cols must be non-empty")
    from harmonize_search_analyze_spark.functions.caching import tether

    spec = [(c, ascending) for c in sort_cols]
    order = _sort_columns(spec)
    src = df.persist()
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    bounds_frame = _lazy_bounds_frame(src, spec[:1], n)
    tagged = _with_bucket(
        src, spec, num_partitions, "__pid", None, bounds_frame
    )
    # within-bucket rank: window PARTITIONED by bucket -> parallel
    w = Window.partitionBy("__pid").orderBy(*order)
    ranked = tagged.withColumn("__local", F.row_number().over(w))
    counts = (
        tagged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    offsets = counts.select(
        "__pid",
        (
            F.coalesce(
                F.sum("__cnt").over(
                    Window.orderBy("__pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            )
        ).alias("__offset"),
    )
    out = (
        ranked.join(F.broadcast(offsets), "__pid")
        .withColumn(
            out_col,
            (F.col("__offset") + F.col("__local") - 1).cast("bigint"),
        )
        .drop("__pid", "__local", "__offset")
    )
    return tether(out, src)


def global_order_sql(
    table: str,
    sort_cols: list[str],
    columns: list[str],
    *,
    out_col: str = "rank",
    ascending: bool = True,
) -> str:
    """Oracle twin: the single-window form (fine at oracle scale)."""
    direction = "ASC" if ascending else "DESC"
    order = ", ".join(f"{c} {direction}" for c in sort_cols)
    cols = ", ".join(columns)
    return f"""
SELECT {cols},
       CAST(ROW_NUMBER() OVER (ORDER BY {order}) - 1 AS BIGINT) AS {out_col}
FROM {table}
"""


def assign_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    *,
    out_col: str = "split",
    seed: int = 42,
) -> DataFrame:
    """Deterministic dataset split: label each row with the name of the
    hash-bucket range its key falls into. ``fractions`` maps label ->
    fraction and must sum to 1 (+-1e-9); labels are assigned contiguous
    bucket ranges in SORTED label order, so the same (key, seed,
    fractions) always lands in the same split — append-safe, engine-
    portable, and disjoint by construction. Pure map, zero shuffles.
    """
    if not fractions:
        raise ValueError("fractions must be non-empty")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    if any(v < 0 for v in fractions.values()):
        raise ValueError("fractions must be non-negative")
    h = F.expr(sample_hash_sql(key_col, "spark", seed=seed))
    bounds, acc = [], 0.0
    items = sorted(fractions.items())
    for label, frac in items:
        acc += frac
        bounds.append((label, int(round(acc * HASH_BUCKETS))))
    bounds[-1] = (bounds[-1][0], HASH_BUCKETS)  # close rounding gaps
    # ascending CASE chain: first matching upper bound wins
    expr = None
    for label, hi in bounds[:-1]:
        cond = h < F.lit(hi)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(
            cond, F.lit(label)
        )
    last = F.lit(bounds[-1][0])
    return df.withColumn(
        out_col, last if expr is None else expr.otherwise(last)
    )


def split_case_sql(
    key_col: str,
    fractions: dict[str, float],
    dialect: str,
    *,
    seed: int = 42,
) -> str:
    """The split-label CASE expression of :func:`assign_split` as a plain
    dual-dialect SQL string — a PURE expression of the key, so consumers
    (``assign_split_sql``, ``dedup.leakage_check``) can label rows with
    zero joins and zero shuffles."""
    h = sample_hash_sql(key_col, dialect, seed=seed)
    bounds, acc = [], 0.0
    items = sorted(fractions.items())
    for label, frac in items:
        acc += frac
        bounds.append((label, int(round(acc * HASH_BUCKETS))))
    bounds[-1] = (bounds[-1][0], HASH_BUCKETS)
    if len(bounds) == 1:
        # a single label owns every bucket — a WHEN-less CASE is a
        # syntax error on both engines, so emit the bare literal
        return f"'{bounds[0][0]}'"
    branches = "".join(
        f"WHEN {h} < {hi} THEN '{label}' " for label, hi in bounds[:-1]
    )
    return f"(CASE {branches}ELSE '{bounds[-1][0]}' END)"


def assign_split_sql(
    table: str,
    key_col: str,
    fractions: dict[str, float],
    columns: list[str],
    dialect: str,
    *,
    out_col: str = "split",
    seed: int = 42,
) -> str:
    """Dual-dialect twin of :func:`assign_split`."""
    case = split_case_sql(key_col, fractions, dialect, seed=seed)
    cols = ", ".join(columns)
    return f"SELECT {cols}, {case} AS {out_col} FROM {table}"


def latest_transform(
    df: DataFrame,
    keys: list[str],
    sort_col: str,
    *,
    tiebreak: str | None = None,
) -> DataFrame:
    """ES ``_transform`` ``latest`` function: materialize the newest
    document per unique key (transform docs: "latest composes the most
    recent document for each unique key"). row_number over
    (partition keys ORDER BY sort_col DESC [, tiebreak DESC]) = 1 — ONE
    key-hash exchange; with a ``tiebreak`` column the winner is pinned
    deterministic when sort values collide (ES resolves by internal doc
    order, which is not reproducible — callers wanting the oracle-stable
    contract pass a unique column).

    At scale this is the standard dedup-keep-newest shape: the window
    state per key is O(1) (row_number short-circuits), the exchange is
    the one shuffle, and AQE handles key skew.
    """
    order = [F.col(sort_col).desc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    *,
    epochs: int = 1,
    seed: int = 42,
    rank: bool = False,
) -> DataFrame:
    """Deterministic per-epoch global shuffle order for training-data
    delivery: every epoch sees the full corpus in a DIFFERENT
    pseudo-random permutation, reproducible from (seed, epoch, id) on
    any engine/partitioning — the standard epoch-reshuffle contract of
    training data loaders, without materializing a permutation table.

    Each row emits once per epoch with a portable ``shuffle_key``; the
    consumer range-partitions/sorts on (epoch, shuffle_key) at read
    time. With ``rank=True`` the contiguous 0-based epoch-major global
    position (epoch e's rows occupy [e*N, (e+1)*N)) is materialized via the :func:`global_order` machinery (range
    exchange + per-partition windows — no single-reducer global window).

    Scale shape: the epoch fan-out is a map-side ``explode`` (no
    shuffle); the key is one codegen'd hash; ordering cost is paid only
    when requested, as ONE range exchange.
    """
    if epochs < 1:
        raise ValueError(f"epochs must be >= 1, got {epochs}")
    taken = {"epoch", "shuffle_key"} | ({"pos"} if rank else set())
    clash = taken & set(df.columns)
    if clash:
        raise ValueError(
            f"epoch_shuffle output columns collide with input columns "
            f"{sorted(clash)}; rename them first"
        )
    from harmonize_search_analyze_spark.functions.hashing import hash64_sql

    fanned = df.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(int(epochs) - 1))
        ).alias("__e"),
        "*",
    ).select(
        # BIGINT: match the oracle's generate_series wire type
        F.col("__e").cast("bigint").alias("epoch"),
        *df.columns,
    )
    key = hash64_sql(
        f"('{int(seed)}:' || CAST(epoch AS STRING) || ':' || "
        f"CAST({id_col} AS STRING))",
        "spark",
    )
    out = fanned.withColumn("shuffle_key", F.expr(key))
    if not rank:
        return out
    return global_order(
        out,
        ["epoch", "shuffle_key", id_col],
        out_col="pos",
    )


def epoch_shuffle_sql(
    table: str,
    id_col: str,
    columns: list[str],
    *,
    epochs: int = 1,
    seed: int = 42,
    rank: bool = False,
) -> str:
    """DuckDB twin of :func:`epoch_shuffle` (single-window rank form at
    oracle scale)."""
    from harmonize_search_analyze_spark.functions.hashing import hash64_sql

    key = hash64_sql(
        f"('{int(seed)}:' || CAST(e.epoch AS VARCHAR) || ':' || "
        f"CAST({id_col} AS VARCHAR))",
        "duckdb",
    )
    cols = ", ".join(columns)
    base = f"""
SELECT e.epoch, {cols}, {key} AS shuffle_key
FROM {table}
CROSS JOIN (SELECT unnest(generate_series(0, {int(epochs) - 1})) AS epoch) e
"""
    if not rank:
        return base
    return f"""
SELECT *, CAST(ROW_NUMBER() OVER (
    ORDER BY epoch ASC, shuffle_key ASC, {id_col} ASC) - 1 AS BIGINT) AS pos
FROM ({base})
"""


def pivot_transform(
    df: DataFrame,
    group_by: list[str],
    aggs: dict[str, tuple[str, str]],
    *,
    catalog=None,
    dest: str | None = None,
) -> DataFrame:
    """ES ``_transform`` ``pivot`` function: the OTHER transform mode
    (alongside :func:`latest_transform`) — summarize a source index into
    an entity-centric destination: one row per unique ``group_by`` key
    with the requested aggregations (transform docs: "pivot composes a
    summary of the data").

    ``aggs`` maps output column -> (function, source column); functions
    are the ES pivot set that reduces associatively: value_count, sum,
    min, max, avg, cardinality (exact here — swap HLL via
    ``approx_count_distinct`` at corpus scale). ONE hash aggregation,
    map-side combined; with ``catalog``/``dest`` the summary is
    registered (and persisted by the caller via the catalog's sink), the
    batch equivalent of the transform's checkpointed destination index.
    """
    # the associative base set is shared with scripted_metric — one
    # registry to maintain; pivot adds the ES transform names on top
    from harmonize_search_analyze_spark.operators.aggregations import (
        _SM_COMBINES,
    )

    _FNS = {
        **{k: v for k, v in _SM_COMBINES.items() if k != "count"},
        "value_count": lambda c: F.count(c).cast("bigint"),
        "cardinality": lambda c: F.countDistinct(c).cast("bigint"),
    }
    if not group_by:
        raise ValueError("pivot transform needs at least one group_by")
    if not aggs:
        raise ValueError("pivot transform needs at least one aggregation")
    plain, distinct = [], []
    for out_col, (fn, src) in aggs.items():
        f = _FNS.get(fn)
        if f is None:
            raise ValueError(
                f"unsupported pivot aggregation {fn!r} "
                f"(supported: {sorted(_FNS)})"
            )
        (distinct if fn == "cardinality" else plain).append(
            f(F.col(src)).alias(out_col)
        )
    # cardinality aggs run in their OWN aggregation: mixing
    # count_distinct with plain aggs in one .agg() triggers Spark's
    # Expand plan (one input replica per distinct clause — the measured
    # ~150x cliff, operators/profiler.py). Both aggs hash on the same
    # keys, so the join is co-partitioned — no extra data exchange.
    first = plain or distinct[:1]
    rest = distinct if plain else distinct[1:]
    res = df.groupBy(*group_by).agg(*first)
    for i, d in enumerate(rest):  # one agg PER distinct clause
        other = df.groupBy(*group_by).agg(d)
        # null-SAFE key equality: a NULL group key is a real ES bucket
        # (terms missing-handling aside) and the plain-agg path keeps it;
        # a bare equi-join would silently drop it only when a
        # cardinality agg happens to be present
        for g in group_by:
            other = other.withColumnRenamed(g, f"__pj{i}_{g}")
        cond = None
        for g in group_by:
            c = F.col(g).eqNullSafe(F.col(f"__pj{i}_{g}"))
            cond = c if cond is None else (cond & c)
        res = res.join(other, cond).drop(
            *[f"__pj{i}_{g}" for g in group_by]
        )
    res = res.orderBy(*group_by)
    if catalog is not None and dest is not None:
        catalog.register(dest, res)
    return res


def scd2_merge(
    dim: DataFrame,
    snapshot: DataFrame,
    id_col: str,
    tracked: list[str],
    as_of: str,
    *,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    close_missing: bool = True,
) -> DataFrame:
    """Slowly-changing-dimension Type 2 merge — the snapshot-versioning
    primitive a training-corpus registry needs (which document/source
    rows were live for the March run?). ``dim`` is the current SCD2
    table (``id_col``, ``tracked`` columns, ``valid_from``,
    ``valid_to`` with NULL = open); ``snapshot`` is today's full
    extract (``id_col`` + ``tracked``). Returns the NEW dimension:

    - closed history rows pass through untouched;
    - an open row whose id is missing from the snapshot closes at
      ``as_of`` (delete);
    - an open row whose tracked values changed (null-safe comparison,
      column order irrelevant) closes at ``as_of`` AND the snapshot
      row opens at ``as_of`` (update);
    - unchanged open rows stay open;
    - snapshot ids with no open row open at ``as_of`` (insert).

    One full-outer equi-join on the id (AQE-skew-safe) + a history
    passthrough union — no windows, no collects; history never joins.
    Ordered (id, valid_from) for reproducibility.

    ``close_missing=False`` switches to PARTIAL-snapshot (upsert)
    semantics: an open row absent from the snapshot stays open instead
    of closing — the contract a streaming micro-batch needs (a batch
    carries changes, not the world), and what makes replaying a batch
    idempotent (re-merging an already-applied batch is a no-op).
    """
    ts = F.lit(as_of).cast("timestamp")
    hist = dim.where(F.col(valid_to).isNotNull()).select(
        id_col, *tracked, valid_from, valid_to
    )
    cur = dim.where(F.col(valid_to).isNull()).select(
        F.col(id_col).alias("__id"),
        *[F.col(c).alias(f"__c_{c}") for c in tracked],
        F.col(valid_from).alias("__vf"),
    )
    snap = snapshot.select(
        F.col(id_col).alias("__sid"),
        *[F.col(c).alias(f"__s_{c}") for c in tracked],
    )
    j = cur.join(snap, cur["__id"] == snap["__sid"], "full_outer")
    unchanged = F.lit(True)
    for c in tracked:
        unchanged = unchanged & F.col(f"__c_{c}").eqNullSafe(
            F.col(f"__s_{c}")
        )
    in_both = F.col("__id").isNotNull() & F.col("__sid").isNotNull()
    null_ts = F.lit(None).cast("timestamp")

    # ONE pass over the joined frame: each row emits 0-2 output
    # variants as an array of structs + explode — three filtered
    # branches over `j` would replay the join subtree per branch
    # (no CSE across union arms)
    def variant(cond: Column, idc: Column, side: str,
                vf: Column, vt: Column) -> Column:
        return F.when(
            cond,
            F.struct(
                idc.alias(id_col),
                *[F.col(f"__{side}_{c}").alias(c) for c in tracked],
                vf.alias(valid_from),
                vt.alias(valid_to),
            ),
        )

    closed_cond = (
        F.col("__id").isNotNull() & ~(in_both & unchanged)
        if close_missing
        else in_both & ~unchanged
    )
    keep_cond = (
        in_both & unchanged
        if close_missing
        else F.col("__id").isNotNull()
        & (F.col("__sid").isNull() | unchanged)
    )
    closed_v = variant(
        closed_cond, F.col("__id"), "c", F.col("__vf"), ts,
    )
    keep_v = variant(
        keep_cond, F.col("__id"), "c", F.col("__vf"), null_ts
    )
    new_v = variant(
        F.col("__sid").isNotNull() & ~(in_both & unchanged),
        F.col("__sid"), "s", ts, null_ts,
    )
    exploded = j.select(
        F.explode(
            F.filter(
                F.array(closed_v, keep_v, new_v), lambda x: x.isNotNull()
            )
        ).alias("__r")
    ).select("__r.*")
    return hist.unionByName(exploded).orderBy(
        id_col, valid_from, valid_to
    )


def scd2_merge_sql(
    dim_sql: str,
    snapshot_sql: str,
    id_col: str,
    tracked: list[str],
    as_of: str,
    dialect: str,
    *,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    close_missing: bool = True,
) -> str:
    """Dual-dialect twin of :func:`scd2_merge` (IS NOT DISTINCT FROM is
    the shared null-safe comparison; identical text both engines)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    if close_missing:
        close_where = "cid IS NOT NULL AND NOT unchanged"
        keep_where = "unchanged"
    else:
        close_where = (
            "cid IS NOT NULL AND sid IS NOT NULL AND NOT unchanged"
        )
        keep_where = "cid IS NOT NULL AND (sid IS NULL OR unchanged)"
    cols = ", ".join(tracked)
    same = " AND ".join(
        f"c.{c} IS NOT DISTINCT FROM s.{c}" for c in tracked
    )
    c_cols = ", ".join(f"c.{c} AS c_{c}" for c in tracked)
    s_cols = ", ".join(f"s.{c} AS s_{c}" for c in tracked)
    ts = f"CAST('{as_of}' AS TIMESTAMP)"
    return f"""
WITH dim AS ({dim_sql}),
snap AS ({snapshot_sql}),
hist AS (
  SELECT {id_col}, {cols}, {valid_from}, {valid_to}
  FROM dim WHERE {valid_to} IS NOT NULL
),
cur AS (SELECT * FROM dim WHERE {valid_to} IS NULL),
j AS (
  SELECT c.{id_col} AS cid, s.{id_col} AS sid,
         {c_cols}, {s_cols},
         c.{valid_from} AS vf,
         CASE WHEN c.{id_col} IS NOT NULL AND s.{id_col} IS NOT NULL
               AND {same} THEN TRUE ELSE FALSE END AS unchanged
  FROM cur c FULL OUTER JOIN snap s ON c.{id_col} = s.{id_col}
)
SELECT * FROM hist
UNION ALL
SELECT cid, {', '.join(f'c_{c}' for c in tracked)}, vf, {ts}
FROM j WHERE {close_where}
UNION ALL
SELECT cid, {', '.join(f'c_{c}' for c in tracked)}, vf,
       CAST(NULL AS TIMESTAMP)
FROM j WHERE {keep_where}
UNION ALL
SELECT sid, {', '.join(f's_{c}' for c in tracked)}, {ts},
       CAST(NULL AS TIMESTAMP)
FROM j WHERE sid IS NOT NULL AND NOT unchanged
ORDER BY {id_col}, {valid_from}, {valid_to} NULLS FIRST
"""


# -- scalable ordered-frame primitives ------------------------------------------
#
# prefix_sums / ntile_scalable replace unpartitioned ``... OVER (ORDER BY
# ...)`` windows (a SINGLE TASK sorting the whole frame) with a
# bucket-parallel plan whose bucket id is a PURE FUNCTION of the sort key:
# boundary values are sampled ONCE driver-side and embedded as literals,
# so every re-execution of any plan branch assigns identical buckets.
#
# This is deliberately NOT the classic ``repartitionByRange +
# spark_partition_id()`` trick: that id is nondeterministic (the
# RangePartitioner resamples boundaries per evaluation), so the two
# consumers of the tagged frame — the local windows and the per-bucket
# offsets — are only consistent while the persisted frame stays cached.
# Spark's cache registry matches by canonicalized PLAN, not by instance:
# persisting two identical-plan frames and unpersisting one (exactly what
# repeated operator calls in one session do) evicts both, after which the
# branches resample independently and the offsets describe a partitioning
# the rows were not ranked in — silent wrong sums, reproduced in
# tests/test_session9_ops.py. Literal boundaries make correctness
# independent of caching; balance (not correctness) depends on sample
# quality.


_NUMERIC_DTYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double",
)


def _order_spec(order_cols: list) -> list[tuple[str, bool]]:
    """Normalize ``["col", ("col", False), ...]`` to (name, asc) pairs."""
    spec = []
    for c in order_cols:
        if isinstance(c, str):
            spec.append((c, True))
        else:
            name, asc = c
            spec.append((name, bool(asc)))
    return spec


def _sort_columns(spec: list[tuple[str, bool]]) -> list:
    return [
        F.col(name).asc() if asc else F.col(name).desc()
        for name, asc in spec
    ]


def _monotonic_key(dt: str, name: str) -> tuple:
    """Order-preserving numeric cast for boundary comparisons — MUST be
    shared by the sampling pass and the bucket expression, or the
    literals compare against a different scale than they were drawn in.
    """
    k = F.col(name)
    if dt == "timestamp_ntz":
        k = k.cast("timestamp")
        dt = "timestamp"
    if dt == "timestamp":
        return F.unix_micros(k), "bigint"
    if dt == "date":
        return F.datediff(k, F.lit("1970-01-01")), "int"
    return k, dt


def _dedupe(bounds: list) -> list:
    # dedupe preserving order (heavy ties collapse buckets, never split)
    seen: set = set()
    uniq = []
    for b in bounds:
        if b not in seen:
            seen.add(b)
            uniq.append(b)
    return uniq


def sample_boundaries(
    df: DataFrame,
    cols: list,
    *,
    num_partitions: int | None = None,
) -> dict:
    """ONE ``percentile_approx`` pass sampling bucket boundaries for
    several (numeric/timestamp/date) sort columns at once — feed the
    lists to :func:`prefix_sums` / :func:`ntile_scalable` /
    :func:`global_order` via ``boundaries=`` so an operator that tiles
    N axes pays one sampling job instead of N. Each entry of ``cols``
    is a column name (ascending) or ``(name, ascending)`` pair; values
    come back in the axis's sort direction, monotonic-cast (timestamps
    as unix micros) and deduped, ready for the bucket expression.
    """
    spec = _order_spec(cols)
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    fracs = [i / n for i in range(1, n)]
    dtypes = dict(df.dtypes)
    aggs = []
    for name, _asc in spec:
        k, dt = _monotonic_key(dtypes[name], name)
        if not (dt in _NUMERIC_DTYPES or dt.startswith("decimal")):
            raise ValueError(
                f"sample_boundaries needs a numeric/timestamp/date "
                f"column, got {name}: {dtypes[name]}"
            )
        aggs.append(F.percentile_approx(k, fracs).alias(name))
    row = df.agg(*aggs).first()
    out = {}
    for name, asc in spec:
        bounds = [] if row is None or row[name] is None else list(row[name])
        if not asc:
            bounds = list(reversed(bounds))
        out[name] = _dedupe(bounds)
    return out


def _lazy_bounds_frame(
    df: DataFrame,
    spec: list[tuple[str, bool]],
    n: int,
) -> DataFrame | None:
    """ONE-ROW frame with a sorted, deduped boundary array per distinct
    first-sort column — the IN-PLAN twin of :func:`sample_boundaries`
    (round 11, guide §1.2 fixed costs). The eager ``.first()`` boundary
    collect ran as its own driver-blocking job at query-CONSTRUCTION
    time — profiled 0.6–1.5 s of the rank-statistic battery's wall per
    query at sf0.1. As a broadcast-joined one-row frame the same
    ``percentile_approx`` rides the consumer's own action. Returns None
    when any axis is non-numeric (strings keep the driver sample path).

    Boundary VALUES are unchanged: same aggregate over the same input —
    and any placement is correct anyway (buckets only affect balance).
    Arrays are kept ascending regardless of sort direction: the bucket
    id is ``size(filter(...))``, which is order-free over the boundary
    SET (unlike the pre-r11 CaseWhen chain, which needed the reversal).
    """
    dtypes = dict(df.dtypes)
    fracs = [i / n for i in range(1, n)]
    aggs = []
    seen: set[str] = set()
    for name, _asc in spec:
        if name in seen:
            continue
        seen.add(name)
        k, dt = _monotonic_key(dtypes[name], name)
        if not (dt in _NUMERIC_DTYPES or dt.startswith("decimal")):
            return None
        aggs.append(
            F.array_distinct(F.percentile_approx(k, fracs)).alias(
                f"__bounds_{name}"
            )
        )
    return df.agg(*aggs)


def _bucket_boundaries(
    df: DataFrame,
    name: str,
    asc: bool,
    n: int,
) -> tuple:
    """Sample ``n - 1`` boundary literals for the first sort column.

    Numeric/timestamp/date columns use one ``percentile_approx`` pass
    (returns the monotonic-cast expression the comparisons must reuse);
    other orderable types (strings) fall back to count + seeded sample.
    Boundary placement affects only balance — any boundaries are
    CORRECT — so approximation/sampling noise is free.
    """
    k, dt = _monotonic_key(dict(df.dtypes)[name], name)
    if dt in _NUMERIC_DTYPES or dt.startswith("decimal"):
        fracs = [i / n for i in range(1, n)]
        row = (
            df.where(F.col(name).isNotNull())
            .agg(F.percentile_approx(k, fracs).alias("b"))
            .first()
        )
        bounds = [] if row is None or row.b is None else list(row.b)
    else:
        cnt = df.count()
        if cnt == 0:
            return k, []
        frac = min(1.0, (n * 64.0) / cnt)
        sampled = [
            r[0]
            for r in df.select(name)
            .where(F.col(name).isNotNull())
            .sample(False, frac, seed=42)
            .collect()
        ]
        sampled.sort()
        if len(sampled) >= n:
            step = len(sampled) / n
            bounds = [sampled[int(step * i)] for i in range(1, n)]
        else:
            bounds = sampled
    if not asc:
        bounds = list(reversed(bounds))
    return k, _dedupe(bounds)


def _with_bucket(
    df: DataFrame,
    spec: list[tuple[str, bool]],
    num_partitions: int | None,
    pid_col: str,
    boundaries: list | None = None,
    bounds_frame: DataFrame | None = None,
) -> DataFrame:
    """Tag every row with its deterministic order-bucket id (a pure
    projection — the bucket id is ``#boundaries passed`` computed from
    driver-collected literals, so it never varies across plan branches
    or re-executions). NULL first keys pin to the bucket their sort
    direction puts them in (asc = NULLS FIRST -> bucket 0, desc = NULLS
    LAST -> last bucket), matching Spark's default null ordering.
    """
    name, asc = spec[0]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    if bounds_frame is not None:
        # round 11: boundaries as a broadcast-joined ONE-ROW array column
        # (see _lazy_bounds_frame) — same size(filter(...)) bucket id over
        # the same boundary set, no eager driver collect. NULL array
        # (empty input) -> pid 0 via the coalesce; NULL first keys behave
        # exactly as the literal path (lambda yields NULL -> filtered out
        # -> pid 0 for asc; desc pins explicitly below).
        k, _dt = _monotonic_key(dict(df.dtypes)[name], name)
        bcol = F.col(f"__bounds_{name}")
        pid = F.coalesce(
            F.size(
                F.filter(bcol, (lambda b: k > b) if asc else (lambda b: k < b))
            ),
            F.lit(0),
        )
        if not asc:
            pid = F.when(
                F.col(name).isNull() & bcol.isNotNull(), F.size(bcol)
            ).otherwise(pid)
        return (
            df.crossJoin(F.broadcast(bounds_frame))
            .withColumn(pid_col, pid.cast("int"))
            .drop(*bounds_frame.columns)
        )
    if boundaries is not None:
        k, _dt = _monotonic_key(dict(df.dtypes)[name], name)
        bounds = boundaries
    else:
        k, bounds = _bucket_boundaries(df, name, asc, n)
    # bucket id = number of boundaries passed, as ONE higher-order count
    # over a literal array instead of the old chain of n-1 nested
    # CaseWhen adds (round-11, guide §1 "measure first"): the when-chain
    # made the bucket expression a ~31-node-deep tree embedded in EVERY
    # branch that references the bucket (local window partition spec,
    # offsets agg, join key) — profiled 0.7-1.3 s of pure driver
    # planning gap per rank-battery query at sf0.1. Same value: the
    # lambda is FALSE for NULL keys (filter drops non-true rows), which
    # matches when(NULL > b) -> otherwise(0). The array is metadata
    # (n-1 boundary literals), so per-row runtime is unchanged.
    if bounds:
        arr = F.array(*[F.lit(b) for b in bounds])
        pid = F.size(
            F.filter(arr, (lambda b: k > b) if asc else (lambda b: k < b))
        )
    else:
        pid = F.lit(0)
    if not asc and bounds:
        # desc order sorts NULLs last; null comparisons above yield
        # bucket 0 (the TOP of a desc order), so pin them explicitly
        pid = F.when(F.col(name).isNull(), F.lit(len(bounds))).otherwise(
            pid
        )
    return df.withColumn(pid_col, pid.cast("int"))


def prefix_sums(
    df: DataFrame,
    order_cols: list,
    sums: dict[str, str],
    *,
    num_partitions: int | None = None,
    boundaries: list | None = None,
    bounds_frame: DataFrame | None = None,
    lazy_bounds: bool = True,
) -> DataFrame:
    """Inclusive running sums over a distributed total order — the
    scalable replacement for ``SUM(x) OVER (ORDER BY k ROWS UNBOUNDED
    PRECEDING)``, whose unpartitioned window is a SINGLE TASK sorting
    the whole frame (the midrank cliff: on continuous keys the
    value-cardinality frame is corpus-sized).

    ``order_cols`` entries are column names (ascending) or ``(name,
    ascending)`` pairs; the key must be DISTINCT per row (pre-aggregate
    by key first — every caller here groups by value before ranking,
    which also makes ROWS vs RANGE framing equivalent). ``sums`` maps
    source column name -> output column name; all run in ONE pass.

    Plan: one boundary sample on the first sort column (an in-plan
    one-row broadcast; ``lazy_bounds=False`` collects it on the driver
    at construction instead, which measures faster for callers that
    persist the output and read it twice; explicit ``boundaries=`` or
    ``bounds_frame=`` skip the sample) -> bucket id as a pure key
    expression -> per-bucket running sums
    (window PARTITIONED by bucket — parallel) -> broadcast join of
    per-bucket prior totals (one row per bucket). Exact for ANY
    boundary placement: the bucket function is monotone in the sort
    order, so every row's bucket-local sum plus the prior-bucket total
    is the global prefix. The input is persisted only so the local and
    offsets branches share one materialization (perf — correctness no
    longer depends on it; see the module note on why
    spark_partition_id() could not give that guarantee).
    """
    if not order_cols:
        raise ValueError("order_cols must be non-empty")
    if not sums:
        raise ValueError("sums must be non-empty")
    from harmonize_search_analyze_spark.functions.caching import tether

    spec = _order_spec(order_cols)
    order = _sort_columns(spec)
    src = df.persist()
    if boundaries is None and bounds_frame is None and lazy_bounds:
        n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
        bounds_frame = _lazy_bounds_frame(src, spec[:1], n)
    tagged = _with_bucket(
        src, spec, num_partitions, "__pid", boundaries, bounds_frame
    )
    wl = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = tagged.select(
        "*",
        *[
            F.sum(s).over(wl).alias(f"__loc_{out}")
            for s, out in sums.items()
        ],
    )
    woff = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        tagged.groupBy("__pid")
        .agg(*[F.sum(s).alias(f"__tot_{out}") for s, out in sums.items()])
        .select(
            "__pid",
            *[
                F.coalesce(
                    F.sum(f"__tot_{out}").over(woff), F.lit(0)
                ).alias(f"__off_{out}")
                for out in sums.values()
            ],
        )
    )
    out = local.join(F.broadcast(offsets), "__pid").select(
        *df.columns,
        *[
            (F.col(f"__loc_{out}") + F.col(f"__off_{out}")).alias(out)
            for out in sums.values()
        ],
    )
    return tether(out, src)


def ntile_scalable(
    df: DataFrame,
    order_cols: list,
    buckets: int,
    out_col: str,
    *,
    num_partitions: int | None = None,
    boundaries: list | None = None,
) -> DataFrame:
    """Exact ``NTILE(b) OVER (ORDER BY ...)`` without the single-task
    corpus sort. ``order_cols`` entries are column names (ascending) or
    ``(name, ascending)`` pairs; the order must be TOTAL (tie-break with
    a unique key) or the assignment is not well-defined on any engine.

    NTILE's contract: with ``n = q*b + r`` rows, the first ``r`` tiles
    get ``q+1`` rows, the rest ``q`` — reproduced closed-form from the
    global rank ``k`` (1-based) and the total ``n``:
    ``k <= r*(q+1)`` -> ``(k-1) div (q+1) + 1``, else
    ``r + (k - r*(q+1) - 1) div q + 1``.

    Plan: driver-side boundary sample -> deterministic bucket id (pure
    key expression; see module note) -> parallel per-bucket row_number
    -> broadcast offsets/total frame (one row per bucket) -> closed-form
    tile arithmetic.
    """
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    from harmonize_search_analyze_spark.functions.caching import tether

    spec = _order_spec(order_cols)
    order = _sort_columns(spec)
    src = df.persist()
    bounds_frame = None
    if boundaries is None:
        n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
        bounds_frame = _lazy_bounds_frame(src, spec[:1], n)
    tagged = _with_bucket(
        src, spec, num_partitions, "__pid", boundaries, bounds_frame
    )
    wl = Window.partitionBy("__pid").orderBy(*order)
    local = tagged.withColumn("__local", F.row_number().over(wl))
    wall = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    woff = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        tagged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .select(
            "__pid",
            F.coalesce(F.sum("__cnt").over(woff), F.lit(0)).alias(
                "__offset"
            ),
            F.sum("__cnt").over(wall).alias("__n"),
        )
    )

    def _idiv(a, d):
        # exact integer division: (a - a % d) / d divides an exact
        # multiple, so the double result is exact (plain a/d truncation
        # can round UP across an integer near 2^53)
        return ((a - a % d) / d).cast("bigint")

    k = F.col("__offset") + F.col("__local")  # 1-based global rank
    n, b = F.col("__n"), F.lit(buckets)
    q = _idiv(n, b)  # n, b >= 1 -> denominators never 0 under ANSI
    r = n % b
    # q = 0 (n < b) keeps every row in the first branch (k <= r = n) —
    # but ANSI evaluates BOTH branches' exprs, so the untaken divide-by-q
    # still throws: greatest(q, 1) is inert whenever the branch is taken
    qsafe = F.greatest(q, F.lit(1).cast("bigint"))
    tile = F.when(
        k <= r * (q + 1), _idiv(k - 1, q + 1) + 1
    ).otherwise(r + _idiv(k - r * (q + 1) - 1, qsafe) + 1)
    out = local.join(F.broadcast(offsets), "__pid").select(
        *df.columns, tile.cast("int").alias(out_col)
    )
    return tether(out, src)


def ntile_multi(
    df: DataFrame,
    axes: dict[str, list],
    buckets: int,
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact NTILE over SEVERAL sort axes of one frame (``axes`` maps
    output column -> order spec) — the multi-axis twin of
    :func:`ntile_scalable` that pays the shared costs once: ONE persist
    of the input, ONE fused boundary-sample pass, and per-axis offset
    frames computed from the persisted input directly (every bucket id
    is a pure projection of the input's columns, so the offsets never
    depend on the growing window chain — each tile stage has exactly
    one consumer and nothing else to persist).

    Per axis the plan adds one bucket-partitioned row_number exchange
    and one broadcast offsets join — the same cost class as a single
    :func:`ntile_scalable`, minus its persist + sampling job. Every
    axis's first sort column must be numeric, timestamp or date (the
    fused sample is an in-plan ``percentile_approx``); others raise
    ``ValueError``.
    """
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    if not axes:
        raise ValueError("axes must be non-empty")
    from harmonize_search_analyze_spark.functions.caching import tether

    specs = {out: _order_spec(spec) for out, spec in axes.items()}
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    bframe = _lazy_bounds_frame(df, [spec[0] for spec in specs.values()], n)
    if bframe is None:
        raise ValueError(
            "ntile_multi needs numeric/timestamp/date first sort columns"
        )
    src = df.persist()

    def _idiv(a, d):
        return ((a - a % d) / d).cast("bigint")

    out = src
    for out_col, spec in specs.items():
        pid_col = f"__pid_{out_col}"
        tagged = _with_bucket(
            src, spec, num_partitions, pid_col,
            None, bframe,
        )
        woff = Window.orderBy(pid_col).rowsBetween(
            Window.unboundedPreceding, -1
        )
        wall = Window.orderBy(pid_col).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        offsets = (
            tagged.groupBy(pid_col)
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .select(
                pid_col,
                F.coalesce(F.sum("__cnt").over(woff), F.lit(0)).alias(
                    "__offset"
                ),
                F.sum("__cnt").over(wall).alias("__n"),
            )
        )
        order = _sort_columns(spec)
        wl = Window.partitionBy(pid_col).orderBy(*order)
        out = _with_bucket(
            out, spec, num_partitions, pid_col,
            None, bframe,
        )
        out = (
            out.withColumn("__local", F.row_number().over(wl))
            .join(F.broadcast(offsets), pid_col)
        )
        k = F.col("__offset") + F.col("__local")
        n, b = F.col("__n"), F.lit(buckets)
        q = _idiv(n, b)
        r = n % b
        qsafe = F.greatest(q, F.lit(1).cast("bigint"))
        tile = F.when(
            k <= r * (q + 1), _idiv(k - 1, q + 1) + 1
        ).otherwise(r + _idiv(k - r * (q + 1) - 1, qsafe) + 1)
        out = out.withColumn(out_col, tile.cast("int")).drop(
            pid_col, "__local", "__offset", "__n"
        )
    return tether(out, src)


def prefix_max(
    df: DataFrame,
    order_cols: list,
    maxes: dict[str, str],
    *,
    inclusive: bool = True,
    num_partitions: int | None = None,
    boundaries: list | None = None,
) -> DataFrame:
    """Running MAX over a distributed total order — the :func:`prefix_sums`
    sibling for ``MAX(x) OVER (ORDER BY k ...)``, same deterministic
    driver-sampled-boundary buckets, same exactness-for-any-placement
    argument (max is associative and commutative, so bucket-local max
    combined with the prior-bucket running max via GREATEST is the
    global prefix). ``inclusive=False`` gives the strict-predecessor
    max (frame ``UNBOUNDED PRECEDING .. 1 PRECEDING``): the first row
    of the order gets NULL — the skyline/dominance primitive.

    ``order_cols`` keys must be DISTINCT per row (pre-aggregate by key
    first), matching the prefix_sums contract.
    """
    if not order_cols:
        raise ValueError("order_cols must be non-empty")
    if not maxes:
        raise ValueError("maxes must be non-empty")
    from harmonize_search_analyze_spark.functions.caching import tether

    spec = _order_spec(order_cols)
    order = _sort_columns(spec)
    src = df.persist()
    bounds_frame = None
    if boundaries is None:
        n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
        bounds_frame = _lazy_bounds_frame(src, spec[:1], n)
    tagged = _with_bucket(
        src, spec, num_partitions, "__pid", boundaries, bounds_frame
    )
    end = Window.currentRow if inclusive else -1
    wl = (
        Window.partitionBy("__pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    local = tagged.select(
        "*",
        *[
            F.max(s).over(wl).alias(f"__loc_{out}")
            for s, out in maxes.items()
        ],
    )
    woff = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        tagged.groupBy("__pid")
        .agg(*[F.max(s).alias(f"__tot_{out}") for s, out in maxes.items()])
        .select(
            "__pid",
            *[
                F.max(f"__tot_{out}").over(woff).alias(f"__off_{out}")
                for out in maxes.values()
            ],
        )
    )
    # F.greatest skips NULLs: NULL local (exclusive first row) + non-NULL
    # offset -> offset; both NULL (global first row, exclusive) -> NULL
    out = local.join(F.broadcast(offsets), "__pid").select(
        *df.columns,
        *[
            F.greatest(
                F.col(f"__loc_{out}"), F.col(f"__off_{out}")
            ).alias(out)
            for out in maxes.values()
        ],
    )
    return tether(out, src)


def pareto_front(
    df: DataFrame,
    dim1: str,
    dim2: str,
) -> DataFrame:
    """2-D Pareto front (skyline) — the dominance filter data-selection
    pipelines run on (quality, freshness)-style tradeoffs: keep every
    row no other row beats-or-ties on BOTH maximized dimensions while
    strictly beating it on at least one. Exact duplicates of a frontier
    point all survive (neither dominates). NULL dimensions drop
    (dominance is undefined against a missing value).

    Scale shape: the classic sort-scan skyline, distributed: one
    ``dim1`` hash agg (per-value max of ``dim2``), the strict-
    predecessor running max over that VALUE frame via
    :func:`prefix_max` (range-exchange buckets — no single-task sort,
    even when ``dim1`` is continuous and the value frame is corpus-
    sized), then one value-keyed join back. A row is frontier iff its
    ``dim2`` equals its value-group max AND strictly exceeds the
    running max of every strictly-greater ``dim1`` group — an
    O(n log n) plan where the textbook pairwise filter is O(n^2).
    """
    base = df.where(
        F.col(dim1).isNotNull() & F.col(dim2).isNotNull()
    )
    g = base.groupBy(F.col(dim1).alias("__d1")).agg(
        F.max(F.col(dim2)).alias("__gmax")
    )
    s = prefix_max(
        g,
        [("__d1", False)],
        {"__gmax": "__mstrict"},
        inclusive=False,
    )
    j = base.join(
        s, base[dim1] == s["__d1"], "inner"
    ).where(
        (F.col(dim2) == F.col("__gmax"))
        & (
            F.col("__mstrict").isNull()
            | (F.col(dim2) > F.col("__mstrict"))
        )
    )
    return j.select(*df.columns)
