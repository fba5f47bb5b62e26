"""Event-analytics operators: funnel conversion, cohort retention, and
rate-anomaly flagging over an ``events(user_id, event_type, ts, ...)``
stream table.

The reference's webapp answers "how many incidents, where, when"
(count-centric dashboards); an analytics engine replacing its stack also
gets asked the user-journey questions — which step loses people, does a
cohort come back, did today's rate spike. Each operator here is a
one-or-two-shuffle DataFrame composition with an exact SQL twin for the
DuckDB oracle:

- ``funnel``: ordered step conversion *per user* with sequential-chain
  semantics — the step-i reach time is the user's FIRST step-i event
  at-or-after their step-(i-1) reach time, not the global first step-i
  event. One user-keyed agg per step (same key every pass, so AQE keeps
  the exchanges co-partitioned); len(steps) is small and fixed.
- ``cohort_retention``: users bucketed by first-seen period x activity
  period offset; two hash aggs (first-seen, then the (cohort, offset)
  matrix). Periods are date_trunc buckets, so the matrix is bounded by
  time range, never user count.
- ``rate_anomalies``: date_histogram counts z-scored against the WHOLE
  series (two-pass: bucket counts, then a broadcast 1-row mean/std) —
  buckets beyond ``threshold`` sigmas flag. Deterministic, no windows
  over unbounded partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

from harmonize_search_analyze_spark.functions.caching import checkpoint, iterate
from harmonize_search_analyze_spark.sources.tables import local_frame


def funnel(
    df: DataFrame,
    steps: list[tuple[str, Column]],
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel: per named step, how many users reached it — where
    "reached" means the user has an event matching step i at-or-after
    their step-(i-1) REACH time (sequential-chain semantics): rt_0 is the
    first step-0 event; rt_i = MIN(ts | pred_i AND ts >= rt_{i-1}).  A
    user who does step i both before and after completing step i-1
    (click, view, click) therefore counts — the global-first-occurrence
    shortcut would miss them.

    One user-keyed hash agg per step: step-i events are pre-filtered (so
    the predicate pushes to the scan), left-joined to the carried
    per-user reach row, and reduced with a conditional MIN.  Every pass
    shuffles on the SAME key, so the exchanges stay co-partitioned; the
    per-user state is one row of len(steps) timestamps, never an event
    array. Returns (step_idx, step, users, conversion_pct) with
    conversion relative to step 0.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    cur = (
        df.filter(steps[0][1])
        .groupBy(user_col)
        .agg(F.min(F.col(ts_col)).alias("__rt0"))
    )
    for i in range(1, len(steps)):
        step_ev = df.filter(steps[i][1]).select(
            F.col(user_col), F.col(ts_col).alias("__sts")
        )
        carried = [f"__rt{j}" for j in range(i)]
        cur = (
            cur.join(step_ev, user_col, "left")
            .groupBy(user_col, *carried)
            .agg(
                F.min(
                    F.when(
                        F.col("__sts") >= F.col(f"__rt{i - 1}"),
                        F.col("__sts"),
                    )
                ).alias(f"__rt{i}")
            )
        )
    reach_cols = [
        F.count(F.col(f"__rt{i}")).alias(f"__n{i}")
        for i in range(len(steps))
    ]
    totals = cur.agg(*reach_cols).collect()[0]  # 1 row, len(steps) ints
    spark = df.sparkSession
    base = max(int(totals["__n0"]), 1)
    rows = [
        (
            i,
            name,
            int(totals[f"__n{i}"]),
            round(100.0 * int(totals[f"__n{i}"]) / base, 6),
        )
        for i, (name, _) in enumerate(steps)
    ]
    return local_frame(
        spark, rows, "step_idx INT, step STRING, users BIGINT, conversion_pct DOUBLE"
    )


def funnel_sql(
    table: str,
    steps: list[tuple[str, str]],
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> str:
    """Dual-dialect SQL twin of :func:`funnel` (predicates given as SQL
    text). Same sequential-chain formulation: one user-keyed agg CTE per
    step, each conditional-MIN'ing step-i events at-or-after the carried
    step-(i-1) reach time."""
    ctes = [
        f"c0 AS (SELECT {user_col}, MIN({ts_col}) AS rt0 "
        f"FROM {table} WHERE {steps[0][1]} GROUP BY {user_col})"
    ]
    for i in range(1, len(steps)):
        carried = ", ".join(f"c.rt{j}" for j in range(i))
        ctes.append(
            f"c{i} AS (SELECT c.{user_col}, {carried}, "
            f"MIN(CASE WHEN e.{ts_col} >= c.rt{i - 1} "
            f"THEN e.{ts_col} END) AS rt{i} "
            f"FROM c{i - 1} c LEFT JOIN "
            f"(SELECT {user_col}, {ts_col} FROM {table} "
            f"WHERE {steps[i][1]}) e "
            f"ON c.{user_col} = e.{user_col} "
            f"GROUP BY c.{user_col}, {carried})"
        )
    counts = ", ".join(
        f"COUNT(rt{i}) AS n{i}" for i in range(len(steps))
    )
    ctes.append(f"tot AS (SELECT {counts} FROM c{len(steps) - 1})")
    unions = "\nUNION ALL\n".join(
        f"SELECT {i} AS step_idx, '{name}' AS step, "
        f"CAST(n{i} AS BIGINT) AS users, "
        f"ROUND(100.0 * n{i} / GREATEST(n0, 1), 6) AS conversion_pct "
        "FROM tot"
        for i, (name, _) in enumerate(steps)
    )
    with_clause = ",\n".join(ctes)
    return f"""
WITH {with_clause}
SELECT * FROM ({unions}) u ORDER BY step_idx
"""


def cohort_retention(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
    max_offset: int = 8,
) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen ``period``
    (the cohort), counted by how many are active again N periods later.

    Two hash aggs: (1) per-user first-seen bucket; (2) distinct users per
    (cohort, offset) — the join back to events broadcasts nothing large
    because it keys on user_id (same shuffle as the first agg, and AQE
    reuses the exchange where possible). Offsets beyond ``max_offset``
    are dropped (the matrix stays bounded). Returns
    (cohort, period_offset, users, pct_of_cohort).
    """
    first_seen = (
        df.groupBy(user_col)
        .agg(F.date_trunc(period, F.min(ts_col)).alias("cohort"))
    )
    activity = df.select(
        user_col, F.date_trunc(period, F.col(ts_col)).alias("active_p")
    ).distinct()
    diff_expr = {
        "week": (F.datediff(F.col("active_p"), F.col("cohort")) / 7),
        "day": F.datediff(F.col("active_p"), F.col("cohort")),
        "month": F.months_between(F.col("active_p"), F.col("cohort")),
    }[period]
    joined = (
        activity.join(first_seen, user_col)
        .withColumn("period_offset", diff_expr.cast("int"))
        .where((F.col("period_offset") >= 0) & (F.col("period_offset") <= max_offset))
    )
    matrix = (
        joined.groupBy("cohort", "period_offset")
        .agg(F.count_distinct(user_col).alias("users"))
    )
    base = matrix.where(F.col("period_offset") == 0).select(
        "cohort", F.col("users").alias("__base")
    )
    return (
        matrix.join(F.broadcast(base), "cohort")
        .select(
            "cohort",
            "period_offset",
            "users",
            F.round(
                100.0 * F.col("users") / F.col("__base"), 6
            ).alias("pct_of_cohort"),
        )
        .orderBy("cohort", "period_offset")
    )


def cohort_retention_sql(
    table: str,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
    max_offset: int = 8,
) -> str:
    """DuckDB twin of :func:`cohort_retention`."""
    diff = {
        "week": "CAST(FLOOR(date_diff('day', cohort, active_p) / 7.0) AS INT)",
        "day": "date_diff('day', cohort, active_p)",
        "month": "date_diff('month', cohort, active_p)",
    }[period]
    return f"""
WITH first_seen AS (
  SELECT {user_col},
         CAST(date_trunc('{period}', MIN({ts_col})) AS TIMESTAMP) AS cohort
  FROM {table} GROUP BY {user_col}
),
activity AS (
  SELECT DISTINCT {user_col},
         CAST(date_trunc('{period}', {ts_col}) AS TIMESTAMP) AS active_p
  FROM {table}
),
joined AS (
  SELECT a.{user_col}, f.cohort, {diff} AS period_offset
  FROM activity a JOIN first_seen f USING ({user_col})
),
matrix AS (
  SELECT cohort, period_offset,
         CAST(COUNT(DISTINCT {user_col}) AS BIGINT) AS users
  FROM joined WHERE period_offset >= 0 AND period_offset <= {max_offset}
  GROUP BY cohort, period_offset
)
SELECT m.cohort, CAST(m.period_offset AS INT) AS period_offset, m.users,
       ROUND(100.0 * m.users / b.users, 6) AS pct_of_cohort
FROM matrix m
JOIN (SELECT cohort, users FROM matrix WHERE period_offset = 0) b
  ON m.cohort = b.cohort
ORDER BY m.cohort, m.period_offset
"""


def rate_anomalies(
    df: DataFrame,
    ts_col: str = "ts",
    *,
    interval: str = "1 day",
    threshold: float = 2.0,
) -> DataFrame:
    """Bucket-count anomaly flags: date-histogram counts z-scored against
    the full series mean/std (population); |z| >= threshold flags.

    Two bounded passes: the bucket hash agg, then a 1-row mean/std agg
    broadcast back — no unbounded window, deterministic (z rounded 6).
    Returns (bucket, doc_count, z_score, is_anomaly)."""
    buckets = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(F.window(ts_col, interval).getField("start").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
    )
    stats = buckets.agg(
        F.avg("doc_count").alias("__m"),
        F.stddev_pop("doc_count").alias("__s"),
    )
    return (
        buckets.crossJoin(F.broadcast(stats))
        .select(
            "bucket",
            "doc_count",
            F.round(
                (F.col("doc_count") - F.col("__m"))
                / F.when(F.col("__s") > 0, F.col("__s")),
                6,
            ).alias("z_score"),
        )
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(F.col("z_score")) >= threshold, F.lit(False)),
        )
        .orderBy("bucket")
    )


def rate_anomalies_sql(
    table: str,
    ts_col: str = "ts",
    *,
    interval_duck: str = "1 day",
    threshold: float = 2.0,
) -> str:
    """DuckDB twin of :func:`rate_anomalies` (day-grain truncation)."""
    return f"""
WITH buckets AS (
  SELECT CAST(date_trunc('day', {ts_col}) AS TIMESTAMP) AS bucket,
         COUNT(*) AS doc_count
  FROM {table} WHERE {ts_col} IS NOT NULL GROUP BY bucket
),
stats AS (
  SELECT AVG(doc_count) AS m, STDDEV_POP(doc_count) AS s FROM buckets
)
SELECT bucket, doc_count,
       ROUND((doc_count - m) / CASE WHEN s > 0 THEN s END, 6) AS z_score,
       COALESCE(ABS(ROUND((doc_count - m) / CASE WHEN s > 0 THEN s END, 6))
                >= {threshold}, FALSE) AS is_anomaly
FROM buckets CROSS JOIN stats
ORDER BY bucket
"""


# -- EQL sequence -------------------------------------------------------------


def eql_sequence(
    df: DataFrame,
    steps: list[str],
    *,
    by: str = "user_id",
    time_col: str = "ts",
    id_col: str = "event_id",
    maxspan_seconds: int | None = None,
    until: str | None = None,
) -> DataFrame:
    """ES EQL ``sequence by <key> [step1] [step2] ... until [u] with
    maxspan=Ns``: ordered event chains per key, each step strictly after
    the previous one, the whole chain inside ``maxspan`` of its first
    event; with ``until``, a chain is dropped when an until-event for the
    same key fires strictly inside its ((t1,id1), (tn,idn)) span — the
    relational pin of EQL's "until expires pending sequences".

    One row per step-1 event that completes the chain, with the time and
    id of every step: (by, t1, id1, ..., tn, idn). "Strictly after" is
    pinned lexicographically on (time, id) so ties are deterministic in
    both engines. Each step-1 anchor matches independently to the
    EARLIEST qualifying followers — ES's engine additionally retires
    consumed events from other pending sequences (stateful, run-order
    dependent, not reproducible relationally); the independent-anchor
    variant is the documented difference and an upper bound on ES's
    match set.

    Scale shape: ONE key-hash exchange feeds a single window pass that
    computes, for EVERY event, the (time, id) of the next step-i event
    after it (a DESC scan with per-step conditional running ``last``,
    O(steps) state per row); the chain is then realized with n-2
    pointer-chasing equi-joins on (key, time, id) that AQE co-locates on
    the same partitioning. No self-join explosion, no per-anchor scans.
    """
    if len(steps) < 2:
        raise ValueError("a sequence needs at least 2 steps")
    n = len(steps)
    ucols = [F.expr(until).alias("__su")] if until is not None else []
    ev = df.select(
        by,
        F.col(time_col).alias("__t"),
        F.col(id_col).alias("__id"),
        *[F.expr(p).alias(f"__s{i+1}") for i, p in enumerate(steps)],
        *ucols,
    )
    w = (
        Window.partitionBy(by)
        .orderBy(F.col("__t").desc(), F.col("__id").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    for i in range(2, n + 1):
        ev = ev.withColumn(
            f"__nt{i}",
            F.last(F.when(F.col(f"__s{i}"), F.col("__t")), True).over(w),
        ).withColumn(
            f"__nid{i}",
            F.last(F.when(F.col(f"__s{i}"), F.col("__id")), True).over(w),
        )
    if until is not None:
        # earliest until-event strictly after each row — same single
        # window pass, one extra conditional running-last per row
        ev = ev.withColumn(
            "__ntu", F.last(F.when(F.col("__su"), F.col("__t")), True).over(w)
        ).withColumn(
            "__nidu",
            F.last(F.when(F.col("__su"), F.col("__id")), True).over(w),
        )
    ev = checkpoint(ev) if n > 2 else ev
    seq = ev.where("__s1").select(
        by,
        F.col("__t").alias("t1"),
        F.col("__id").alias("id1"),
        F.col("__nt2").alias("t2"),
        F.col("__nid2").alias("id2"),
        *([F.col("__ntu").alias("__ntu"), F.col("__nidu").alias("__nidu")]
          if until is not None else []),
    )
    for i in range(3, n + 1):
        nxt = ev.select(
            by,
            F.col("__t").alias(f"t{i-1}"),
            F.col("__id").alias(f"id{i-1}"),
            F.col(f"__nt{i}").alias(f"t{i}"),
            F.col(f"__nid{i}").alias(f"id{i}"),
        )
        seq = seq.join(nxt, [by, f"t{i-1}", f"id{i-1}"])
    out = seq.where(F.col(f"t{n}").isNotNull())
    if maxspan_seconds is not None:
        out = out.where(
            F.col(f"t{n}")
            <= F.col("t1") + F.expr(f"INTERVAL {int(maxspan_seconds)} SECOND")
        )
    if until is not None:
        # drop chains whose earliest until after the anchor lands
        # strictly inside the span: (tu,idu) < (tn,idn) lexicographic
        out = out.where(
            F.col("__ntu").isNull()
            | (F.struct(F.col("__ntu"), F.col("__nidu"))
               >= F.struct(F.col(f"t{n}"), F.col(f"id{n}")))
        )
    cols = [by] + [c for i in range(1, n + 1) for c in (f"t{i}", f"id{i}")]
    return out.select(*cols)


def eql_sequence_sql(
    table: str,
    steps: list[str],
    *,
    by: str = "user_id",
    time_col: str = "ts",
    id_col: str = "event_id",
    maxspan_seconds: int | None = None,
    until: str | None = None,
) -> str:
    """DuckDB SQL replay of :func:`eql_sequence` — same flags, same
    DESC-scan windows, same pointer-chasing joins. DuckDB-dialect only:
    the two engines disagree on IGNORE NULLS placement (DuckDB
    ``LAST_VALUE(x IGNORE NULLS)`` vs Spark ``LAST_VALUE(x) IGNORE
    NULLS``), and the DataFrame op IS the Spark side. Two-level CTE:
    flags first, windows second (a window cannot reference a same-SELECT
    lateral alias portably)."""
    if len(steps) < 2:
        raise ValueError("a sequence needs at least 2 steps")
    n = len(steps)
    flags = ",\n         ".join(
        f"({p}) AS s{i+1}" for i, p in enumerate(steps)
    )
    if until is not None:
        flags += f",\n         ({until}) AS su"
    frame = (
        f"OVER (PARTITION BY {by} ORDER BY t DESC, id DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    nexts = ",\n         ".join(
        f"LAST_VALUE(CASE WHEN s{i} THEN t END IGNORE NULLS) {frame} AS nt{i},\n"
        f"         LAST_VALUE(CASE WHEN s{i} THEN id END IGNORE NULLS) {frame} AS nid{i}"
        for i in range(2, n + 1)
    )
    if until is not None:
        nexts += (
            f",\n         LAST_VALUE(CASE WHEN su THEN t END IGNORE NULLS)"
            f" {frame} AS ntu,\n"
            f"         LAST_VALUE(CASE WHEN su THEN id END IGNORE NULLS)"
            f" {frame} AS nidu"
        )
    sel = [f"a.{by}", "a.t AS t1", "a.id AS id1",
           "a.nt2 AS t2", "a.nid2 AS id2"]
    joins = []
    for i in range(3, n + 1):
        pt = "a.nt2" if i == 3 else f"j{i-1}.nt{i-1}"
        pid = "a.nid2" if i == 3 else f"j{i-1}.nid{i-1}"
        joins.append(
            f"JOIN ev j{i} ON j{i}.{by} = a.{by} "
            f"AND j{i}.t = {pt} AND j{i}.id = {pid}"
        )
        sel += [f"j{i}.nt{i} AS t{i}", f"j{i}.nid{i} AS id{i}"]
    join_sql = ("\n  " + "\n  ".join(joins)) if joins else ""
    tn = "a.nt2" if n == 2 else f"j{n}.nt{n}"
    idn = "a.nid2" if n == 2 else f"j{n}.nid{n}"
    span = (
        f" AND {tn} <= a.t + INTERVAL {int(maxspan_seconds)} SECOND"
        if maxspan_seconds is not None
        else ""
    )
    if until is not None:
        span += (
            f" AND (a.ntu IS NULL OR (a.ntu, a.nidu) >= ({tn}, {idn}))"
        )
    return f"""
WITH ev0 AS (
  SELECT {by}, {time_col} AS t, {id_col} AS id,
         {flags}
  FROM {table}
), ev AS (
  SELECT *,
         {nexts}
  FROM ev0
)
SELECT {', '.join(sel)}
FROM ev a{join_sql}
WHERE a.s1 AND {tn} IS NOT NULL{span}
"""


def pr_curve(
    df: DataFrame,
    score_col: str,
    positive_col: str,
    *,
    round_scale: int = 6,
) -> DataFrame:
    """Precision/recall curve for a binary scorer (quality-classifier /
    dedup-verifier calibration): one row per distinct score threshold t —
    predictions are "score >= t" — with tp/fp counts, precision, recall
    and F1. Ordered threshold DESC (the standard sweep direction).

    Scale shape: the raw rows collapse FIRST to one row per distinct
    score (hash agg with map-side combine); the cumulative counts then
    ride a SCALABLE prefix sum over the threshold-level frame
    (:func:`ordering.prefix_sums` — continuous scores make that frame
    corpus-sized, so never an unpartitioned window). The positive total
    is a 1-row broadcast cross join.
    """
    from harmonize_search_analyze_spark.operators.ordering import (
        prefix_sums,
    )

    s, p = F.col(score_col), F.col(positive_col).cast("long")
    per = (
        df.where(s.isNotNull() & p.isNotNull())
        .groupBy(s.alias("threshold"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(p).alias("np"),
        )
    )
    totals = per.agg(
        F.sum("np").alias("total_pos")
    )
    cum = prefix_sums(
        per, [("threshold", False)], {"np": "__tp", "n": "__cn"}
    )
    tp = F.col("__tp")
    fp = F.col("__cn") - F.col("__tp")
    prec = tp.cast("double") / (tp + fp).cast("double")
    rec = F.try_divide(tp.cast("double"), F.col("total_pos").cast("double"))
    f1 = F.try_divide(F.lit(2.0) * prec * rec, prec + rec)
    return (
        cum.crossJoin(F.broadcast(totals))
        .select(
            "threshold",
            tp.cast("bigint").alias("tp"),
            fp.cast("bigint").alias("fp"),
            F.round(prec, round_scale).alias("precision"),
            F.round(rec, round_scale).alias("recall"),
            F.round(f1, round_scale).alias("f1"),
        )
        .orderBy(F.desc("threshold"))
    )


def step_transitions(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    event_col: str,
    *,
    k: int = 20,
) -> DataFrame:
    """User-path transition edges (the Sankey/next-step panel): count the
    (from_step, to_step) pairs of CONSECUTIVE events per user, ranked by
    frequency (ties pinned from ASC, to ASC).

    Windowless pair construction (the bigram_lm_score trick): each user's
    events collapse to ONE sorted array via a hash agg, and the adjacent
    pairs come from zip-with-shift inside the row — no per-user
    row_number window, so the only exchanges are the per-user agg and
    the final edge count. Per-user state is the user's event count
    (bounded by sessions, same contract as sessionize_batch — pre-filter
    pathological users first at extreme scale)."""
    ordered = (
        df.where(
            F.col(user_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(event_col).isNotNull()
        )
        .groupBy(user_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(ts_col).alias("t"),
                        F.col(event_col).alias("e"),
                    )
                )
            ).alias("__seq")
        )
    )
    pairs = ordered.select(
        F.explode(
            F.expr(
                "CASE WHEN size(__seq) >= 2 THEN"
                " transform(sequence(1, size(__seq) - 1),"
                " i -> struct(__seq[i - 1].e AS from_step,"
                " __seq[i].e AS to_step))"
                " ELSE array() END"
            )
        ).alias("p")
    )
    return (
        pairs.select("p.from_step", "p.to_step")
        .groupBy("from_step", "to_step")
        .agg(F.count(F.lit(1)).alias("transitions"))
        .orderBy(F.desc("transitions"), F.asc("from_step"),
                 F.asc("to_step"))
        .limit(k)
    )


def seasonal_anomalies(
    df: DataFrame,
    ts_col: str,
    *,
    threshold: float = 2.0,
) -> DataFrame:
    """Seasonality-aware rate anomalies: hourly event counts scored
    against the SAME-HOUR-OF-DAY profile (mean/stddev over the series),
    flagging |z| >= threshold — the seasonal twin of rate_anomalies
    (which scores against the whole-series distribution and therefore
    flags every rush hour). Returns the flagged buckets
    (bucket, doc_count, hour_of_day, expected, z) ordered by bucket.

    Shape: one hourly hash agg over the raw rows; the 24-row profile
    aggregates FROM the bucket frame and broadcast-joins back — raw data
    is scanned once, everything after is bucket-level."""
    hourly = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(F.date_trunc("hour", F.col(ts_col)).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
    )
    hod = F.hour("bucket").alias("hour_of_day")
    prof = (
        hourly.groupBy(hod)
        .agg(
            F.avg("doc_count").alias("__mu"),
            F.stddev_pop("doc_count").alias("__sd"),
        )
    )
    z = F.try_divide(
        F.col("doc_count") - F.col("__mu"), F.col("__sd")
    )
    return (
        hourly.select("bucket", "doc_count", hod)
        .join(F.broadcast(prof), "hour_of_day")
        .select(
            "bucket",
            "doc_count",
            "hour_of_day",
            F.round("__mu", 6).alias("expected"),
            F.round(z, 6).alias("z"),
        )
        .where(F.abs(F.col("z")) >= float(threshold))
        .orderBy("bucket")
    )


def ks_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between two groups'
    distributions of a numeric column — the corpus-snapshot drift check
    (did src A's length/quality distribution move vs src B's?), the
    nonparametric sibling of the engine's t_test.

    D = max over observed values of |F_a(x) - F_b(x)| with F the
    empirical CDFs. Returns ONE row: (n_a, n_b, ks_stat, ks_at — the
    value where the gap peaks, smallest such value on ties).

    Shape: raw rows collapse to per-(value) counts for each group in one
    conditional agg (map-side combine); the empirical CDFs ride a
    SCALABLE prefix sum over the distinct-value frame
    (:func:`ordering.prefix_sums` — corpus-sized on continuous values,
    so never an unpartitioned window); the max is a 1-row reduce. Raw
    data is scanned once."""
    from harmonize_search_analyze_spark.operators.ordering import (
        prefix_sums,
    )

    a = F.col(group_col) == group_a
    b = F.col(group_col) == group_b
    per = (
        df.where(F.col(value_col).isNotNull() & (a | b))
        .groupBy(F.col(value_col).alias("v"))
        .agg(
            F.count(F.when(a, 1)).alias("ca"),
            F.count(F.when(b, 1)).alias("cb"),
        )
    )
    cum = prefix_sums(per, ["v"], {"ca": "__fa", "cb": "__fb"})
    # counts are >= 0, so the totals are the largest running sums: read
    # them off prefix_sums' checkpoint instead of scanning the raw rows
    # a second time
    tot = cum.agg(F.max("__fa").alias("na"), F.max("__fb").alias("nb"))
    gap = F.abs(
        F.try_divide(F.col("__fa"), F.col("na"))
        - F.try_divide(F.col("__fb"), F.col("nb"))
    )
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        "v", "na", "nb", gap.alias("g")
    )
    best = gaps.orderBy(F.desc("g"), F.asc("v")).limit(1)
    out = best.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round("g", 6).alias("ks_stat"),
        F.col("v").alias("ks_at"),
    )
    return out


def chi2_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Pearson chi-squared test of independence between two categorical
    columns (the dashboard-era "are these fields related" check; the
    contingency sibling of t_test/matrix_stats). Returns ONE row:
    (n BIGINT, dof BIGINT, chi2 DOUBLE rounded 6) where
    chi2 = Σ (observed - expected)^2 / expected over the table and
    dof = (|A| - 1) * (|B| - 1).

    Shape: one (a, b) hash agg builds the contingency cells; marginals
    aggregate FROM the cell frame (bounded by category product) and join
    back by key — the raw rows are scanned once, everything after is
    category-sized."""
    observed = (
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    row_m = observed.groupBy("a").agg(F.sum("o").alias("ra"))
    col_m = observed.groupBy("b").agg(F.sum("o").alias("cb"))
    # the FULL |A| x |B| grid: a structurally empty cell still contributes
    # (0 - e)^2 / e = e to the statistic — omitting unobserved cells
    # deflates chi2 (category-sized cross join, marginal frames only)
    cells = (
        row_m.crossJoin(col_m)
        .join(observed, ["a", "b"], "left")
        .select(
            "a", "b", "ra", "cb",
            F.coalesce("o", F.lit(0)).alias("o"),
        )
    )
    # category counts come from the marginal frames, NOT a countDistinct
    # mixed into the sum agg (the Expand-plan cliff, PERFORMANCE.md §2)
    tot = observed.agg(F.sum("o").alias("n"))
    ka = row_m.agg(F.count(F.lit(1)).alias("ka"))
    kb = col_m.agg(F.count(F.lit(1)).alias("kb"))
    e = (
        F.col("ra").cast("double")
        * F.col("cb").cast("double")
        / F.col("n").cast("double")
    )
    term = (F.col("o").cast("double") - e) * (F.col("o") - e) / e
    return (
        cells.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ka))
        .crossJoin(F.broadcast(kb))
        .agg(
            F.max("n").cast("bigint").alias("n"),
            ((F.max("ka") - 1) * (F.max("kb") - 1))
            .cast("bigint")
            .alias("dof"),
            F.round(F.sum(term), 6).alias("chi2"),
        )
    )


# -- RFM segmentation ----------------------------------------------------------


def rfm_segments(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    time_col: str = "ts",
    value_col: str = "value",
    predicate: str | Column | None = None,
    n_tiles: int = 4,
) -> DataFrame:
    """Recency/Frequency/Monetary segmentation (the classic
    customer-analytics rollup the reference's Kibana dashboards
    approximate with three separate panels): one hash agg per user, then
    ``ntile`` tiles on each axis over the user frame.

    Tile orderings are pinned for cross-engine determinism: recency by
    (last_seen DESC, user) — tile 1 = most recent; frequency by
    (n DESC, user); monetary by (total DESC, user). Segment is the
    concatenated "r-f-m" digit string.

    Scale shape: the per-user agg shuffles once on the user key; each
    axis then tiles via :func:`ordering.ntile_scalable` (range exchange
    + parallel per-partition row_number + broadcast offsets — exact
    NTILE with no single-task sort, so a billion-user frame tiles in
    parallel instead of on one partition).
    """
    if predicate is not None:
        df = df.where(
            F.expr(predicate) if isinstance(predicate, str) else predicate
        )
    users = (
        df.where(F.col(user_col).isNotNull())
        .groupBy(F.col(user_col).alias("user_key"))
        .agg(
            F.max(time_col).alias("last_seen"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(value_col).alias("monetary"),
        )
    )
    from harmonize_search_analyze_spark.operators.ordering import (
        ntile_multi,
    )

    # one checkpoint + one fused boundary pass + one bucket exchange per
    # axis — every axis's bucket id is a pure projection of the user
    # frame, so the offsets never chain through the window stages
    tiled = ntile_multi(
        users,
        {
            "r": [("last_seen", False), ("user_key", True)],
            "f": [("frequency", False), ("user_key", True)],
            "m": [("monetary", False), ("user_key", True)],
        },
        n_tiles,
    )
    return (
        tiled
        .withColumn(
            "segment",
            F.concat_ws("-", F.col("r"), F.col("f"), F.col("m")),
        )
        .select(
            "user_key", "last_seen", "frequency",
            F.round("monetary", 6).alias("monetary"),
            "r", "f", "m", "segment",
        )
    )


def rfm_segments_sql(
    table: str,
    *,
    user_col: str = "user_id",
    time_col: str = "ts",
    value_col: str = "value",
    where: str | None = None,
    n_tiles: int = 4,
) -> str:
    """DuckDB replay of :func:`rfm_segments` — same pinned orderings."""
    w = f"AND ({where})" if where else ""
    return f"""
WITH u AS (
  SELECT {user_col} AS user_key, MAX({time_col}) AS last_seen,
         COUNT(*) AS frequency, SUM({value_col}) AS monetary
  FROM {table} WHERE {user_col} IS NOT NULL {w}
  GROUP BY 1
)
SELECT user_key, last_seen, frequency, ROUND(monetary, 6) AS monetary,
       NTILE({n_tiles}) OVER (ORDER BY last_seen DESC, user_key ASC) AS r,
       NTILE({n_tiles}) OVER (ORDER BY frequency DESC, user_key ASC) AS f,
       NTILE({n_tiles}) OVER (ORDER BY monetary DESC, user_key ASC) AS m,
       NTILE({n_tiles}) OVER (ORDER BY last_seen DESC, user_key ASC)
       || '-' || NTILE({n_tiles}) OVER (ORDER BY frequency DESC, user_key ASC)
       || '-' || NTILE({n_tiles}) OVER (ORDER BY monetary DESC, user_key ASC)
         AS segment
FROM u
"""


# -- event path analysis -------------------------------------------------------


def event_paths(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    time_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    depth: int = 3,
    k: int = 15,
) -> DataFrame:
    """Top-k user-journey paths: each user's events ordered by
    (time, id), every consecutive ``depth``-gram of event types becomes
    one path (``a>b>c``), counted corpus-wide.

    Scale shape: ONE user-key exchange feeds the lead() window (the same
    partitioning a sessionize would use), the path count is a
    map-combinable hash agg, and the top-k is a TakeOrdered — no
    explode, no self-join, state per row is ``depth-1`` lead pointers.
    """
    if depth < 2:
        raise ValueError("a path needs depth >= 2")
    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col(time_col).asc(), F.col(id_col).asc())
    )
    # null types are dropped up front, so a non-null FINAL lead implies
    # every intermediate hop is present too
    ev = df.where(
        F.col(user_col).isNotNull() & F.col(type_col).isNotNull()
    )
    parts = [F.col(type_col)]
    for i in range(1, depth):
        ev = ev.withColumn(f"__n{i}", F.lead(type_col, i).over(w))
        parts.append(F.col(f"__n{i}"))
    full = ev.where(parts[-1].isNotNull())
    path = F.concat_ws(">", *parts)
    return (
        full.groupBy(path.alias("path"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.col("doc_count").desc(), F.col("path").asc())
        .limit(k)
    )


# -- survival analysis ---------------------------------------------------------


def kaplan_meier(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    time_col: str = "ts",
    churn_gap_days: int = 7,
) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes: a user's
    duration is (last event - first event) in whole days; the user
    CHURNED (the event fired) when their last activity sits more than
    ``churn_gap_days`` before the corpus's observation end (max ts),
    otherwise the lifetime is right-censored. The estimator is the
    standard product-limit S(t) = prod_{t_i <= t} (1 - d_i / n_i) over
    distinct churn times, computed as exp(running-sum of ln) — an exact
    bucket-level window, no iteration.

    Returns one row per distinct duration with (n_risk, n_churned,
    n_censored, survival) — survival carried at non-churn durations too
    (the curve's step values), rounded to 6.

    Scale shape: one user-keyed hash agg (lifetimes), a 1-row broadcast
    (observation end), one duration-keyed agg (the bucket frame, bounded
    by the time range in days), and one bucket-level running window.
    Raw event volume only touches the first agg.
    """
    lives = (
        df.where(F.col(user_col).isNotNull() & F.col(time_col).isNotNull())
        .groupBy(user_col)
        .agg(
            F.min(time_col).alias("__first"),
            F.max(time_col).alias("__last"),
        )
    )
    end = df.agg(F.max(time_col).alias("__end"))
    per_user = lives.crossJoin(F.broadcast(end)).select(
        F.datediff(F.col("__last"), F.col("__first")).alias("duration"),
        (
            F.datediff(F.col("__end"), F.col("__last"))
            > F.lit(int(churn_gap_days))
        ).cast("int").alias("churned"),
    )
    buckets = per_user.groupBy("duration").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("churned").alias("n_churned"),
    )
    run = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    at_risk = (
        F.sum("n_total").over(
            Window.orderBy("duration").rowsBetween(
                Window.currentRow, Window.unboundedFollowing
            )
        )
    )
    step = F.log(
        F.lit(1.0)
        - F.col("n_churned").cast("double") / F.col("n_risk")
    )
    # d == n_risk (a bucket's at-risk population fully churns — the
    # ordinary shape for the longest-lived cohort) would feed log(0):
    # Spark returns NULL (silently skipped by SUM), DuckDB raises.  The
    # product-limit estimate is exactly 0 from that bucket onward, so
    # short-circuit OUTSIDE the log: a running max of the wipe flag
    # pins survival to 0 and the log step only fires for 0 < d < n.
    wiped = F.max(
        F.when(F.col("n_churned") >= F.col("n_risk"), 1).otherwise(0)
    ).over(run)
    return (
        buckets.withColumn("n_risk", at_risk)
        .withColumn(
            "survival",
            F.when(wiped == 1, F.lit(0.0)).otherwise(
                F.round(
                    F.exp(
                        F.sum(
                            F.when(
                                (F.col("n_churned") > 0)
                                & (F.col("n_churned") < F.col("n_risk")),
                                step,
                            ).otherwise(F.lit(0.0))
                        ).over(run)
                    ),
                    6,
                )
            ),
        )
        .select(
            "duration",
            F.col("n_risk").cast("bigint").alias("n_risk"),
            F.col("n_churned").cast("bigint").alias("n_churned"),
            (F.col("n_total") - F.col("n_churned"))
            .cast("bigint")
            .alias("n_censored"),
            "survival",
        )
        .orderBy("duration")
    )


def kaplan_meier_sql(
    table: str,
    *,
    user_col: str = "user_id",
    time_col: str = "ts",
    churn_gap_days: int = 7,
) -> str:
    """DuckDB replay of :func:`kaplan_meier` — same censoring rule and
    product-limit-as-exp-sum-of-logs formulation."""
    return f"""
WITH lives AS (
  SELECT {user_col} AS u, MIN({time_col}) AS f, MAX({time_col}) AS l
  FROM {table}
  WHERE {user_col} IS NOT NULL AND {time_col} IS NOT NULL
  GROUP BY 1
), endt AS (SELECT MAX({time_col}) AS e FROM {table}),
per_user AS (
  SELECT date_diff('day', f, l) AS duration,
         CASE WHEN date_diff('day', l, e) > {int(churn_gap_days)}
              THEN 1 ELSE 0 END AS churned
  FROM lives CROSS JOIN endt
), buckets AS (
  SELECT duration, COUNT(*) AS n_total, SUM(churned) AS n_churned
  FROM per_user GROUP BY 1
), risked AS (
  SELECT duration, n_total, n_churned,
         SUM(n_total) OVER (ORDER BY duration
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
  FROM buckets
), curve AS (
  -- d == n_risk would feed ln(0) (DuckDB raises): short-circuit via a
  -- running wipe flag, matching the Spark operator — survival is 0 from
  -- the fully-churned bucket onward and the log only sees 0 < d < n.
  SELECT duration, n_total, n_churned, n_risk,
         SUM(CASE WHEN n_churned > 0 AND n_churned < n_risk
             THEN ln(1.0 - CAST(n_churned AS DOUBLE) / n_risk)
             ELSE 0.0 END) OVER (ORDER BY duration
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lns,
         MAX(CASE WHEN n_churned >= n_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY duration
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wiped
  FROM risked
)
SELECT duration, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(n_churned AS BIGINT) AS n_churned,
       CAST(n_total - n_churned AS BIGINT) AS n_censored,
       CASE WHEN wiped = 1 THEN 0.0
            ELSE ROUND(exp(lns), 6) END AS survival
FROM curve ORDER BY duration
"""


def eql_join(
    df: DataFrame,
    steps: list[str],
    *,
    by: str = "user_id",
    time_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """ES EQL ``join by <key> [s1] [s2] ...``: keys where EVERY step has
    at least one matching event, in ANY order (sequence without the
    ordering constraint). One row per key with each step's FIRST
    (time, id) — "first" pinned lexicographically on (time, id).

    ONE key-hash agg: per step a conditional min over a (time, id)
    struct, then a HAVING that every step matched — no joins at all, so
    this is strictly cheaper than sequence and the natural screen before
    it at 100 TB (join-qualified keys are a superset of
    sequence-qualified ones).
    """
    if len(steps) < 2:
        raise ValueError("a join needs at least 2 steps")
    ev = df.where(F.col(by).isNotNull()).select(
        by,
        F.col(time_col).alias("__t"),
        F.col(id_col).alias("__id"),
        *[F.expr(p).alias(f"__s{i+1}") for i, p in enumerate(steps)],
    )
    aggs = [
        F.min(
            F.when(
                F.col(f"__s{i+1}"),
                F.struct(F.col("__t"), F.col("__id")),
            )
        ).alias(f"__m{i+1}")
        for i in range(len(steps))
    ]
    out = ev.groupBy(by).agg(*aggs)
    for i in range(len(steps)):
        out = out.where(F.col(f"__m{i+1}").isNotNull())
    sel = [F.col(by)]
    for i in range(1, len(steps) + 1):
        sel += [
            F.col(f"__m{i}.__t").alias(f"t{i}"),
            F.col(f"__m{i}.__id").alias(f"id{i}"),
        ]
    return out.select(*sel)


def eql_join_sql(
    table: str,
    steps: list[str],
    *,
    by: str = "user_id",
    time_col: str = "ts",
    id_col: str = "event_id",
) -> str:
    """DuckDB replay of :func:`eql_join` — the same lexicographic
    struct-min per step (DuckDB compares named structs field-wise like
    Spark), spelled as per-step GROUP BY CTEs joined on the key (oracle
    clarity; the single-agg plan is the Spark side's job)."""
    if len(steps) < 2:
        raise ValueError("a join needs at least 2 steps")
    ctes, joins, sel = [], [], [f"s1.{by}"]
    for i, p in enumerate(steps, 1):
        ctes.append(
            f"s{i} AS (SELECT {by}, "
            f"MIN(struct_pack(t := {time_col}, i := {id_col})) AS m "
            f"FROM {table} WHERE ({p}) AND {by} IS NOT NULL GROUP BY {by})"
        )
        if i > 1:
            joins.append(f"JOIN s{i} ON s{i}.{by} = s1.{by}")
        sel += [f"(s{i}.m).t AS t{i}", f"(s{i}.m).i AS id{i}"]
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT {', '.join(sel)} FROM s1\n" + "\n".join(joins)
    )


def skew_report(
    df: DataFrame,
    key_col: str,
    *,
    top: int = 10,
) -> DataFrame:
    """Shuffle-key skew diagnosis — the pre-flight check before any
    100 TB join/groupBy on ``key_col``. One key-count agg, then
    key-count-sized work: per-key share of rows, normalized Shannon
    entropy (1 = uniform), and the max-key/mean-key ratio — the number
    that says how much longer the hottest reducer runs than the
    average one (the salting-factor starting point; AQE's skew-join
    handles joins, but groupBy hotspots need salting by hand). Returns
    the ``top`` hottest keys with the summary columns repeated per row
    (one frame, driver-gate friendly). NULL keys count as a key."""
    # key-count frame: built once, consumed twice (summary + output) —
    # localCheckpoint so the raw scan doesn't run twice; the frame is
    # key-cardinality-sized, never row-sized
    counts = checkpoint(df.groupBy(
        F.coalesce(F.col(key_col).cast("string"), F.lit("<null>")).alias(
            "key"
        )
    ).agg(F.count(F.lit(1)).alias("n")), eager=True)
    # the summary is ONE map-combinable agg + a broadcast back — NOT a
    # whole-frame window (which would move every key count to a single
    # task; key spaces at 100 TB are themselves large). Entropy
    # decomposes as ln(tot) - sum(n*ln n)/tot, so tot never needs a
    # separate pass.
    summary = F.broadcast(
        counts.agg(
            F.count(F.lit(1)).alias("__k"),
            F.max("n").alias("__max"),
            F.sum("n").cast("double").alias("__tot"),
            F.sum(F.col("n") * F.log("n")).alias("__s"),
        ).select(
            "__k", "__max", "__tot",
            (F.log("__tot") - F.col("__s") / F.col("__tot")).alias("__h"),
        )
    )
    stats = counts.crossJoin(summary)
    return (
        stats.select(
            "key",
            "n",
            F.round(F.col("n") / F.col("__tot"), 6).alias("share"),
            F.round(
                F.when(F.col("__k") > 1, F.col("__h") / F.log("__k"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("entropy"),
            F.round(
                F.col("__max") / (F.col("__tot") / F.col("__k")), 6
            ).alias("max_over_mean"),
        )
        .orderBy(F.desc("n"), F.asc("key"))
        .limit(top)
    )


def skew_report_sql(
    table: str, key_col: str, dialect: str, *, top: int = 10
) -> str:
    """Dual-dialect twin of :func:`skew_report`."""
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    return f"""
WITH counts AS (
  SELECT COALESCE(CAST({key_col} AS {cast}), '<null>') AS key,
         COUNT(*) AS n
  FROM {table} GROUP BY 1
), s AS (
  SELECT SUM(n) AS tot, COUNT(*) AS k, MAX(n) AS mx,
         -SUM((CAST(n AS DOUBLE) / (SELECT SUM(n) FROM counts))
              * ln(CAST(n AS DOUBLE) / (SELECT SUM(n) FROM counts))) AS h
  FROM counts
)
SELECT key, n,
       ROUND(CAST(n AS DOUBLE) / tot, 6) AS share,
       ROUND(CASE WHEN k > 1 THEN h / ln(k) ELSE 0.0 END, 6) AS entropy,
       ROUND(CAST(mx AS DOUBLE) / (CAST(tot AS DOUBLE) / k), 6)
         AS max_over_mean
FROM counts CROSS JOIN s
ORDER BY n DESC, key ASC LIMIT {top}
"""


def psi_drift(
    reference: DataFrame,
    actual: DataFrame,
    value_col: str,
    *,
    bins: int = 10,
    floor: float = 1e-6,
) -> DataFrame:
    """Population Stability Index — the industry-standard
    feature/score-drift monitor (PSI < 0.1 stable, 0.1-0.25 shifting,
    > 0.25 drifted): fixed-width bins over the REFERENCE min/max
    (fixed-width rather than quantile edges keeps the binning exactly
    reproducible cross-engine), actual values clamped into the edge
    bins, per-bin proportions floored at ``floor`` before the log (the
    standard empty-bin smoothing, pinned), contribution
    ``(a - e) * ln(a / e)``.

    Returns one row per bin: ``(bin, lo, hi, ref_frac, act_frac,
    contrib)`` ordered by bin, plus the total as every row's ``psi``
    column (a bucket-count-sized window — consumers read it off any
    row without a second pass).

    Scale shape: two map-combinable bin-count aggs (one per side) over
    a broadcast 1-row stats frame; everything after the two aggs is
    bin-count-sized.
    """
    if bins < 2:
        raise ValueError("bins must be >= 2")
    stats = reference.agg(
        F.min(F.col(value_col).cast("double")).alias("__lo"),
        F.max(F.col(value_col).cast("double")).alias("__hi"),
    )

    def binned(df: DataFrame, name: str) -> DataFrame:
        width = (F.col("__hi") - F.col("__lo")) / bins
        idx = F.least(
            F.lit(bins - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col(value_col).cast("double") - F.col("__lo"))
                    / width
                ).cast("int"),
            ),
        )
        return (
            df.where(F.col(value_col).isNotNull())
            .crossJoin(F.broadcast(stats))
            .select(idx.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias(name))
        )

    r = binned(reference, "ref_n")
    a = binned(actual, "act_n")
    all_bins = reference.sparkSession.range(bins).select(
        F.col("id").cast("int").alias("bin")
    )
    joined = (
        all_bins.join(r, "bin", "left")
        .join(a, "bin", "left")
        .na.fill({"ref_n": 0, "act_n": 0})
        .crossJoin(
            F.broadcast(
                reference.where(F.col(value_col).isNotNull()).agg(
                    F.count(F.lit(1)).alias("__rt")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                actual.where(F.col(value_col).isNotNull()).agg(
                    F.count(F.lit(1)).alias("__at")
                )
            )
        )
        .crossJoin(F.broadcast(stats))
    )
    rf = F.greatest(F.col("ref_n") / F.col("__rt"), F.lit(floor))
    af = F.greatest(F.col("act_n") / F.col("__at"), F.lit(floor))
    width = (F.col("__hi") - F.col("__lo")) / bins
    out = joined.select(
        "bin",
        F.round(F.col("__lo") + F.col("bin") * width, 6).alias("lo"),
        F.round(F.col("__lo") + (F.col("bin") + 1) * width, 6).alias("hi"),
        F.round(rf, 6).alias("ref_frac"),
        F.round(af, 6).alias("act_frac"),
        F.round((af - rf) * F.log(af / rf), 6).alias("contrib"),
    )
    # total PSI = sum of the (rounded) per-bin contribs, carried on
    # every row by a bucket-count-sized global window
    return out.withColumn(
        "psi",
        F.round(
            F.sum(F.col("contrib")).over(Window.partitionBy()), 6
        ),
    ).orderBy("bin")


def psi_drift_sql(
    ref_sql: str,
    act_sql: str,
    value_col: str,
    dialect: str,
    *,
    bins: int = 10,
    floor: float = 1e-6,
) -> str:
    """Dual-dialect twin of :func:`psi_drift` (identical binning,
    flooring and log arithmetic; the bin spine comes from a generated
    range so empty bins appear on both engines)."""
    if dialect == "spark":
        spine = f"SELECT explode(sequence(0, {bins - 1})) AS bin"
    elif dialect == "duckdb":
        spine = f"SELECT CAST(t.i AS INT) AS bin FROM range(0, {bins}) t(i)"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    v = f"CAST({value_col} AS DOUBLE)"
    idx = (
        f"LEAST({bins - 1}, GREATEST(0, CAST(FLOOR(({v} - s.lo)"
        f" / ((s.hi - s.lo) / {bins})) AS INT)))"
    )
    return f"""
WITH ref AS ({ref_sql}),
act AS ({act_sql}),
s AS (SELECT MIN({v}) AS lo, MAX({v}) AS hi FROM ref),
rb AS (
  SELECT {idx} AS bin, COUNT(*) AS ref_n
  FROM ref CROSS JOIN s WHERE {value_col} IS NOT NULL GROUP BY 1
),
ab AS (
  SELECT {idx} AS bin, COUNT(*) AS act_n
  FROM act CROSS JOIN s WHERE {value_col} IS NOT NULL GROUP BY 1
),
spine AS ({spine}),
tot AS (
  SELECT (SELECT COUNT(*) FROM ref WHERE {value_col} IS NOT NULL) AS rt,
         (SELECT COUNT(*) FROM act WHERE {value_col} IS NOT NULL) AS at
),
d AS (
  SELECT spine.bin,
         ROUND(s.lo + spine.bin * ((s.hi - s.lo) / {bins}), 6) AS lo,
         ROUND(s.lo + (spine.bin + 1) * ((s.hi - s.lo) / {bins}), 6)
           AS hi,
         ROUND(GREATEST(COALESCE(rb.ref_n, 0) / CAST(tot.rt AS DOUBLE),
                        {floor!r}), 6) AS ref_frac,
         ROUND(GREATEST(COALESCE(ab.act_n, 0) / CAST(tot.at AS DOUBLE),
                        {floor!r}), 6) AS act_frac,
         ROUND((GREATEST(COALESCE(ab.act_n, 0) / CAST(tot.at AS DOUBLE),
                         {floor!r})
                - GREATEST(COALESCE(rb.ref_n, 0) / CAST(tot.rt AS DOUBLE),
                           {floor!r}))
               * LN(GREATEST(COALESCE(ab.act_n, 0) / CAST(tot.at AS
                             DOUBLE), {floor!r})
                    / GREATEST(COALESCE(rb.ref_n, 0) / CAST(tot.rt AS
                               DOUBLE), {floor!r})), 6) AS contrib
  FROM spine
  LEFT JOIN rb ON spine.bin = rb.bin
  LEFT JOIN ab ON spine.bin = ab.bin
  CROSS JOIN s CROSS JOIN tot
)
SELECT bin, lo, hi, ref_frac, act_frac, contrib,
       ROUND(SUM(contrib) OVER (), 6) AS psi
FROM d ORDER BY bin
"""


def ols_trend(
    df: DataFrame,
    x_expr: str,
    y_expr: str,
    *,
    by: str | None = None,
) -> DataFrame:
    """Per-group simple linear regression (OLS) — the trend-fitting
    primitive behind "is this metric drifting?" panels: slope,
    intercept, R² and n of ``y`` on ``x`` (both Spark SQL expressions),
    via the engines' SHARED closed-form REGR_* aggregates — one
    map-combinable agg, no windows, no collects.

    Degenerate-group pins (verified identical on both engines):
    zero y-variance gives R² = 1.0 (the flat line fits perfectly);
    zero x-variance gives NULL slope/intercept/R². Rounded 6; ordered
    by group.
    """
    y = F.expr(y_expr).cast("double")
    x = F.expr(x_expr).cast("double")
    aggs = [
        F.count(F.when(x.isNotNull() & y.isNotNull(), 1)).cast(
            "bigint"
        ).alias("n"),
        F.round(F.expr(
            f"regr_slope(CAST({y_expr} AS DOUBLE),"
            f" CAST({x_expr} AS DOUBLE))"
        ), 6).alias("slope"),
        F.round(F.expr(
            f"regr_intercept(CAST({y_expr} AS DOUBLE),"
            f" CAST({x_expr} AS DOUBLE))"
        ), 6).alias("intercept"),
        F.round(F.expr(
            f"regr_r2(CAST({y_expr} AS DOUBLE),"
            f" CAST({x_expr} AS DOUBLE))"
        ), 6).alias("r2"),
    ]
    if by is None:
        return df.agg(*aggs)
    return df.groupBy(by).agg(*aggs).orderBy(by)


def ols_trend_sql(
    table: str,
    x_expr: str,
    y_expr: str,
    dialect: str,
    *,
    by: str | None = None,
    where: str | None = None,
) -> str:
    """Dual-dialect twin of :func:`ols_trend` (REGR_SLOPE /
    REGR_INTERCEPT / REGR_R2 are shared SQL-standard aggregates)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    y = f"CAST({y_expr} AS DOUBLE)"
    x = f"CAST({x_expr} AS DOUBLE)"
    sel = f"{by}, " if by else ""
    grp = f"GROUP BY {by} ORDER BY {by}" if by else ""
    w = f"WHERE {where}" if where else ""
    return f"""
SELECT {sel}CAST(COUNT(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL
                 THEN 1 END) AS BIGINT) AS n,
       ROUND(REGR_SLOPE({y}, {x}), 6) AS slope,
       ROUND(REGR_INTERCEPT({y}, {x}), 6) AS intercept,
       ROUND(REGR_R2({y}, {x}), 6) AS r2
FROM {table} {w}
{grp}
"""


def xcorr_lags(
    a: DataFrame,
    b: DataFrame,
    *,
    bucket_col: str = "bucket",
    a_col: str = "va",
    b_col: str = "vb",
    max_lag: int = 7,
) -> DataFrame:
    """Cross-correlation of two (already bucketed) daily series at lags
    -max_lag..+max_lag — the lead/lag detector ("do signups follow
    campaigns by 3 days?"). Positive lag means ``b`` SHIFTED FORWARD:
    corr(a[t], b[t - lag]), so a peak at lag +3 reads "a follows b by
    3 buckets". Pearson corr via the engines' shared CORR aggregate;
    returns (lag, n, corr) rounded 6, NULL corr where a lag's overlap
    is constant or empty (the shared CORR contract).

    Scale shape: inputs are bucket frames (tiny by contract — same
    single-task caveat as every bucket_pipeline consumer); the lag
    spine is 2*max_lag+1 rows crossJoined onto one side, one equi-join
    on (bucket+lag), one group-by-lag agg.
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    spark = a.sparkSession
    lags = spark.range(-max_lag, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    left = a.select(
        F.col(bucket_col).alias("__ab"), F.col(a_col).cast("double")
        .alias("__va")
    ).crossJoin(F.broadcast(lags))
    right = b.select(
        F.col(bucket_col).alias("__bb"), F.col(b_col).cast("double")
        .alias("__vb")
    )
    joined = left.join(
        right,
        F.col("__bb") == F.expr("__ab - make_interval(0,0,0,lag,0,0,0)"),
    )
    # covar/stddev form, not F.corr: Spark 4's ANSI-mode corr THROWS
    # DIVIDE_BY_ZERO when a lag's overlap is constant-valued; DuckDB's
    # CORR (the twin) returns NULL there — try_divide restores the
    # shared NULL-on-undefined contract this docstring promises
    pearson = F.try_divide(
        F.covar_pop("__va", "__vb"),
        F.stddev_pop("__va") * F.stddev_pop("__vb"),
    )
    return (
        joined.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.round(pearson, 6) + F.lit(0.0)).alias("corr"),
        )
        .orderBy("lag")
    )


def xcorr_lags_sql(
    a_sql: str,
    b_sql: str,
    dialect: str,
    *,
    max_lag: int = 7,
) -> str:
    """Dual-dialect twin of :func:`xcorr_lags`. ``a_sql``/``b_sql``
    yield (bucket TIMESTAMP, v DOUBLE)."""
    if dialect == "spark":
        spine = (
            f"SELECT explode(sequence({-max_lag}, {max_lag})) AS lag"
        )
        shift = "a.bucket - make_interval(0,0,0,l.lag,0,0,0)"
    elif dialect == "duckdb":
        spine = (
            f"SELECT CAST(t.i AS INT) AS lag"
            f" FROM range({-max_lag}, {max_lag + 1}) t(i)"
        )
        shift = "a.bucket - to_days(l.lag)"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH sa AS ({a_sql}),
sb AS ({b_sql}),
lags AS ({spine})
SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(COVAR_POP(a.v, b.v)
             / NULLIF(STDDEV_POP(a.v) * STDDEV_POP(b.v), 0.0), 6)
         + 0.0 AS corr
FROM sa a CROSS JOIN lags l
JOIN sb b ON b.bucket = {shift}
GROUP BY l.lag ORDER BY l.lag
"""


def cohens_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
) -> DataFrame:
    """Cohen's kappa — chance-corrected inter-annotator agreement, the
    labeling-QA gate for any human- or model-annotated training set:
    ``kappa = (p_o - p_e) / (1 - p_e)`` with observed agreement ``p_o``
    and the chance agreement ``p_e`` = sum over categories of the two
    raters' marginal proportions' product. Rows where either rating is
    NULL drop (a non-rating is not a category). Returns ONE row:
    ``(n, p_o, p_e, kappa)`` rounded 6; perfect chance-agreement
    (p_e = 1, both raters constant and equal) pins kappa = 1.0 rather
    than 0/0 — the degenerate-but-agreeing case.

    Scale shape: one (a, b) pair-count agg (category-pair-sized), then
    marginals and the kappa arithmetic over that tiny frame — the
    corpus is scanned once.
    """
    # the category-pair-sized count frame feeds FOUR consumers (n, p_o,
    # both marginals) — checkpoint it or the corpus agg replays per branch
    pairs = checkpoint(
        df.where(F.col(rater_a).isNotNull() & F.col(rater_b).isNotNull())
        .groupBy(
            F.col(rater_a).alias("__a"), F.col(rater_b).alias("__b")
        )
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    n = pairs.agg(F.sum("__c").alias("__n"))
    po = pairs.where(F.col("__a") == F.col("__b")).agg(
        F.coalesce(F.sum("__c"), F.lit(0)).alias("__agree")
    )
    ma = pairs.groupBy("__a").agg(F.sum("__c").alias("__ca"))
    mb = pairs.groupBy("__b").agg(F.sum("__c").alias("__cb"))
    pe = (
        ma.join(mb, ma["__a"] == mb["__b"])
        .crossJoin(F.broadcast(n))
        .agg(
            F.coalesce(
                F.sum(
                    (F.col("__ca") / F.col("__n"))
                    * (F.col("__cb") / F.col("__n"))
                ),
                F.lit(0.0),
            ).alias("__pe")
        )
    )
    out = (
        n.crossJoin(po).crossJoin(pe)
        .select(
            F.col("__n").cast("bigint").alias("n"),
            F.round(F.col("__agree") / F.col("__n"), 6).alias("p_o"),
            F.round(F.col("__pe"), 6).alias("p_e"),
            F.round(
                F.when(
                    F.col("__pe") >= 1.0,
                    F.when(
                        F.col("__agree") == F.col("__n"), F.lit(1.0)
                    ).otherwise(F.lit(0.0)),
                ).otherwise(
                    (F.col("__agree") / F.col("__n") - F.col("__pe"))
                    / (1.0 - F.col("__pe"))
                ),
                6,
            ).alias("kappa"),
        )
    )
    return out


def cohens_kappa_sql(
    table: str, rater_a: str, rater_b: str, dialect: str
) -> str:
    """Dual-dialect twin of :func:`cohens_kappa` (identical text)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH pairs AS (
  SELECT {rater_a} AS a, {rater_b} AS b, COUNT(*) AS c
  FROM {table}
  WHERE {rater_a} IS NOT NULL AND {rater_b} IS NOT NULL
  GROUP BY 1, 2
),
n AS (SELECT SUM(c) AS n FROM pairs),
po AS (SELECT COALESCE(SUM(c), 0) AS agree FROM pairs WHERE a = b),
ma AS (SELECT a, SUM(c) AS ca FROM pairs GROUP BY a),
mb AS (SELECT b, SUM(c) AS cb FROM pairs GROUP BY b),
pe AS (
  SELECT COALESCE(SUM((ca / CAST(n.n AS DOUBLE))
                      * (cb / CAST(n.n AS DOUBLE))), 0.0) AS pe
  FROM ma JOIN mb ON ma.a = mb.b CROSS JOIN n
)
SELECT CAST(n.n AS BIGINT) AS n,
       ROUND(po.agree / CAST(n.n AS DOUBLE), 6) AS p_o,
       ROUND(pe.pe, 6) AS p_e,
       ROUND(CASE WHEN pe.pe >= 1.0
                  THEN CASE WHEN po.agree = n.n THEN 1.0 ELSE 0.0 END
                  ELSE (po.agree / CAST(n.n AS DOUBLE) - pe.pe)
                       / (1.0 - pe.pe) END, 6) AS kappa
FROM n CROSS JOIN po CROSS JOIN pe
"""


# Abramowitz & Stegun 7.1.26 erf polynomial — pure shared arithmetic,
# |error| < 1.5e-7 (inside the round-6 reporting precision), so BOTH
# engines compute the identical p-value with no stats library.
_ERF_A = (0.254829592, -0.284496736, 1.421413741,
          -1.453152027, 1.061405429)
_ERF_P = 0.3275911


def _erf_sql(x: str) -> str:
    """erf(x) for x >= 0 as portable SQL text (A&S 7.1.26)."""
    t = f"(1.0 / (1.0 + {_ERF_P!r} * ({x})))"
    poly = (
        f"((((({_ERF_A[4]!r} * {t} + {_ERF_A[3]!r}) * {t}"
        f" + {_ERF_A[2]!r}) * {t} + {_ERF_A[1]!r}) * {t}"
        f" + {_ERF_A[0]!r}) * {t})"
    )
    return f"(1.0 - {poly} * EXP(-(({x}) * ({x}))))"


def prop_ztest(
    df: DataFrame,
    success: Column,
    filter_a: Column,
    filter_b: Column,
) -> DataFrame:
    """Two-proportion z-test — the A/B conversion gate: pooled-variance
    z statistic between the success rates of two filtered populations,
    ONE scan (conditional aggregates, the t_test shape), plus the
    two-sided p-value via the shared A&S erf polynomial (|err| < 1.5e-7
    — inside the round-6 report; the exact-CDF divergence note on
    ``t_test`` does not apply since the normal CDF IS portably
    expressible). Zero pooled variance (all-success or all-failure
    overall) gives NULL z/p, via try_divide, matching DuckDB's /0.

    Returns ``(n_a, x_a, n_b, x_b, p_a, p_b, z, p_value)`` rounded 6.
    """
    xa = F.count(F.when(filter_a & success, 1)).alias("x_a")
    na = F.count(F.when(filter_a, 1)).alias("n_a")
    xb = F.count(F.when(filter_b & success, 1)).alias("x_b")
    nb = F.count(F.when(filter_b, 1)).alias("n_b")
    one = df.agg(na, xa, nb, xb)
    pa = F.try_divide(F.col("x_a"), F.col("n_a"))
    pb = F.try_divide(F.col("x_b"), F.col("n_b"))
    pp = F.try_divide(
        F.col("x_a") + F.col("x_b"), F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pp * (1.0 - pp)
        * (F.try_divide(F.lit(1.0), F.col("n_a"))
           + F.try_divide(F.lit(1.0), F.col("n_b")))
    )
    z = F.try_divide(pa - pb, se)
    stats = one.select(
        "n_a", "x_a", "n_b", "x_b",
        F.round(pa, 6).alias("p_a"),
        F.round(pb, 6).alias("p_b"),
        z.alias("__z"),
    )
    pv = F.expr(
        "1.0 - " + _erf_sql("abs(__z) / 1.4142135623730951")
    )
    return stats.select(
        F.col("n_a").cast("bigint"), F.col("x_a").cast("bigint"),
        F.col("n_b").cast("bigint"), F.col("x_b").cast("bigint"),
        "p_a", "p_b",
        F.round(F.col("__z"), 6).alias("z"),
        F.round(pv, 6).alias("p_value"),
    )


def prop_ztest_sql(
    table: str,
    success: str,
    filter_a: str,
    filter_b: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`prop_ztest` (predicates as SQL text;
    NULLIF division mirrors try_divide)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    pv = "1.0 - " + _erf_sql("ABS(z_) / 1.4142135623730951")
    return f"""
WITH counts AS (
  SELECT COUNT(CASE WHEN {filter_a} THEN 1 END) AS n_a,
         COUNT(CASE WHEN ({filter_a}) AND ({success}) THEN 1 END) AS x_a,
         COUNT(CASE WHEN {filter_b} THEN 1 END) AS n_b,
         COUNT(CASE WHEN ({filter_b}) AND ({success}) THEN 1 END) AS x_b
  FROM {table}
),
stats AS (
  SELECT n_a, x_a, n_b, x_b,
         x_a / CAST(NULLIF(n_a, 0) AS DOUBLE) AS pa,
         x_b / CAST(NULLIF(n_b, 0) AS DOUBLE) AS pb,
         (x_a + x_b) / CAST(NULLIF(n_a + n_b, 0) AS DOUBLE) AS pp
  FROM counts
),
zed AS (
  SELECT *,
         (pa - pb) / NULLIF(SQRT(pp * (1.0 - pp)
            * (1.0 / NULLIF(n_a, 0) + 1.0 / NULLIF(n_b, 0))), 0.0) AS z_
  FROM stats
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(x_a AS BIGINT) AS x_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(x_b AS BIGINT) AS x_b,
       ROUND(pa, 6) AS p_a, ROUND(pb, 6) AS p_b,
       ROUND(z_, 6) AS z, ROUND({pv}, 6) AS p_value
FROM zed
"""


def mutual_info(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Mutual information (bits) between two categorical columns — the
    feature-selection / redundancy signal chi2_independence's statistic
    doesn't directly give: ``I = sum p(a,b) log2(p(a,b)/(p(a)p(b)))``,
    plus the normalized variant ``nmi = I / min(H(a), H(b))`` (0 when
    either entropy is 0 — a constant column shares no information,
    pinned). NULL in either column drops the row (matching
    chi2_independence). One (a, b) pair-count scan; marginals and the
    sum run over the checkpointed category-pair frame (same shape as
    cohens_kappa). Returns ``(n, mi_bits, h_a, h_b, nmi)`` rounded 6.
    """
    pairs = checkpoint(
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    # Round-11 (the ipf_weights r10 pattern — margin joins -> window
    # aggregates, guide §2.1/§3): the old shape ran SEVEN broadcast-agg
    # subtrees over the stored pair frame (n, ma, mb, mi, ha, hb +
    # the final crossJoin chain) — profiled 30 jobs / 20 s of
    # mostly-blocked task runtime for a ~30-row pair frame. Marginals
    # are now window sums partitioned by each axis; the entropies
    # charge each axis group ONCE via a row_number()=1 gate inside the
    # SAME final aggregation as the MI sum. The pair frame is
    # category-product-sized, so the window partitions stay metadata at
    # any corpus size (the ipf_weights scale argument). Float sums
    # reorder only within the same round-6 oracle surface the old
    # hash-agg order already had.
    n = F.broadcast(pairs.agg(F.sum("__c").alias("__n")))
    wa, wb = Window.partitionBy("__a"), Window.partitionBy("__b")
    annotated = (
        pairs.withColumn("__ca", F.sum("__c").over(wa))
        .withColumn(
            "__rna", F.row_number().over(wa.orderBy("__b"))
        )
        .withColumn("__cb", F.sum("__c").over(wb))
        .withColumn(
            "__rnb", F.row_number().over(wb.orderBy("__a"))
        )
        .crossJoin(n)
    )
    ln2 = 0.6931471805599453
    agg = annotated.agg(
        F.max("__n").alias("__n"),
        F.sum(
            (F.col("__c") / F.col("__n"))
            * F.log(
                (F.col("__c") * F.col("__n")).cast("double")
                / (F.col("__ca") * F.col("__cb"))
            )
        ).alias("__mi_nats"),
        (-F.sum(
            F.when(
                F.col("__rna") == 1,
                (F.col("__ca") / F.col("__n"))
                * F.log(F.col("__ca") / F.col("__n")),
            )
        )).alias("__ha"),
        (-F.sum(
            F.when(
                F.col("__rnb") == 1,
                (F.col("__cb") / F.col("__n"))
                * F.log(F.col("__cb") / F.col("__n")),
            )
        )).alias("__hb"),
    )
    out = agg.select(
        F.col("__n").cast("bigint").alias("n"),
        F.round(F.col("__mi_nats") / ln2, 6).alias("mi_bits"),
        F.round(F.col("__ha") / ln2, 6).alias("h_a"),
        F.round(F.col("__hb") / ln2, 6).alias("h_b"),
        F.round(
            F.when(
                F.least("__ha", "__hb") <= 0.0, F.lit(0.0)
            ).otherwise(
                F.col("__mi_nats") / F.least("__ha", "__hb")
            ),
            6,
        ).alias("nmi"),
    )
    return out


def mutual_info_sql(table: str, col_a: str, col_b: str, dialect: str) -> str:
    """Dual-dialect twin of :func:`mutual_info` (identical text)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH pairs AS (
  SELECT {col_a} AS a, {col_b} AS b, COUNT(*) AS c
  FROM {table}
  WHERE {col_a} IS NOT NULL AND {col_b} IS NOT NULL
  GROUP BY 1, 2
),
n AS (SELECT SUM(c) AS n FROM pairs),
ma AS (SELECT a, SUM(c) AS ca FROM pairs GROUP BY a),
mb AS (SELECT b, SUM(c) AS cb FROM pairs GROUP BY b),
mi AS (
  SELECT SUM((c / CAST(n.n AS DOUBLE))
             * LN(CAST(c * n.n AS DOUBLE) / (ca * cb))) AS mi_nats
  FROM pairs JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN n
),
ha AS (SELECT -SUM((ca / CAST(n.n AS DOUBLE))
                   * LN(ca / CAST(n.n AS DOUBLE))) AS h
       FROM ma CROSS JOIN n),
hb AS (SELECT -SUM((cb / CAST(n.n AS DOUBLE))
                   * LN(cb / CAST(n.n AS DOUBLE))) AS h
       FROM mb CROSS JOIN n)
SELECT CAST(n.n AS BIGINT) AS n,
       ROUND(mi.mi_nats / 0.6931471805599453, 6) AS mi_bits,
       ROUND(ha.h / 0.6931471805599453, 6) AS h_a,
       ROUND(hb.h / 0.6931471805599453, 6) AS h_b,
       ROUND(CASE WHEN LEAST(ha.h, hb.h) <= 0.0 THEN 0.0
                  ELSE mi.mi_nats / LEAST(ha.h, hb.h) END, 6) AS nmi
FROM n CROSS JOIN mi CROSS JOIN ha CROSS JOIN hb
"""

def cusum_change(
    buckets: DataFrame,
    bucket_col: str,
    value_col: str = "doc_count",
    *,
    k: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """Tabular CUSUM mean-shift monitor over an (already bucketed) metric
    series — the SEQUENTIAL detector that complements
    :func:`aggregations.change_point` (one retrospective max-|split|):
    CUSUM accumulates standardized deviations and flags the bucket where
    the running excursion first crosses ``h``, catching slow drifts a
    single-split test dilutes. Values are z-scored against the whole
    series; ``k`` (slack) and ``h`` (threshold) are in sigma units, the
    textbook (0.5, 5) defaults.

    The recursions ``C+_i = max(0, C+_{i-1} + z_i - k)`` and
    ``C-_i = max(0, C-_{i-1} - z_i - k)`` look imperatively stateful but
    both close over plain windows via the prefix-sum identity
    ``C_i = P_i - min(0, min_{j<=i} P_j)`` with ``P_i = sum_{t<=i}
    (+-z_t - k)`` — so the whole operator is two ordered-window passes,
    no recursion, no Python. A constant series (sigma = 0) pins z = 0
    everywhere (nothing can drift). Returns per bucket:
    ``(bucket, value, z, cusum_pos, cusum_neg, alarm)`` rounded 6,
    ordered by bucket.

    Scale shape: one 1-row mean/std agg broadcast back, then ONE ordered
    window over the bucket frame (tiny by the bucket_pipeline contract —
    the single-task window is over thousands of buckets, never corpus
    rows).
    """
    if h <= 0:
        raise ValueError("h must be > 0")
    stats = buckets.agg(
        F.avg(F.col(value_col).cast("double")).alias("__mu"),
        F.stddev_pop(F.col(value_col).cast("double")).alias("__sigma"),
    )
    z = (
        buckets.crossJoin(F.broadcast(stats))
        .select(
            F.col(bucket_col),
            F.col(value_col).cast("double").alias("value"),
            F.when(
                F.col("__sigma") > 0,
                (F.col(value_col).cast("double") - F.col("__mu"))
                / F.col("__sigma"),
            ).otherwise(F.lit(0.0)).alias("__z"),
        )
    )
    w = Window.orderBy(bucket_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    runs = z.select(
        F.col(bucket_col),
        "value",
        "__z",
        F.sum(F.col("__z") - F.lit(k)).over(w).alias("__p"),
        F.sum(-F.col("__z") - F.lit(k)).over(w).alias("__n"),
    )
    cpos = F.col("__p") - F.least(F.lit(0.0), F.min("__p").over(w))
    cneg = F.col("__n") - F.least(F.lit(0.0), F.min("__n").over(w))
    out = runs.select(
        F.col(bucket_col),
        "value",
        # + 0.0 collapses IEEE -0.0 (DuckDB ROUND keeps it, Spark does
        # not — the dual-dialect pitfall documented in r5)
        (F.round("__z", 6) + F.lit(0.0)).alias("z"),
        (F.round(cpos, 6) + F.lit(0.0)).alias("cusum_pos"),
        (F.round(cneg, 6) + F.lit(0.0)).alias("cusum_neg"),
        ((cpos > F.lit(h)) | (cneg > F.lit(h))).alias("alarm"),
    )
    return out.orderBy(bucket_col)


def cusum_change_sql(
    buckets_sql: str,
    dialect: str,
    *,
    k: float = 0.5,
    h: float = 5.0,
) -> str:
    """Dual-dialect twin of :func:`cusum_change`. ``buckets_sql`` yields
    ``(bucket, v)``; identical text runs on both engines (named WINDOW
    clause is shared SQL)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH src AS ({buckets_sql}),
stats AS (
  SELECT AVG(CAST(v AS DOUBLE)) AS mu, STDDEV_POP(CAST(v AS DOUBLE)) AS sigma
  FROM src
),
z AS (
  SELECT bucket, CAST(v AS DOUBLE) AS value,
         CASE WHEN sigma > 0 THEN (CAST(v AS DOUBLE) - mu) / sigma
              ELSE 0.0 END AS zv
  FROM src CROSS JOIN stats
),
runs AS (
  SELECT bucket, value, zv,
         SUM(zv - {k!r}) OVER w AS p,
         SUM(-zv - {k!r}) OVER w AS n
  FROM z
  WINDOW w AS (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
cus AS (
  SELECT bucket, value, zv,
         p - LEAST(0.0, MIN(p) OVER w) AS cpos,
         n - LEAST(0.0, MIN(n) OVER w) AS cneg
  FROM runs
  WINDOW w AS (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT bucket, value,
       ROUND(zv, 6) + 0.0 AS z,
       ROUND(cpos, 6) + 0.0 AS cusum_pos,
       ROUND(cneg, 6) + 0.0 AS cusum_neg,
       (cpos > {h!r} OR cneg > {h!r}) AS alarm
FROM cus ORDER BY bucket
"""


# chi-square upper critical values at alpha = 0.05, df = 8 (Benford has
# 9 first-digit categories)
_BENFORD_CHI2_CRIT = 15.50731


def benford_test(
    df: DataFrame,
    value_expr: str,
) -> DataFrame:
    """Benford's-law first-digit audit of a numeric column — the
    data-forensics screen for fabricated or truncated numeric feeds
    (naturally occurring multi-magnitude quantities follow
    ``P(d) = log10(1 + 1/d)``; hand-entered or synthesized ones rarely
    do). Nonzero finite values contribute their first significant digit;
    returns 9 rows ``(digit, n, share, expected, chi2, reject)`` with
    the Pearson chi-square statistic (df = 8) and the alpha = 0.05
    verdict attached to every row (bin-count-sized frame — consumers
    read the verdict off any row). Digits that never occur still appear
    with n = 0 via the 1-9 spine.

    Scale shape: one map-combinable 9-bucket count agg over the corpus;
    everything after is 9 rows. The first digit derives from
    ``floor(a / 10^floor(log10(a)))`` — identical float ops on both
    engines, clamped into [1, 9] against boundary rounding.
    """
    spark = df.sparkSession
    a = F.abs(F.expr(value_expr).cast("double"))
    digit = F.least(
        F.greatest(
            F.floor(a / F.pow(F.lit(10.0), F.floor(F.log10(a)))), F.lit(1)
        ),
        F.lit(9),
    ).cast("int")
    counts = (
        df.where(a.isNotNull() & (a > 0))
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    filled = (
        spine.join(counts, "digit", "left")
        .select("digit", F.coalesce("n", F.lit(0)).alias("n"))
        .crossJoin(
            F.broadcast(counts.agg(F.sum("n").alias("__tot")))
        )
    )
    expected = F.log10(F.lit(1.0) + 1.0 / F.col("digit"))
    share = F.col("n") / F.col("__tot")
    with_parts = filled.select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        F.round(share, 6).alias("share"),
        F.round(expected, 6).alias("expected"),
        (
            F.pow(F.col("n") - F.col("__tot") * expected, 2)
            / (F.col("__tot") * expected)
        ).alias("__part"),
    )
    chi2 = with_parts.agg(F.sum("__part").alias("__chi2"))
    return (
        with_parts.crossJoin(F.broadcast(chi2))
        .select(
            "digit",
            "n",
            "share",
            "expected",
            F.round("__chi2", 6).alias("chi2"),
            (F.col("__chi2") > F.lit(_BENFORD_CHI2_CRIT)).alias("reject"),
        )
        .orderBy("digit")
    )


def benford_test_sql(table: str, value_expr: str, dialect: str) -> str:
    """Dual-dialect twin of :func:`benford_test`. The 1-9 spine differs
    per dialect (sequence vs range); the float arithmetic is identical."""
    if dialect == "spark":
        spine = "SELECT explode(sequence(1, 9)) AS digit"
    elif dialect == "duckdb":
        spine = "SELECT CAST(t.i AS INT) AS digit FROM range(1, 10) t(i)"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    a = f"ABS(CAST({value_expr} AS DOUBLE))"
    return f"""
WITH counts AS (
  SELECT CAST(LEAST(GREATEST(
           FLOOR({a} / POWER(10.0, FLOOR(LOG10({a})))), 1), 9) AS INT)
           AS digit,
         COUNT(*) AS n
  FROM {table}
  WHERE {a} IS NOT NULL AND {a} > 0
  GROUP BY 1
),
spine AS ({spine}),
tot AS (SELECT SUM(n) AS tot FROM counts),
filled AS (
  SELECT s.digit, COALESCE(c.n, 0) AS n, tot.tot,
         LOG10(1.0 + 1.0 / s.digit) AS expected
  FROM spine s LEFT JOIN counts c ON c.digit = s.digit CROSS JOIN tot
),
chi AS (
  SELECT SUM(POWER(n - tot * expected, 2) / (tot * expected)) AS chi2
  FROM filled
)
SELECT digit, CAST(n AS BIGINT) AS n,
       ROUND(n / CAST(tot AS DOUBLE), 6) AS share,
       ROUND(expected, 6) AS expected,
       ROUND(chi.chi2, 6) AS chi2,
       (chi.chi2 > {_BENFORD_CHI2_CRIT!r}) AS reject
FROM filled CROSS JOIN chi
ORDER BY digit
"""

def mann_whitney(
    df: DataFrame,
    field: str,
    filter_a: Column,
    filter_b: Column,
) -> DataFrame:
    """Mann-Whitney U rank-sum test — the nonparametric two-sample gate
    beside Welch's :func:`aggregations.t_test` (medians/distribution
    shift without normality; the robust A/B choice for skewed metrics
    like latency or doc length). Exact midranks with the tie-corrected
    normal approximation and NO continuity correction (pinned — both
    engines compute the identical z); two-sided p via the shared A&S
    erf polynomial. All-tied inputs (zero rank variance) give NULL z/p.

    Scale shape: midranks never rank the corpus — group by VALUE first
    (one map-combinable conditional-count agg), then a SCALABLE prefix
    sum over the value frame (:func:`ordering.prefix_sums`: range
    exchange + parallel per-partition windows + broadcast offsets — on
    continuous fields the value frame is corpus-sized, so an
    unpartitioned window would be one task): the midrank of every row
    with value v is ``(rows below v) + (ties_v + 1)/2``, so the rank sum
    is ``sum(n_a_v * midrank_v)``. Returns
    ``(n_a, n_b, u_a, u_b, z, p_value)`` rounded 6.
    """
    from harmonize_search_analyze_spark.operators.ordering import (
        prefix_sums,
    )

    v = F.col(field).cast("double")
    vals = (
        df.where(v.isNotNull() & (filter_a | filter_b))
        .groupBy(v.alias("__v"))
        .agg(
            F.count(F.when(filter_a, 1)).alias("__na"),
            F.count(F.when(filter_b, 1)).alias("__nb"),
        )
        .withColumn("__t", F.col("__na") + F.col("__nb"))
    )
    # scalable prefix sum, NOT an unpartitioned window: on continuous
    # fields the value-cardinality frame is corpus-sized, so the old
    # SUM() OVER (ORDER BY __v) was one task sorting the planet
    ranked = prefix_sums(vals, ["__v"], {"__t": "__cum"}).select(
        "__na", "__nb", "__t",
        (
            F.col("__cum") - F.col("__t") + (F.col("__t") + 1) / 2.0
        ).alias("__midrank"),
    )
    agg = ranked.agg(
        F.sum("__na").alias("__n_a"),
        F.sum("__nb").alias("__n_b"),
        F.sum(F.col("__na") * F.col("__midrank")).alias("__ra"),
        F.sum(
            F.col("__t").cast("double") * F.col("__t") * F.col("__t")
            - F.col("__t")
        ).alias("__ties"),
    )
    na, nb = F.col("__n_a"), F.col("__n_b")
    n = na + nb
    ua = F.col("__ra") - na * (na + 1) / 2.0
    ub = na.cast("double") * nb - ua
    var_u = (
        na.cast("double") * nb / 12.0
        * ((n + 1) - F.try_divide(F.col("__ties"), n.cast("double") * (n - 1)))
    )
    z = F.try_divide(ua - na.cast("double") * nb / 2.0, F.sqrt(var_u))
    stats = agg.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(ua, 6).alias("u_a"),
        F.round(ub, 6).alias("u_b"),
        z.alias("__z"),
    )
    pv = F.expr("1.0 - " + _erf_sql("ABS(__z) / 1.4142135623730951"))
    return stats.select(
        "n_a", "n_b", "u_a", "u_b",
        (F.round("__z", 6) + F.lit(0.0)).alias("z"),
        F.round(pv, 6).alias("p_value"),
    )


def mann_whitney_sql(
    table: str,
    field: str,
    filter_a: str,
    filter_b: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`mann_whitney` (identical text; the
    value-level midrank algebra is plain window SQL)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    pv = "1.0 - " + _erf_sql("ABS(z_) / 1.4142135623730951")
    return f"""
WITH vals AS (
  SELECT CAST({field} AS DOUBLE) AS v,
         COUNT(CASE WHEN {filter_a} THEN 1 END) AS na,
         COUNT(CASE WHEN {filter_b} THEN 1 END) AS nb
  FROM {table}
  WHERE {field} IS NOT NULL AND (({filter_a}) OR ({filter_b}))
  GROUP BY 1
),
ranked AS (
  SELECT na, nb, na + nb AS t,
         SUM(na + nb) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - (na + nb) + (na + nb + 1) / 2.0 AS midrank
  FROM vals
),
agg AS (
  SELECT SUM(na) AS n_a, SUM(nb) AS n_b,
         SUM(na * midrank) AS ra,
         SUM(CAST(t AS DOUBLE) * t * t - t) AS ties
  FROM ranked
),
stats AS (
  SELECT n_a, n_b,
         ra - n_a * (n_a + 1) / 2.0 AS ua,
         CAST(n_a AS DOUBLE) * n_b - (ra - n_a * (n_a + 1) / 2.0) AS ub,
         (ra - n_a * (n_a + 1) / 2.0 - CAST(n_a AS DOUBLE) * n_b / 2.0)
         / NULLIF(SQRT(CAST(n_a AS DOUBLE) * n_b / 12.0
             * ((n_a + n_b + 1)
                - ties / NULLIF(CAST(n_a + n_b AS DOUBLE)
                                * (n_a + n_b - 1), 0.0))), 0.0) AS z_
  FROM agg
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       ROUND(ua, 6) AS u_a, ROUND(ub, 6) AS u_b,
       ROUND(z_, 6) + 0.0 AS z, ROUND({pv}, 6) AS p_value
FROM stats
"""


def calibration(
    df: DataFrame,
    prob_expr: str,
    label_expr: str,
    *,
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram + ECE + Brier score for a probabilistic
    classifier's scores against binary outcomes — the quality-classifier
    / reward-model calibration gate ("does p=0.9 mean 90%?"). Rows bin
    by predicted probability (equal-width, the standard ECE binning;
    p = 1.0 clamps into the top bin); per bin the mean predicted
    ``conf``, observed rate ``acc``, and ``gap = acc - conf``; the
    expected calibration error ``ece = sum n_b/N * |gap_b|`` and the
    Brier score ride every row of the bin-count-sized frame. Empty bins
    are absent (no confidence to report), identically on both engines.

    Scale shape: ONE map-combinable agg keyed by bin (sums of p, y,
    (p-y)^2 per bin), then arithmetic over <= ``bins`` rows.
    """
    if bins < 2:
        raise ValueError("bins must be >= 2")
    p = F.expr(prob_expr).cast("double")
    y = F.expr(label_expr).cast("double")
    b = F.least(F.floor(p * bins), F.lit(bins - 1)).cast("int")
    per_bin = checkpoint(
        df.where(p.isNotNull() & y.isNotNull() & (p >= 0) & (p <= 1))
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.avg(p).alias("__conf"),
            F.avg(y).alias("__acc"),
            F.sum((p - y) * (p - y)).alias("__sq"),
        )
    )
    totals = per_bin.agg(
        F.sum("__n").alias("__tot"),
        (
            F.sum(F.col("__n") * F.abs(F.col("__acc") - F.col("__conf")))
            / F.sum("__n")
        ).alias("__ece"),
        (F.sum("__sq") / F.sum("__n")).alias("__brier"),
    )
    out = (
        per_bin.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            F.col("__n").cast("bigint").alias("n"),
            F.round("__conf", 6).alias("conf"),
            F.round("__acc", 6).alias("acc"),
            (F.round(F.col("__acc") - F.col("__conf"), 6) + F.lit(0.0))
            .alias("gap"),
            F.round("__ece", 6).alias("ece"),
            F.round("__brier", 6).alias("brier"),
        )
        .orderBy("bin")
    )
    return out


def calibration_sql(
    table: str,
    prob_expr: str,
    label_expr: str,
    dialect: str,
    *,
    bins: int = 10,
) -> str:
    """Dual-dialect twin of :func:`calibration` (identical text)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    p = f"CAST({prob_expr} AS DOUBLE)"
    y = f"CAST({label_expr} AS DOUBLE)"
    return f"""
WITH per_bin AS (
  SELECT CAST(LEAST(FLOOR({p} * {bins}), {bins - 1}) AS INT) AS bin,
         COUNT(*) AS n,
         AVG({p}) AS conf,
         AVG({y}) AS acc,
         SUM(({p} - {y}) * ({p} - {y})) AS sq
  FROM {table}
  WHERE {p} IS NOT NULL AND {y} IS NOT NULL
    AND {p} >= 0 AND {p} <= 1
  GROUP BY 1
),
tot AS (
  SELECT SUM(n) AS tot,
         SUM(n * ABS(acc - conf)) / SUM(n) AS ece,
         SUM(sq) / SUM(n) AS brier
  FROM per_bin
)
SELECT bin, CAST(n AS BIGINT) AS n,
       ROUND(conf, 6) AS conf, ROUND(acc, 6) AS acc,
       ROUND(acc - conf, 6) + 0.0 AS gap,
       ROUND(tot.ece, 6) AS ece, ROUND(tot.brier, 6) AS brier
FROM per_bin CROSS JOIN tot
ORDER BY bin
"""


def burstiness(
    df: DataFrame,
    *,
    by: str = "event_type",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Goh-Barabasi burstiness of inter-arrival times per ``by`` group —
    the temporal-pattern signal behind bot/incident detection and crawl
    scheduling: ``B = (sigma - mu) / (sigma + mu)`` over the gaps
    between consecutive events OF THE SAME USER (B -> -1 periodic,
    0 Poisson, -> +1 bursty). Gaps order by ``(ts, id_col)`` so
    same-timestamp ties are deterministic; each user's first event has
    no gap and drops. Returns per group ``(group, n_gaps, mean_gap_s,
    std_gap_s, burstiness)`` rounded 6 ordered by group; a group whose
    gaps are all zero (sigma = mu = 0) pins NULL burstiness.

    Scale shape: one lag window partitioned by (group, user) — millions
    of small partitions, the shuffle is the one exchange — then one
    map-combinable group agg. Population sigma (pinned).
    """
    w = (
        Window.partitionBy(by, user_col)
        .orderBy(F.col(ts_col), F.col(id_col))
    )
    gap = (
        F.unix_timestamp(ts_col)
        - F.unix_timestamp(F.lag(ts_col).over(w))
    ).cast("double")
    gaps = (
        df.where(F.col(ts_col).isNotNull())
        .select(F.col(by), gap.alias("__gap"))
        .where(F.col("__gap").isNotNull())
    )
    mu, sigma = F.avg("__gap"), F.stddev_pop("__gap")
    return (
        gaps.groupBy(by)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.round(mu, 6).alias("mean_gap_s"),
            F.round(sigma, 6).alias("std_gap_s"),
            F.round(
                F.try_divide(sigma - mu, sigma + mu), 6
            ).alias("burstiness"),
        )
        .orderBy(by)
    )


def burstiness_sql(
    table: str,
    dialect: str,
    *,
    by: str = "event_type",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> str:
    """Dual-dialect twin of :func:`burstiness` (epoch-seconds gap; the
    epoch extraction differs per dialect — Spark's unix_timestamp floors
    to whole seconds, so the DuckDB side floors epoch() explicitly or
    sub-second components drift the gap means)."""
    if dialect == "spark":
        epoch = f"unix_timestamp({ts_col})"
    elif dialect == "duckdb":
        epoch = f"CAST(FLOOR(epoch({ts_col})) AS BIGINT)"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH gaps AS (
  SELECT {by} AS g,
         CAST({epoch} - LAG({epoch}) OVER (
           PARTITION BY {by}, {user_col}
           ORDER BY {ts_col}, {id_col}) AS DOUBLE) AS gap
  FROM {table} WHERE {ts_col} IS NOT NULL
)
SELECT g AS {by},
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       ROUND(AVG(gap), 6) AS mean_gap_s,
       ROUND(STDDEV_POP(gap), 6) AS std_gap_s,
       ROUND((STDDEV_POP(gap) - AVG(gap))
             / NULLIF(STDDEV_POP(gap) + AVG(gap), 0.0), 6) AS burstiness
FROM gaps WHERE gap IS NOT NULL
GROUP BY g ORDER BY g
"""

def trimmed_stats(
    df: DataFrame,
    value_expr: str,
    *,
    by: str | None = None,
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """Trimmed and winsorized means — the outlier-robust aggregation for
    heavy-tailed metrics (latency, doc length, spend) where a plain AVG
    is whatever the top 0.1% says it is. Per group: the exact
    ``[lower, upper]`` percentile bounds, the TRIMMED mean (rows outside
    the bounds drop) and the WINSORIZED mean (rows clamp to the
    bounds), plus row/trim counts. Returns ``(group?, n, lo, hi,
    trimmed_mean, winsorized_mean, n_trimmed)`` rounded 6, ordered by
    group.

    Scale shape: one exact-percentile agg per group (group-sized frame,
    broadcast back) + one conditional re-aggregation — two scans, both
    map-combinable; no windows, no sorting the corpus.
    """
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError("need 0 <= lower < upper <= 1")
    v = F.expr(value_expr).cast("double")
    keys = [by] if by else []
    bounds = (
        df.where(v.isNotNull())
        .groupBy(*keys)
        .agg(
            F.percentile(v, F.lit(lower)).alias("__lo"),
            F.percentile(v, F.lit(upper)).alias("__hi"),
        )
    )
    base = df.where(v.isNotNull())
    joined = (
        base.join(F.broadcast(bounds), keys) if keys
        else base.crossJoin(F.broadcast(bounds))
    )
    inside = v.between(F.col("__lo"), F.col("__hi"))
    clamped = F.least(F.greatest(v, F.col("__lo")), F.col("__hi"))
    out = (
        joined.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.max("__lo"), 6).alias("lo"),
            F.round(F.max("__hi"), 6).alias("hi"),
            F.round(F.avg(F.when(inside, v)), 6).alias("trimmed_mean"),
            F.round(F.avg(clamped), 6).alias("winsorized_mean"),
            F.count(F.when(~inside, 1)).cast("bigint").alias("n_trimmed"),
        )
    )
    return out.orderBy(by) if by else out


def trimmed_stats_sql(
    table: str,
    value_expr: str,
    dialect: str,
    *,
    by: str | None = None,
    lower: float = 0.05,
    upper: float = 0.95,
) -> str:
    """Dual-dialect twin of :func:`trimmed_stats` (Spark ``percentile``
    == DuckDB ``quantile_cont``, shared linear interpolation)."""
    v = f"CAST({value_expr} AS DOUBLE)"
    if dialect == "spark":
        plo = f"percentile({v}, {lower!r})"
        phi = f"percentile({v}, {upper!r})"
    elif dialect == "duckdb":
        plo = f"quantile_cont({v}, {lower!r})"
        phi = f"quantile_cont({v}, {upper!r})"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    sel = f"{by}, " if by else ""
    grp = f"GROUP BY {by}" if by else ""
    on = f"ON b.{by} = t.{by}" if by else "ON TRUE"
    order = f"ORDER BY t.{by}" if by else ""
    byout = f"t.{by} AS {by}, " if by else ""
    return f"""
WITH bounds AS (
  SELECT {sel}{plo} AS lo, {phi} AS hi
  FROM {table} WHERE {value_expr} IS NOT NULL {grp}
)
SELECT {byout}CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MAX(b.lo), 6) AS lo,
       ROUND(MAX(b.hi), 6) AS hi,
       ROUND(AVG(CASE WHEN {v} BETWEEN b.lo AND b.hi THEN {v} END), 6)
         AS trimmed_mean,
       ROUND(AVG(LEAST(GREATEST({v}, b.lo), b.hi)), 6)
         AS winsorized_mean,
       CAST(COUNT(CASE WHEN NOT ({v} BETWEEN b.lo AND b.hi) THEN 1 END)
            AS BIGINT) AS n_trimmed
FROM {table} t JOIN bounds b {on}
WHERE {value_expr} IS NOT NULL
{("GROUP BY t." + by) if by else ""}
{order}
"""


def acf_series(
    buckets: DataFrame,
    bucket_col: str,
    value_col: str = "doc_count",
    *,
    max_lag: int = 7,
) -> DataFrame:
    """Autocorrelation function of an (already bucketed) series at lags
    1..``max_lag`` — the seasonality/persistence fingerprint that picks
    the window for moving_fn/holt and validates "is there a weekly
    cycle?" before seasonal_anomalies assumes one. The standard
    estimator: ``r_l = sum (x_t - xbar)(x_{t+l} - xbar) / sum (x_t -
    xbar)^2`` with the GLOBAL mean/denominator (not per-lag), so r_0 = 1
    by construction and |r_l| <= 1. Returns ``(lag, n, acf)`` rounded 6
    ordered by lag; a constant series (zero variance) pins NULL acf.

    Scale shape: series rows index by one ordered-window row_number
    (bucket frame, tiny by the bucket_pipeline contract), the lag spine
    is ``max_lag`` rows crossJoined on, one equi-join on (idx + lag),
    one group-by-lag agg; mean/variance ride a broadcast 1-row agg.
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    spark = buckets.sparkSession
    v = F.col(value_col).cast("double")
    # the indexed series feeds four consumers (mean, ss, both join
    # sides); they share the window's exchange, and the unstored plan
    # measured faster than a checkpoint (PERFORMANCE.md decision 10)
    idx = buckets.select(
        F.row_number().over(Window.orderBy(bucket_col)).alias("__i"),
        v.alias("__v"),
    )
    mu_row = idx.agg(F.avg("__v").alias("__mu"))
    stats = (
        idx.crossJoin(F.broadcast(mu_row))
        .agg(
            F.max("__mu").alias("__mu"),
            F.sum(
                (F.col("__v") - F.col("__mu"))
                * (F.col("__v") - F.col("__mu"))
            ).alias("__ss"),
        )
    )
    lags = spark.range(1, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    left = idx.crossJoin(F.broadcast(lags)).select(
        "lag", (F.col("__i") + F.col("lag")).alias("__j"),
        F.col("__v").alias("__va"),
    )
    right = idx.select(F.col("__i").alias("__j"), F.col("__v").alias("__vb"))
    joined = left.join(right, "__j").crossJoin(F.broadcast(stats))
    out = (
        joined.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (
                F.round(
                    F.try_divide(
                        F.sum(
                            (F.col("__va") - F.col("__mu"))
                            * (F.col("__vb") - F.col("__mu"))
                        ),
                        F.max("__ss"),
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("acf"),
        )
        .orderBy("lag")
    )
    return out


def acf_series_sql(
    buckets_sql: str,
    dialect: str,
    *,
    max_lag: int = 7,
) -> str:
    """Dual-dialect twin of :func:`acf_series`. ``buckets_sql`` yields
    ``(bucket, v)``; the lag spine differs per dialect."""
    if dialect == "spark":
        spine = f"SELECT explode(sequence(1, {max_lag})) AS lag"
    elif dialect == "duckdb":
        spine = (
            f"SELECT CAST(t.i AS INT) AS lag"
            f" FROM range(1, {max_lag + 1}) t(i)"
        )
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH src AS ({buckets_sql}),
idx AS (
  SELECT ROW_NUMBER() OVER (ORDER BY bucket) AS i,
         CAST(v AS DOUBLE) AS v
  FROM src
),
stats AS (
  SELECT AVG(v) AS mu,
         SUM((v - (SELECT AVG(v) FROM idx))
             * (v - (SELECT AVG(v) FROM idx))) AS ss
  FROM idx
),
lags AS ({spine})
SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM((a.v - s.mu) * (b.v - s.mu))
             / NULLIF(MAX(s.ss), 0.0), 6) + 0.0 AS acf
FROM idx a CROSS JOIN lags l
JOIN idx b ON b.i = a.i + l.lag
CROSS JOIN stats s
GROUP BY l.lag ORDER BY l.lag
"""

def confusion_eval(
    df: DataFrame,
    truth_expr: str,
    pred_expr: str,
) -> DataFrame:
    """Multi-class classifier evaluation from a (truth, prediction)
    column pair — per-class precision/recall/F1 plus overall accuracy
    and macro-F1 (the label-quality gate for lang-ID, quality
    classifiers, any model-annotated corpus column). Rows where either
    side is NULL drop. Returns one row per class that appears on
    EITHER side: ``(class, tp, fp, fn, precision, recall, f1,
    accuracy, macro_f1)`` rounded 6 ordered by class, with the two
    overall numbers repeated on the class-count-sized frame. A class
    with no predictions pins NULL precision (undefined), no truths
    NULL recall; F1 is NULL unless both are defined and nonzero-summed.

    Scale shape: ONE (truth, pred) pair-count scan; everything after is
    class-pair-sized (same shape as cohens_kappa, checkpointed for its
    consumers).
    """
    t, p = F.expr(truth_expr), F.expr(pred_expr)
    pairs = checkpoint(
        df.where(t.isNotNull() & p.isNotNull())
        .groupBy(t.alias("__t"), p.alias("__p"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    classes = (
        pairs.select(F.col("__t").alias("class"))
        .unionByName(pairs.select(F.col("__p").alias("class")))
        .distinct()
    )
    tp = pairs.where(F.col("__t") == F.col("__p")).select(
        F.col("__t").alias("class"), F.col("__c").alias("__tp")
    )
    truths = pairs.groupBy(F.col("__t").alias("class")).agg(
        F.sum("__c").alias("__truth")
    )
    preds = pairs.groupBy(F.col("__p").alias("class")).agg(
        F.sum("__c").alias("__pred")
    )
    per_class = checkpoint(
        classes.join(tp, "class", "left")
        .join(truths, "class", "left")
        .join(preds, "class", "left")
        .select(
            "class",
            F.coalesce("__tp", F.lit(0)).cast("bigint").alias("tp"),
            (F.coalesce("__pred", F.lit(0)) - F.coalesce("__tp", F.lit(0)))
            .cast("bigint").alias("fp"),
            (F.coalesce("__truth", F.lit(0)) - F.coalesce("__tp", F.lit(0)))
            .cast("bigint").alias("fn"),
            F.try_divide(
                F.coalesce("__tp", F.lit(0)), F.col("__pred")
            ).alias("__prec"),
            F.try_divide(
                F.coalesce("__tp", F.lit(0)), F.col("__truth")
            ).alias("__rec"),
        )
        .withColumn(
            "__f1",
            F.try_divide(
                2 * F.col("__prec") * F.col("__rec"),
                F.col("__prec") + F.col("__rec"),
            ),
        )
    )
    overall = per_class.crossJoin(
        F.broadcast(
            pairs.agg(
                F.sum("__c").alias("__n"),
                F.sum(
                    F.when(F.col("__t") == F.col("__p"), F.col("__c"))
                    .otherwise(F.lit(0))
                ).alias("__agree"),
            )
        )
    ).crossJoin(
        F.broadcast(per_class.agg(F.avg("__f1").alias("__macro")))
    )
    out = overall.select(
        "class", "tp", "fp", "fn",
        F.round("__prec", 6).alias("precision"),
        F.round("__rec", 6).alias("recall"),
        F.round("__f1", 6).alias("f1"),
        F.round(F.col("__agree") / F.col("__n"), 6).alias("accuracy"),
        F.round("__macro", 6).alias("macro_f1"),
    ).orderBy("class")
    return out


def confusion_eval_sql(
    table: str,
    truth_expr: str,
    pred_expr: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`confusion_eval` (identical text)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH pairs AS (
  SELECT {truth_expr} AS t, {pred_expr} AS p, COUNT(*) AS c
  FROM {table}
  WHERE {truth_expr} IS NOT NULL AND {pred_expr} IS NOT NULL
  GROUP BY 1, 2
),
classes AS (
  SELECT t AS cls FROM pairs UNION SELECT p AS cls FROM pairs
),
tp AS (SELECT t AS cls, c AS tp FROM pairs WHERE t = p),
truths AS (SELECT t AS cls, SUM(c) AS truth FROM pairs GROUP BY t),
preds AS (SELECT p AS cls, SUM(c) AS pred FROM pairs GROUP BY p),
per_class AS (
  SELECT classes.cls,
         COALESCE(tp.tp, 0) AS tp,
         COALESCE(preds.pred, 0) - COALESCE(tp.tp, 0) AS fp,
         COALESCE(truths.truth, 0) - COALESCE(tp.tp, 0) AS fn,
         COALESCE(tp.tp, 0) / CAST(NULLIF(preds.pred, 0) AS DOUBLE)
           AS prec,
         COALESCE(tp.tp, 0) / CAST(NULLIF(truths.truth, 0) AS DOUBLE)
           AS rec
  FROM classes
  LEFT JOIN tp ON classes.cls = tp.cls
  LEFT JOIN truths ON classes.cls = truths.cls
  LEFT JOIN preds ON classes.cls = preds.cls
),
f1d AS (
  SELECT *, 2 * prec * rec / NULLIF(prec + rec, 0.0) AS f1
  FROM per_class
),
overall AS (
  SELECT SUM(c) AS n,
         SUM(CASE WHEN t = p THEN c ELSE 0 END) AS agree
  FROM pairs
),
macro AS (SELECT AVG(f1) AS macro_f1 FROM f1d)
SELECT cls AS class, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       ROUND(prec, 6) AS precision, ROUND(rec, 6) AS recall,
       ROUND(f1, 6) AS f1,
       ROUND(agree / CAST(n AS DOUBLE), 6) AS accuracy,
       ROUND(macro_f1, 6) AS macro_f1
FROM f1d CROSS JOIN overall CROSS JOIN macro
ORDER BY class
"""


def roc_auc(
    df: DataFrame,
    score_expr: str,
    label_expr: str,
) -> DataFrame:
    """Exact ROC AUC from the rank statistic — the threshold-free
    classifier metric beside :func:`calibration`'s threshold-free
    calibration: ``AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg)``
    with midranks over the score (ties counted half, the standard
    definition), so it never materializes a curve. Returns ONE row
    ``(n_pos, n_neg, auc, gini)`` rounded 6 (gini = 2*AUC - 1);
    single-class inputs pin NULL (no ranking to measure).

    Scale shape: identical to :func:`mann_whitney` — group by SCORE
    first, then the scalable prefix sum over the score frame
    (:func:`ordering.prefix_sums` — continuous scores make that frame
    corpus-sized, so never an unpartitioned window). AUC is
    the Mann-Whitney statistic normalized; this shares its algebra but
    reports the ML face.
    """
    from harmonize_search_analyze_spark.operators.ordering import (
        prefix_sums,
    )

    s = F.expr(score_expr).cast("double")
    y = F.expr(label_expr).cast("int")
    vals = (
        df.where(s.isNotNull() & y.isNotNull())
        .groupBy(s.alias("__s"))
        .agg(
            F.count(F.when(y == 1, 1)).alias("__np"),
            F.count(F.when(y == 0, 1)).alias("__nn"),
        )
        .withColumn("__t", F.col("__np") + F.col("__nn"))
    )
    # scalable prefix sum over the score order — continuous scores make
    # the value frame corpus-sized, so no unpartitioned window here
    ranked = prefix_sums(vals, ["__s"], {"__t": "__cum"}).select(
        "__np", "__nn",
        (
            F.col("__cum") - F.col("__t") + (F.col("__t") + 1) / 2.0
        ).alias("__midrank"),
    )
    agg = ranked.agg(
        F.sum("__np").alias("__pos"),
        F.sum("__nn").alias("__neg"),
        F.sum(F.col("__np") * F.col("__midrank")).alias("__rp"),
    )
    auc = F.try_divide(
        F.col("__rp") - F.col("__pos") * (F.col("__pos") + 1) / 2.0,
        F.col("__pos").cast("double") * F.col("__neg"),
    )
    return agg.select(
        F.col("__pos").cast("bigint").alias("n_pos"),
        F.col("__neg").cast("bigint").alias("n_neg"),
        F.round(auc, 6).alias("auc"),
        (F.round(2 * auc - 1, 6) + F.lit(0.0)).alias("gini"),
    )


def roc_auc_sql(
    table: str,
    score_expr: str,
    label_expr: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`roc_auc` (identical text)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH vals AS (
  SELECT CAST({score_expr} AS DOUBLE) AS s,
         COUNT(CASE WHEN CAST({label_expr} AS INT) = 1 THEN 1 END) AS np,
         COUNT(CASE WHEN CAST({label_expr} AS INT) = 0 THEN 1 END) AS nn
  FROM {table}
  WHERE {score_expr} IS NOT NULL AND {label_expr} IS NOT NULL
  GROUP BY 1
),
ranked AS (
  SELECT np, nn,
         SUM(np + nn) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - (np + nn) + (np + nn + 1) / 2.0 AS midrank
  FROM vals
),
agg AS (
  SELECT SUM(np) AS pos, SUM(nn) AS neg,
         SUM(np * midrank) AS rp
  FROM ranked
)
SELECT CAST(pos AS BIGINT) AS n_pos, CAST(neg AS BIGINT) AS n_neg,
       ROUND((rp - pos * (pos + 1) / 2.0)
             / NULLIF(CAST(pos AS DOUBLE) * neg, 0.0), 6) AS auc,
       ROUND(2 * ((rp - pos * (pos + 1) / 2.0)
             / NULLIF(CAST(pos AS DOUBLE) * neg, 0.0)) - 1, 6) + 0.0
         AS gini
FROM agg
"""

def anova_f(
    df: DataFrame,
    value_expr: str,
    group_col: str,
) -> DataFrame:
    """One-way ANOVA F statistic across the groups of ``group_col`` —
    the k-sample extension of :func:`aggregations.t_test` ("does doc
    quality differ BY SOURCE at all?" before pairwise tests):
    ``F = (SSB/(k-1)) / (SSW/(n-k))`` from per-group counts/means/SS.
    Same CDF divergence note as t_test: the F p-value needs the
    incomplete beta (not portable SQL), so the exact ``(F, df1, df2)``
    triple is reported and the CDF left to the caller. Returns ONE row
    ``(n, k, ss_between, ss_within, df1, df2, f)`` rounded 6; k < 2 or
    zero within-variance pins NULL F via try_divide.

    Scale shape: ONE map-combinable group agg (count/sum/sum-of-squares
    per group), then arithmetic over the k-row frame — the corpus is
    scanned once, no windows.
    """
    v = F.expr(value_expr).cast("double")
    groups = (
        df.where(v.isNotNull() & F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(v).alias("__s"),
            F.sum(v * v).alias("__ss"),
        )
    )
    agg = groups.agg(
        F.sum("__n").alias("__N"),
        F.count(F.lit(1)).alias("__k"),
        F.sum("__s").alias("__S"),
        # within-group SS = sum over groups of (ss_g - s_g^2 / n_g)
        F.sum(
            F.col("__ss") - F.col("__s") * F.col("__s") / F.col("__n")
        ).alias("__ssw"),
        F.sum(F.col("__s") * F.col("__s") / F.col("__n")).alias("__sqm"),
    )
    ssb = F.col("__sqm") - F.col("__S") * F.col("__S") / F.col("__N")
    df1 = F.col("__k") - 1
    df2 = F.col("__N") - F.col("__k")
    fstat = F.try_divide(
        F.try_divide(ssb, df1.cast("double")),
        F.try_divide(F.col("__ssw"), df2.cast("double")),
    )
    return agg.select(
        F.col("__N").cast("bigint").alias("n"),
        F.col("__k").cast("bigint").alias("k"),
        (F.round(ssb, 6) + F.lit(0.0)).alias("ss_between"),
        F.round("__ssw", 6).alias("ss_within"),
        df1.cast("bigint").alias("df1"),
        df2.cast("bigint").alias("df2"),
        F.round(fstat, 6).alias("f"),
    )


def anova_f_sql(
    table: str,
    value_expr: str,
    group_col: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`anova_f` (identical text)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    v = f"CAST({value_expr} AS DOUBLE)"
    return f"""
WITH groups AS (
  SELECT {group_col} AS g, COUNT(*) AS n, SUM({v}) AS s,
         SUM({v} * {v}) AS ss
  FROM {table}
  WHERE {value_expr} IS NOT NULL AND {group_col} IS NOT NULL
  GROUP BY 1
),
agg AS (
  SELECT SUM(n) AS nn, COUNT(*) AS k, SUM(s) AS st,
         SUM(ss - s * s / n) AS ssw,
         SUM(s * s / n) AS sqm
  FROM groups
)
SELECT CAST(nn AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       ROUND(sqm - st * st / nn, 6) + 0.0 AS ss_between,
       ROUND(ssw, 6) AS ss_within,
       CAST(k - 1 AS BIGINT) AS df1,
       CAST(nn - k AS BIGINT) AS df2,
       ROUND(((sqm - st * st / nn) / NULLIF(CAST(k - 1 AS DOUBLE), 0.0))
             / NULLIF(ssw / NULLIF(CAST(nn - k AS DOUBLE), 0.0), 0.0),
             6) AS f
FROM agg
"""


def spearman_corr(
    df: DataFrame,
    x_expr: str,
    y_expr: str,
) -> DataFrame:
    """Spearman rank correlation between two numeric expressions — the
    monotonic-association metric that survives outliers and nonlinear
    scales where Pearson CORR lies (quality score vs doc length, spend
    vs latency). With ties it is Pearson correlation ON MIDRANKS (the
    standard definition). Returns ONE row ``(n, rho)`` rounded 6;
    constant columns pin NULL (the shared CORR contract).

    Scale shape: midranks come from the :func:`mann_whitney` trick —
    group by VALUE per side, then a scalable prefix sum per side
    (:func:`ordering.prefix_sums` — never an unpartitioned window over
    the value frame, which is corpus-sized on continuous columns), and
    each row fetches its two ranks by
    value-equi-join (two joins keyed on values, co-partitioned with the
    row scan) and one CORR agg. Never a corpus-wide rank window.
    """
    from harmonize_search_analyze_spark.operators.ordering import (
        _lazy_bounds_frame,
        prefix_sums,
    )

    x = F.expr(x_expr).cast("double")
    y = F.expr(y_expr).cast("double")
    # base feeds BOTH value-count frames, the boundary sample and the
    # final rank join; a checkpoint of this scan-and-project measured
    # slower than re-reading it (PERFORMANCE.md decision 10)
    base = (
        df.where(x.isNotNull() & y.isNotNull())
        .select(x.alias("__x"), y.alias("__y"))
    )
    # ONE fused percentile_approx pass samples both axes' bucket
    # boundaries (quantiles of the raw rows bucket the distinct-value
    # frames just as well — placement only affects balance). Round-11:
    # sampled LAZILY as a one-row broadcast frame shared by both rank
    # pipelines, so the sample rides the query's own action instead of
    # an eager construct-time collect job (profiled 1.2-1.5 s of
    # spearman's construct wall at sf0.1).
    n = base.sparkSession.sparkContext.defaultParallelism
    bf = _lazy_bounds_frame(base, [("__x", True), ("__y", True)], n)

    def _ranks(col: str) -> DataFrame:
        # scalable prefix sum — continuous x/y make the per-value frame
        # corpus-sized; the old unpartitioned window was a single task
        counts = base.groupBy(col).agg(F.count(F.lit(1)).alias("__c"))
        return prefix_sums(
            counts, [col], {"__c": "__cum"}, bounds_frame=bf
        ).select(
            col,
            (
                F.col("__cum") - F.col("__c") + (F.col("__c") + 1) / 2.0
            ).alias(f"__r{col[-1]}"),
        )

    ranked = base.join(_ranks("__x"), "__x").join(_ranks("__y"), "__y")
    # covar/stddev form, not F.corr: Spark 4's ANSI-mode corr THROWS
    # DIVIDE_BY_ZERO on a constant column where DuckDB's CORR returns
    # NULL — try_divide restores the shared NULL-on-undefined contract
    rho = F.try_divide(
        F.covar_pop("__rx", "__ry"),
        F.stddev_pop("__rx") * F.stddev_pop("__ry"),
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.round(rho, 6) + F.lit(0.0)).alias("rho"),
    )


def spearman_corr_sql(
    table: str,
    x_expr: str,
    y_expr: str,
    dialect: str,
    *,
    where: str | None = None,
) -> str:
    """Dual-dialect twin of :func:`spearman_corr` (identical text)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    w = f"AND ({where})" if where else ""
    return f"""
WITH base AS (
  SELECT CAST({x_expr} AS DOUBLE) AS x, CAST({y_expr} AS DOUBLE) AS y
  FROM {table}
  WHERE {x_expr} IS NOT NULL AND {y_expr} IS NOT NULL {w}
),
rx AS (
  SELECT x, SUM(c) OVER (ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - c + (c + 1) / 2.0 AS r
  FROM (SELECT x, COUNT(*) AS c FROM base GROUP BY x) t
),
ry AS (
  SELECT y, SUM(c) OVER (ORDER BY y
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - c + (c + 1) / 2.0 AS r
  FROM (SELECT y, COUNT(*) AS c FROM base GROUP BY y) t
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(COVAR_POP(rx.r, ry.r)
             / NULLIF(STDDEV_POP(rx.r) * STDDEV_POP(ry.r), 0.0), 6)
         + 0.0 AS rho
FROM base JOIN rx ON base.x = rx.x JOIN ry ON base.y = ry.y
"""

def markov_stationary(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    event_col: str,
    *,
    iters: int = 12,
    id_col: str = "event_id",
) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain — where
    the journeys CONCENTRATE in the long run (the step_transitions
    Sankey tells you the edges; this tells you the equilibrium): build
    the row-stochastic transition matrix from consecutive same-user
    event pairs, then ``iters`` fixed power-iteration steps from the
    uniform start (fixed count = unrollable, oracle-replayable — the
    pagerank/k_core pin). States with no outgoing transitions self-loop
    (the standard absorbing-state patch, applied identically on both
    engines). Returns ``(state, stationary, out_transitions)`` rounded
    6 ordered by state.

    Scale shape: one corpus scan builds the pair counts via a per-user
    lead window ((ts, id) tie order pinned, the burstiness shape — one
    user-keyed exchange); the matrix and the iterated vector are
    STATE-sized (k x k and k rows), so every iteration is a k-row join
    — metadata work after the first agg, like pagerank's rank frame but
    bounded by the state alphabet. The power iteration runs on
    ``caching.iterate``'s fixed-loop cadence.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col), F.col(id_col))
    )
    nxt = F.lead(event_col).over(w)
    pairs = checkpoint(
        df.where(F.col(event_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(event_col).alias("__from"), nxt.alias("__to")
        )
        .where(F.col("__to").isNotNull())
        .groupBy("__from", "__to")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    states = checkpoint(
        pairs.select(F.col("__from").alias("__s"))
        .unionByName(pairs.select(F.col("__to").alias("__s")))
        .distinct()
    )
    outs = pairs.groupBy("__from").agg(F.sum("__c").alias("__out"))
    # row-stochastic P with self-loops for sink states
    p = checkpoint(
        states.join(outs, states["__s"] == outs["__from"], "left")
        .select(
            "__s",
            F.coalesce("__out", F.lit(0)).alias("__out"),
        )
        .join(
            pairs, F.col("__s") == F.col("__from"), "left"
        )
        .select(
            "__s",
            F.coalesce(
                F.col("__to"), F.col("__s")
            ).alias("__t"),
            F.when(
                F.col("__out") > 0,
                F.col("__c") / F.col("__out").cast("double"),
            ).otherwise(F.lit(1.0)).alias("__p"),
        )
    )
    # 1/n as a 1-row broadcast instead of a driver count() action
    # (round 11): lit(1.0)/BIGINT column is the same IEEE division the
    # collected-literal form produced; one fewer job per call
    nn = F.broadcast(states.agg(F.count(F.lit(1)).alias("__n")))
    v = iterate(
        checkpoint(states.crossJoin(nn).select(
            "__s", (F.lit(1.0) / F.col("__n")).alias("__v")
        )),
        lambda v: (
            p.join(v, "__s")
            .groupBy(F.col("__t").alias("__s"))
            .agg(F.sum(F.col("__v") * F.col("__p")).alias("__v"))
        ),
        iters,
    )
    out = (
        v.join(outs, v["__s"] == outs["__from"], "left")
        .select(
            F.col("__s").alias("state"),
            F.round("__v", 6).alias("stationary"),
            F.coalesce("__out", F.lit(0)).cast("bigint").alias(
                "out_transitions"
            ),
        )
        .orderBy("state")
    )
    return out


def markov_stationary_sql(
    table: str,
    user_col: str,
    ts_col: str,
    event_col: str,
    dialect: str,
    *,
    iters: int = 12,
    id_col: str = "event_id",
) -> str:
    """Dual-dialect twin of :func:`markov_stationary`. The unrolled
    power iteration pins ``AS MATERIALIZED`` per level on DuckDB (the
    k_core lesson: DuckDB 1.0 inlines chained CTEs and re-evaluates the
    recursion exponentially); Spark ignores the hint syntax, so the
    dialect split is the MATERIALIZED keyword only."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    mat = "MATERIALIZED " if dialect == "duckdb" else ""
    levels = []
    prev = "v0"
    for i in range(1, iters + 1):
        levels.append(
            f"v{i} AS {mat}(\n"
            f"  SELECT p.t AS s, SUM(v.v * p.p) AS v\n"
            f"  FROM p JOIN {prev} v ON p.s = v.s GROUP BY p.t\n)"
        )
        prev = f"v{i}"
    chain = ",\n".join(levels)
    return f"""
WITH pairs AS {mat}(
  SELECT f, t, COUNT(*) AS c FROM (
    SELECT {event_col} AS f,
           LEAD({event_col}) OVER (PARTITION BY {user_col}
             ORDER BY {ts_col}, {id_col}) AS t
    FROM {table}
    WHERE {event_col} IS NOT NULL AND {ts_col} IS NOT NULL
  ) e WHERE t IS NOT NULL GROUP BY f, t
),
states AS {mat}(
  SELECT f AS s FROM pairs UNION SELECT t AS s FROM pairs
),
outs AS {mat}(SELECT f, SUM(c) AS outc FROM pairs GROUP BY f),
p AS {mat}(
  SELECT states.s,
         COALESCE(pairs.t, states.s) AS t,
         CASE WHEN COALESCE(outs.outc, 0) > 0
              THEN pairs.c / CAST(outs.outc AS DOUBLE)
              ELSE 1.0 END AS p
  FROM states
  LEFT JOIN outs ON states.s = outs.f
  LEFT JOIN pairs ON states.s = pairs.f
),
n AS {mat}(SELECT COUNT(*) AS n FROM states),
v0 AS {mat}(
  SELECT s, 1.0 / n.n AS v FROM states CROSS JOIN n
),
{chain}
SELECT {prev}.s AS state, ROUND({prev}.v, 6) AS stationary,
       CAST(COALESCE(outs.outc, 0) AS BIGINT) AS out_transitions
FROM {prev} LEFT JOIN outs ON {prev}.s = outs.f
ORDER BY state
"""


def blocklist_scan(
    df: DataFrame,
    text_col: str,
    group_col: str,
    terms: list[str],
) -> DataFrame:
    """Blocklist hit audit per source: documents containing any of the
    listed terms (token-exact, the pinned lowercase-alnum
    tokenization), total hits, and the hit-document share — the cheap
    policy/toxicity screen stage before anything model-based. Returns
    ``(group, n_docs, hit_docs, hit_share, total_hits)`` rounded 6
    ordered by group.

    Scale shape: the term list is a LITERAL array (metadata-sized by
    contract) folded per document inside one pure column expression —
    no join, no explode; one group agg.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    from harmonize_search_analyze_spark.operators.text import tokens_sql

    lst = ", ".join("'" + t.lower().replace("'", "''") + "'"
                    for t in terms)
    toks = tokens_sql(text_col, "spark")
    hits = F.expr(f"size(filter({toks}, t -> t IN ({lst})))")
    per_doc = df.where(F.col(text_col).isNotNull()).select(
        F.col(group_col), hits.alias("__hits")
    )
    return (
        per_doc.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count(F.when(F.col("__hits") > 0, 1)).cast("bigint").alias(
                "hit_docs"
            ),
            F.round(
                F.count(F.when(F.col("__hits") > 0, 1))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("hit_share"),
            F.sum("__hits").cast("bigint").alias("total_hits"),
        )
        .orderBy(group_col)
    )


def blocklist_scan_sql(
    table: str,
    text_col: str,
    group_col: str,
    terms: list[str],
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`blocklist_scan`."""
    from harmonize_search_analyze_spark.operators.text import tokens_sql

    if not terms:
        raise ValueError("terms must be non-empty")
    lst = ", ".join("'" + t.lower().replace("'", "''") + "'"
                    for t in terms)
    toks = tokens_sql(text_col, dialect)
    if dialect == "spark":
        hits = f"size(filter({toks}, t -> t IN ({lst})))"
    elif dialect == "duckdb":
        hits = f"len(list_filter({toks}, t -> t IN ({lst})))"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH per_doc AS (
  SELECT {group_col} AS g, {hits} AS hits
  FROM {table} WHERE {text_col} IS NOT NULL
)
SELECT g AS {group_col},
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(CASE WHEN hits > 0 THEN 1 END) AS BIGINT) AS hit_docs,
       ROUND(COUNT(CASE WHEN hits > 0 THEN 1 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS hit_share,
       CAST(SUM(hits) AS BIGINT) AS total_hits
FROM per_doc GROUP BY g ORDER BY g
"""

def group_entropy(
    df: DataFrame,
    group_col: str,
    cat_col: str,
) -> DataFrame:
    """Within-group categorical diversity: Shannon entropy (bits),
    normalized entropy (/log2 of the group's category count; 0 when a
    group has one category), and the majority-category share of
    ``cat_col`` per ``group_col`` — "is this source monolingual?",
    "does one event type dominate this cohort?". Returns ``(group,
    n, n_categories, entropy_bits, norm_entropy, top_share)`` rounded 6
    ordered by group.

    Scale shape: one (group, category) hash agg, then one group agg —
    entropy folds as ``log(tot) - sum(c ln c)/tot`` (the skew_report
    identity) so group totals never need a second pass.
    """
    pairs = (
        df.where(
            F.col(group_col).isNotNull() & F.col(cat_col).isNotNull()
        )
        .groupBy(group_col, cat_col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    ln2 = 0.6931471805599453
    ent = (
        F.log(F.sum("__c"))
        - F.sum(F.col("__c") * F.log("__c")) / F.sum("__c")
    ) / ln2
    kcats = F.count(F.lit(1))
    return (
        pairs.groupBy(group_col)
        .agg(
            F.sum("__c").cast("bigint").alias("n"),
            kcats.cast("bigint").alias("n_categories"),
            (F.round(ent, 6) + F.lit(0.0)).alias("entropy_bits"),
            F.round(
                F.when(kcats > 1, ent / (F.log(kcats) / ln2))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("norm_entropy"),
            F.round(
                F.max("__c") / F.sum("__c").cast("double"), 6
            ).alias("top_share"),
        )
        .orderBy(group_col)
    )


def group_entropy_sql(
    table: str,
    group_col: str,
    cat_col: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`group_entropy` (identical text)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    ln2 = "0.6931471805599453"
    ent = f"(LN(SUM(c)) - SUM(c * LN(c)) / SUM(c)) / {ln2}"
    return f"""
WITH pairs AS (
  SELECT {group_col} AS g, {cat_col} AS cat, COUNT(*) AS c
  FROM {table}
  WHERE {group_col} IS NOT NULL AND {cat_col} IS NOT NULL
  GROUP BY 1, 2
)
SELECT g AS {group_col},
       CAST(SUM(c) AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS n_categories,
       ROUND({ent}, 6) + 0.0 AS entropy_bits,
       ROUND(CASE WHEN COUNT(*) > 1
                  THEN ({ent}) / (LN(COUNT(*)) / {ln2})
                  ELSE 0.0 END, 6) AS norm_entropy,
       ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_share
FROM pairs GROUP BY g ORDER BY g
"""


def dup_factor(
    df: DataFrame,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """Per-source duplication factor: documents per DISTINCT md5 digest
    (1.0 = all unique; 3.0 = every text appears 3x on average), plus
    the duplicate-document share — the one-number dedup-pressure gauge
    that decides which sources even need the heavier MinHash pass.
    Returns ``(group, n_docs, n_distinct, dup_factor, dup_share)``
    rounded 6 ordered by group.

    Scale shape: one (group, digest) agg then one group agg — the
    two-level stack (count + count-distinct never share an agg).
    """
    per_gd = (
        df.where(
            F.col(text_col).isNotNull() & F.col(group_col).isNotNull()
        )
        .groupBy(group_col, F.md5(F.col(text_col)).alias("__d"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return (
        per_gd.groupBy(group_col)
        .agg(
            F.sum("__c").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.round(
                F.sum("__c") / F.count(F.lit(1)).cast("double"), 6
            ).alias("dup_factor"),
            F.round(
                F.sum(
                    F.when(F.col("__c") > 1, F.col("__c")).otherwise(0)
                ) / F.sum("__c").cast("double"),
                6,
            ).alias("dup_share"),
        )
        .orderBy(group_col)
    )


def dup_factor_sql(
    table: str,
    text_col: str,
    group_col: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`dup_factor` (identical text)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH per_gd AS (
  SELECT {group_col} AS g, md5({text_col}) AS d, COUNT(*) AS c
  FROM {table}
  WHERE {text_col} IS NOT NULL AND {group_col} IS NOT NULL
  GROUP BY 1, 2
)
SELECT g AS {group_col},
       CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       ROUND(SUM(c) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_factor,
       ROUND(SUM(CASE WHEN c > 1 THEN c ELSE 0 END)
             / CAST(SUM(c) AS DOUBLE), 6) AS dup_share
FROM per_gd GROUP BY g ORDER BY g
"""


# -- round-7 evaluation & audit battery ------------------------------------------


def mcnemar_test(
    df: DataFrame,
    correct_a: Column,
    correct_b: Column,
) -> DataFrame:
    """McNemar's test on PAIRED classifiers — the eval gate beside
    :func:`cohens_kappa`: do models A and B disagree more than chance
    on the SAME examples? Only the discordant cells matter:
    ``b`` = A right / B wrong, ``c`` = A wrong / B right;
    ``chi2 = (|b - c| - 1)^2 / (b + c)`` (Edwards continuity
    correction, the standard form), p two-sided via the 1-dof chi-square
    tail = ``1 - erf(sqrt(chi2 / 2))`` (shared A&S polynomial). Zero
    discordant pairs (b + c = 0) pin NULL chi2/p — no disagreement to
    test. Returns ONE row ``(n, b, c, chi2, p_value)`` rounded 6.

    Scale shape: one map-combinable conditional-count agg; nothing else.
    """
    one = df.agg(
        F.count(F.lit(1)).alias("__n"),
        F.count(F.when(correct_a & ~correct_b, 1)).alias("__b"),
        F.count(F.when(~correct_a & correct_b, 1)).alias("__c"),
    )
    b, c = F.col("__b"), F.col("__c")
    chi2 = F.try_divide(
        (F.abs(b - c) - 1) * (F.abs(b - c) - 1),
        (b + c).cast("double"),
    )
    stats = one.select(
        F.col("__n").cast("bigint").alias("n"),
        b.cast("bigint").alias("b"),
        c.cast("bigint").alias("c"),
        chi2.alias("__chi2"),
    )
    pv = F.expr("1.0 - " + _erf_sql("sqrt(__chi2 / 2.0)"))
    return stats.select(
        "n", "b", "c",
        F.round(F.col("__chi2"), 6).alias("chi2"),
        F.round(pv, 6).alias("p_value"),
    )


def mcnemar_test_sql(
    table: str,
    correct_a: str,
    correct_b: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`mcnemar_test` (predicates as SQL
    text; NULLIF division mirrors try_divide)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    pv = "1.0 - " + _erf_sql("SQRT(chi2_ / 2.0)")
    return f"""
WITH counts AS (
  SELECT COUNT(*) AS n,
         COUNT(CASE WHEN ({correct_a}) AND NOT ({correct_b})
               THEN 1 END) AS b,
         COUNT(CASE WHEN NOT ({correct_a}) AND ({correct_b})
               THEN 1 END) AS c
  FROM {table}
),
stat AS (
  SELECT n, b, c,
         (ABS(b - c) - 1) * (ABS(b - c) - 1)
           / NULLIF(CAST(b + c AS DOUBLE), 0.0) AS chi2_
  FROM counts
)
SELECT CAST(n AS BIGINT) AS n, CAST(b AS BIGINT) AS b,
       CAST(c AS BIGINT) AS c,
       ROUND(chi2_, 6) AS chi2,
       ROUND({pv}, 6) AS p_value
FROM stat
"""


def wilson_intervals(
    df: DataFrame,
    success: Column,
    group_col: str,
    *,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Per-slice success rate with a Wilson score interval — the
    sliced-eval staple (per-language accuracy, per-source pass rate)
    that stays honest at small n where the naive +-z*sqrt(pq/n) interval
    collapses or escapes [0, 1]. Returns one row per group:
    ``(group, n, successes, rate, lo, hi)`` rounded 6, ordered by
    group; empty groups cannot occur (groupBy only sees present keys).

    Scale shape: one map-combinable conditional-count agg keyed by the
    slice; the interval is per-row arithmetic on the group frame.
    """
    g = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.count(F.when(success, 1)).alias("__x"),
    )
    n = F.col("__n").cast("double")
    p = F.col("__x") / n
    z2 = F.lit(z * z)
    denom = 1.0 + z2 / n
    center = p + z2 / (2.0 * n)
    spread = F.lit(z) * F.sqrt(
        (p * (1.0 - p) + z2 / (4.0 * n)) / n
    )
    return g.select(
        "group",
        F.col("__n").cast("bigint").alias("n"),
        F.col("__x").cast("bigint").alias("successes"),
        F.round(p, 6).alias("rate"),
        F.round((center - spread) / denom, 6).alias("lo"),
        F.round((center + spread) / denom, 6).alias("hi"),
    ).orderBy("group")


def wilson_intervals_sql(
    table: str,
    success: str,
    group_expr: str,
    dialect: str,
    *,
    z: float = 1.959963984540054,
) -> str:
    """Dual-dialect twin of :func:`wilson_intervals` (identical text)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH g AS (
  SELECT {group_expr} AS grp, COUNT(*) AS n,
         COUNT(CASE WHEN {success} THEN 1 END) AS x
  FROM {table} GROUP BY 1
)
SELECT grp AS "group", CAST(n AS BIGINT) AS n,
       CAST(x AS BIGINT) AS successes,
       ROUND(x / CAST(n AS DOUBLE), 6) AS rate,
       ROUND((x / CAST(n AS DOUBLE) + {z * z!r} / (2.0 * n)
              - {z!r} * SQRT((x / CAST(n AS DOUBLE)
                              * (1.0 - x / CAST(n AS DOUBLE))
                              + {z * z!r} / (4.0 * n)) / n))
             / (1.0 + {z * z!r} / n), 6) AS lo,
       ROUND((x / CAST(n AS DOUBLE) + {z * z!r} / (2.0 * n)
              + {z!r} * SQRT((x / CAST(n AS DOUBLE)
                              * (1.0 - x / CAST(n AS DOUBLE))
                              + {z * z!r} / (4.0 * n)) / n))
             / (1.0 + {z * z!r} / n), 6) AS hi
FROM g ORDER BY grp
"""


def effect_size(
    df: DataFrame,
    value_expr: str,
    filter_a: Column,
    filter_b: Column,
) -> DataFrame:
    """Cohen's d / Hedges' g between two filtered populations — the
    "is it LARGE, not just significant" companion to ``t_test`` /
    :func:`mann_whitney` (a 100 TB corpus makes everything significant;
    effect size is what survives). Pooled-SD d with the small-sample
    Hedges correction ``g = d * (1 - 3 / (4*(na+nb) - 9))``. Zero
    pooled variance pins NULL d/g (try_divide). Returns ONE row
    ``(n_a, n_b, mean_a, mean_b, pooled_sd, d, g)`` rounded 6.

    Scale shape: one conditional agg (sums/squares per side); pure
    arithmetic after.
    """
    v = F.expr(value_expr).cast("double")
    one = df.where(v.isNotNull() & (filter_a | filter_b)).agg(
        F.count(F.when(filter_a, 1)).alias("__na"),
        F.count(F.when(filter_b, 1)).alias("__nb"),
        F.avg(F.when(filter_a, v)).alias("__ma"),
        F.avg(F.when(filter_b, v)).alias("__mb"),
        F.var_samp(F.when(filter_a, v)).alias("__va"),
        F.var_samp(F.when(filter_b, v)).alias("__vb"),
    )
    na, nb = F.col("__na"), F.col("__nb")
    pooled = F.sqrt(
        F.try_divide(
            (na - 1) * F.col("__va") + (nb - 1) * F.col("__vb"),
            (na + nb - 2).cast("double"),
        )
    )
    d = F.try_divide(F.col("__ma") - F.col("__mb"), pooled)
    gcorr = 1.0 - F.try_divide(F.lit(3.0), (4.0 * (na + nb) - 9.0))
    return one.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(F.col("__ma"), 6).alias("mean_a"),
        F.round(F.col("__mb"), 6).alias("mean_b"),
        F.round(pooled, 6).alias("pooled_sd"),
        (F.round(d, 6) + F.lit(0.0)).alias("d"),
        (F.round(d * gcorr, 6) + F.lit(0.0)).alias("g"),
    )


def effect_size_sql(
    table: str,
    value_expr: str,
    filter_a: str,
    filter_b: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`effect_size` (identical text;
    VAR_SAMP of a CASE mirrors the conditional variance)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    v = f"CAST({value_expr} AS DOUBLE)"
    return f"""
WITH s AS (
  SELECT COUNT(CASE WHEN {filter_a} THEN 1 END) AS na,
         COUNT(CASE WHEN {filter_b} THEN 1 END) AS nb,
         AVG(CASE WHEN {filter_a} THEN {v} END) AS ma,
         AVG(CASE WHEN {filter_b} THEN {v} END) AS mb,
         VAR_SAMP(CASE WHEN {filter_a} THEN {v} END) AS va,
         VAR_SAMP(CASE WHEN {filter_b} THEN {v} END) AS vb
  FROM {table}
  WHERE {v} IS NOT NULL AND (({filter_a}) OR ({filter_b}))
),
eff AS (
  SELECT na, nb, ma, mb,
         SQRT(((na - 1) * va + (nb - 1) * vb)
              / NULLIF(CAST(na + nb - 2 AS DOUBLE), 0.0)) AS pooled,
         1.0 - 3.0 / NULLIF(4.0 * (na + nb) - 9.0, 0.0) AS gc
  FROM s
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
       ROUND(pooled, 6) AS pooled_sd,
       ROUND((ma - mb) / NULLIF(pooled, 0.0), 6) + 0.0 AS d,
       ROUND((ma - mb) / NULLIF(pooled, 0.0) * gc, 6) + 0.0 AS g
FROM eff
"""


def hhi_concentration(
    df: DataFrame,
    group_col: str,
    member_col: str,
) -> DataFrame:
    """Herfindahl-Hirschman concentration of ``member_col`` shares
    within each ``group_col`` — the one-number "is this slice dominated
    by one source?" gauge beside :func:`group_entropy` (HHI weights the
    HEAD where entropy weights the tail; regulators cap HHI, data
    curators should too). ``hhi = sum(share^2)`` in [1/k, 1]; the
    reciprocal is the effective member count. Returns one row per
    group: ``(group, n, n_members, hhi, effective_members)`` rounded 6
    ordered by group.

    Scale shape: one (group, member) count agg, then a group-level agg
    over that member-cardinality frame — the two-level stack, never
    count_distinct mixed into a row agg (the Expand cliff).
    """
    pairs = df.groupBy(
        F.col(group_col).alias("group"),
        F.col(member_col).alias("__m"),
    ).agg(F.count(F.lit(1)).alias("__c"))
    tot = Window.partitionBy("group")
    shared = pairs.select(
        "group", "__c",
        F.sum("__c").over(tot).alias("__n"),
    )
    return (
        shared.groupBy("group")
        .agg(
            F.max("__n").cast("bigint").alias("n"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum(
                (F.col("__c") / F.col("__n").cast("double"))
                * (F.col("__c") / F.col("__n").cast("double"))
            ).alias("__hhi"),
        )
        .select(
            "group", "n", "n_members",
            F.round("__hhi", 6).alias("hhi"),
            # from the UNROUNDED hhi — the twin divides before rounding
            F.round(F.try_divide(F.lit(1.0), F.col("__hhi")), 6).alias(
                "effective_members"
            ),
        )
        .orderBy("group")
    )


def hhi_concentration_sql(
    table: str,
    group_expr: str,
    member_expr: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`hhi_concentration` (identical
    text)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH pairs AS (
  SELECT {group_expr} AS grp, {member_expr} AS m, COUNT(*) AS c
  FROM {table} GROUP BY 1, 2
),
shared AS (
  SELECT grp, c, SUM(c) OVER (PARTITION BY grp) AS n FROM pairs
),
h AS (
  SELECT grp, MAX(n) AS n, COUNT(*) AS n_members,
         SUM((c / CAST(n AS DOUBLE)) * (c / CAST(n AS DOUBLE))) AS hhi_
  FROM shared GROUP BY grp
)
SELECT grp AS "group", CAST(n AS BIGINT) AS n,
       CAST(n_members AS BIGINT) AS n_members,
       ROUND(hhi_, 6) AS hhi,
       ROUND(1.0 / NULLIF(hhi_, 0.0), 6) AS effective_members
FROM h ORDER BY grp
"""


def theil_index(
    df: DataFrame,
    value_expr: str,
    group_col: str,
) -> DataFrame:
    """Theil T inequality index with its exact between/within-group
    decomposition — the data-mixing gauge that says not just HOW uneven
    a size/score distribution is but WHERE the unevenness lives
    (between sources vs inside them): ``T = (1/N) sum (x/mu) ln(x/mu)``;
    ``T_between = sum s_g ln(mu_g / mu)`` with ``s_g`` the group's mass
    share; ``T_within = T - T_between``. Rows with ``x <= 0`` drop (the
    index is defined on positive quantities). Returns ONE row
    ``(n, n_groups, mean, theil, between, within, between_share)``
    rounded 6; a constant column pins theil = 0 and NULL between_share.

    Scale shape: one map-combinable agg collecting (sum x, sum x ln x,
    n) globally and per group (two-level: group agg then a 1-row agg
    over the group frame) — no row ever sees a second pass.
    """
    x = F.expr(value_expr).cast("double")
    g = (
        df.where(x.isNotNull() & (x > 0))
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(x).alias("__s"),
            F.sum(x * F.log(x)).alias("__sl"),
        )
    )
    one = g.agg(
        F.sum("__n").alias("__nn"),
        F.count(F.lit(1)).alias("__k"),
        F.sum("__s").alias("__ss"),
        F.sum("__sl").alias("__ssl"),
        F.sum(
            F.col("__s") * F.log(F.col("__s") / F.col("__n"))
        ).alias("__sglg"),  # sum_g X_g * ln(mu_g); n >= 1 per group
    )
    nn, ss = F.col("__nn").cast("double"), F.col("__ss")
    mu = ss / nn
    # T = sum(x ln x) / (N mu) - ln mu ; between = sum s_g ln(mu_g/mu)
    theil = F.col("__ssl") / ss - F.log(mu)
    between = F.col("__sglg") / ss - F.log(mu)
    return one.select(
        F.col("__nn").cast("bigint").alias("n"),
        F.col("__k").cast("bigint").alias("n_groups"),
        F.round(mu, 6).alias("mean"),
        (F.round(theil, 6) + F.lit(0.0)).alias("theil"),
        (F.round(between, 6) + F.lit(0.0)).alias("between"),
        (F.round(theil - between, 6) + F.lit(0.0)).alias("within"),
        (
            F.round(F.try_divide(between, theil), 6) + F.lit(0.0)
        ).alias("between_share"),
    )


def theil_index_sql(
    table: str,
    value_expr: str,
    group_expr: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`theil_index` (identical text)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    x = f"CAST({value_expr} AS DOUBLE)"
    return f"""
WITH g AS (
  SELECT {group_expr} AS grp, COUNT(*) AS n, SUM({x}) AS s,
         SUM({x} * LN({x})) AS sl
  FROM {table}
  WHERE {x} IS NOT NULL AND {x} > 0
  GROUP BY 1
),
tot AS (
  SELECT SUM(n) AS nn, COUNT(*) AS k, SUM(s) AS ss, SUM(sl) AS ssl,
         SUM(s * LN(s / n)) AS sglg
  FROM g
),
t AS (
  SELECT nn, k, ss / CAST(nn AS DOUBLE) AS mu,
         ssl / ss - LN(ss / CAST(nn AS DOUBLE)) AS theil_,
         sglg / ss - LN(ss / CAST(nn AS DOUBLE)) AS between_
  FROM tot
)
SELECT CAST(nn AS BIGINT) AS n, CAST(k AS BIGINT) AS n_groups,
       ROUND(mu, 6) AS mean,
       ROUND(theil_, 6) + 0.0 AS theil,
       ROUND(between_, 6) + 0.0 AS between,
       ROUND(theil_ - between_, 6) + 0.0 AS within,
       ROUND(between_ / NULLIF(theil_, 0.0), 6) + 0.0 AS between_share
FROM t
"""


def jackknife_ci(
    df: DataFrame,
    value_expr: str,
    key_col: str,
    *,
    buckets: int = 50,
    z: float = 1.959963984540054,
    seed: int = 42,
) -> DataFrame:
    """Delete-one-BLOCK jackknife confidence interval for the mean —
    the resampling CI that actually runs at 100 TB: rows land in
    ``buckets`` deterministic hash blocks (the portable sampling hash,
    so the blocks replay identically on any engine/partitioning), the
    leave-one-block-out means are closed-form from per-block (sum, n),
    and ``se^2 = (B-1)/B * sum (theta_i - theta_bar)^2`` (Tukey). One
    corpus pass, B-sized state — a bootstrap would need B full
    resampled passes for the same answer. Returns ONE row
    ``(n, buckets, mean, se, lo, hi)`` rounded 6; a single non-empty
    block pins NULL se/lo/hi (nothing to delete against).

    Scale shape: one map-combinable (block -> sum, n) agg, then the
    jackknife algebra over the B-row frame (two tiny aggs via a
    broadcast of the 1-row totals).
    """
    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    from harmonize_search_analyze_spark.operators.sampling import (
        sample_hash_sql,
    )

    v = F.expr(value_expr).cast("double")
    blk = F.expr(sample_hash_sql(key_col, "spark", seed=seed)) % buckets
    per = (
        df.where(v.isNotNull())
        .groupBy(blk.alias("__b"))
        .agg(F.sum(v).alias("__s"), F.count(F.lit(1)).alias("__n"))
    )
    tot = per.agg(
        F.sum("__s").alias("__ss"),
        F.sum("__n").alias("__nn"),
        F.count(F.lit(1)).alias("__k"),
    )
    # leave-one-out means per block, against the broadcast totals
    loo = per.crossJoin(F.broadcast(tot)).select(
        "__ss", "__nn", "__k",
        F.try_divide(
            F.col("__ss") - F.col("__s"),
            (F.col("__nn") - F.col("__n")).cast("double"),
        ).alias("__loo"),
    )
    agg = loo.agg(
        F.max("__nn").alias("__nn"),
        F.max("__k").alias("__k"),
        F.max(F.col("__ss") / F.col("__nn").cast("double")).alias("__mu"),
        F.var_pop("__loo").alias("__vp"),
    )
    k = F.col("__k").cast("double")
    # (B-1)/B * sum (theta_i - mean)^2  ==  (B-1) * var_pop(theta)
    se = F.sqrt((k - 1.0) * F.col("__vp"))
    se = F.when(F.col("__k") > 1, se)
    return agg.select(
        F.col("__nn").cast("bigint").alias("n"),
        F.col("__k").cast("bigint").alias("buckets"),
        F.round(F.col("__mu"), 6).alias("mean"),
        F.round(se, 6).alias("se"),
        F.round(F.col("__mu") - F.lit(z) * se, 6).alias("lo"),
        F.round(F.col("__mu") + F.lit(z) * se, 6).alias("hi"),
    )


def jackknife_ci_sql(
    table: str,
    value_expr: str,
    key_expr: str,
    dialect: str,
    *,
    buckets: int = 50,
    z: float = 1.959963984540054,
    seed: int = 42,
) -> str:
    """Dual-dialect twin of :func:`jackknife_ci` (same hash blocks,
    same closed-form algebra; VAR_POP mirrors the Spark reduction)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    from harmonize_search_analyze_spark.operators.sampling import (
        sample_hash_sql,
    )

    h = sample_hash_sql(key_expr, dialect, seed=seed)
    v = f"CAST({value_expr} AS DOUBLE)"
    return f"""
WITH per AS (
  SELECT ({h}) % {buckets} AS b, SUM({v}) AS s, COUNT(*) AS n
  FROM {table} WHERE {v} IS NOT NULL GROUP BY 1
),
tot AS (SELECT SUM(s) AS ss, SUM(n) AS nn, COUNT(*) AS k FROM per),
loo AS (
  SELECT ss, nn, k,
         (ss - s) / NULLIF(CAST(nn - n AS DOUBLE), 0.0) AS theta
  FROM per CROSS JOIN tot
),
jk AS (
  SELECT MAX(nn) AS nn, MAX(k) AS k,
         MAX(ss / CAST(nn AS DOUBLE)) AS mu,
         CASE WHEN MAX(k) > 1
              THEN SQRT((MAX(k) - 1.0) * VAR_POP(theta)) END AS se
  FROM loo
)
SELECT CAST(nn AS BIGINT) AS n, CAST(k AS BIGINT) AS buckets,
       ROUND(mu, 6) AS mean, ROUND(se, 6) AS se,
       ROUND(mu - {z!r} * se, 6) AS lo,
       ROUND(mu + {z!r} * se, 6) AS hi
FROM jk
"""


def hazard_rate(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    time_col: str = "ts",
    churn_gap_days: int = 7,
) -> DataFrame:
    """Nelson-Aalen cumulative hazard over user lifetimes — the
    additive twin of :func:`kaplan_meier` (same lifetimes, same
    censoring rule): ``h(t) = d_t / n_risk(t)`` per distinct duration,
    ``H(t)`` its running sum, plus ``survival_na = exp(-H)`` (the
    Fleming-Harrington estimate, which unlike product-limit never hits
    an exact 0 and so exposes the tail). Returns one row per distinct
    duration ``(duration, n_risk, n_churned, hazard, cum_hazard,
    survival_na)`` rounded 6 ordered by duration.

    Scale shape: the kaplan_meier shape — one user-keyed agg, a 1-row
    broadcast (observation end), one duration-keyed agg and bucket-level
    windows whose state is bounded by the time range in DAYS (never
    corpus-sized; an unpartitioned window over a calendar is fine at any
    corpus scale).
    """
    lives = (
        df.where(F.col(user_col).isNotNull() & F.col(time_col).isNotNull())
        .groupBy(user_col)
        .agg(
            F.min(time_col).alias("__first"),
            F.max(time_col).alias("__last"),
        )
    )
    end = df.agg(F.max(time_col).alias("__end"))
    per_user = lives.crossJoin(F.broadcast(end)).select(
        F.datediff(F.col("__last"), F.col("__first")).alias("duration"),
        (
            F.datediff(F.col("__end"), F.col("__last"))
            > F.lit(int(churn_gap_days))
        ).cast("int").alias("churned"),
    )
    buckets = per_user.groupBy("duration").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("churned").alias("n_churned"),
    )
    run = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    at_risk = F.sum("n_total").over(
        Window.orderBy("duration").rowsBetween(
            Window.currentRow, Window.unboundedFollowing
        )
    )
    hz = F.col("n_churned").cast("double") / F.col("n_risk")
    # distinct names, not __h/__H: Spark's resolver is case-insensitive
    # by default, so those would be ONE column (the second withColumn
    # silently replacing the first)
    return (
        buckets.withColumn("n_risk", at_risk)
        .withColumn("__hz", hz)
        .withColumn("__cumh", F.sum("__hz").over(run))
        .select(
            "duration",
            F.col("n_risk").cast("bigint").alias("n_risk"),
            F.col("n_churned").cast("bigint").alias("n_churned"),
            F.round(F.col("__hz"), 6).alias("hazard"),
            F.round(F.col("__cumh"), 6).alias("cum_hazard"),
            F.round(F.exp(-F.col("__cumh")), 6).alias("survival_na"),
        )
        .orderBy("duration")
    )


def hazard_rate_sql(
    table: str,
    *,
    user_col: str = "user_id",
    time_col: str = "ts",
    churn_gap_days: int = 7,
) -> str:
    """DuckDB replay of :func:`hazard_rate` — same lifetimes/censoring
    as kaplan_meier_sql, additive Nelson-Aalen accumulation."""
    return f"""
WITH lives AS (
  SELECT {user_col} AS u, MIN({time_col}) AS f, MAX({time_col}) AS l
  FROM {table}
  WHERE {user_col} IS NOT NULL AND {time_col} IS NOT NULL
  GROUP BY 1
), endt AS (SELECT MAX({time_col}) AS e FROM {table}),
per_user AS (
  SELECT date_diff('day', f, l) AS duration,
         CASE WHEN date_diff('day', l, e) > {int(churn_gap_days)}
              THEN 1 ELSE 0 END AS churned
  FROM lives CROSS JOIN endt
), buckets AS (
  SELECT duration, COUNT(*) AS n_total, SUM(churned) AS n_churned
  FROM per_user GROUP BY 1
), risked AS (
  SELECT duration, n_total, n_churned,
         SUM(n_total) OVER (ORDER BY duration
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
  FROM buckets
), curve AS (
  SELECT duration, n_risk, n_churned,
         CAST(n_churned AS DOUBLE) / n_risk AS h,
         SUM(CAST(n_churned AS DOUBLE) / n_risk)
           OVER (ORDER BY duration
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hh
  FROM risked
)
SELECT duration, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(n_churned AS BIGINT) AS n_churned,
       ROUND(h, 6) AS hazard, ROUND(hh, 6) AS cum_hazard,
       ROUND(EXP(-hh), 6) AS survival_na
FROM curve ORDER BY duration
"""


def sprt_monitor(
    df: DataFrame,
    success: Column,
    treatment: Column,
    time_col: str,
    *,
    p0: float = 0.05,
    p1: float = 0.07,
    alpha: float = 0.05,
    beta: float = 0.2,
) -> DataFrame:
    """Wald sequential probability-ratio test trace over DAYS — the
    "stop the experiment early" monitor a fixed-horizon z-test can't
    give: per day, the treatment arm's successes/trials add
    ``x ln(p1/p0) + (n - x) ln((1-p1)/(1-p0))`` to the running
    log-likelihood ratio; the decision pins to ``accept_h1`` when the
    cumulative LLR first crosses ``ln((1-beta)/alpha)``, ``accept_h0``
    below ``ln(beta/(1-alpha))``, else ``continue`` (decisions are
    sticky once crossed — a monitor that un-decides is not a monitor).
    Returns one row per day ``(day, n, x, llr, cum_llr, decision)``
    rounded 6 ordered by day.

    Scale shape: one map-combinable (day -> x, n) agg over the
    treatment arm, then day-level running windows — state bounded by
    the CALENDAR, never the corpus, so the unpartitioned window is fine
    at any scale.
    """
    if not (0.0 < p0 < 1.0 and 0.0 < p1 < 1.0 and p0 != p1):
        raise ValueError("p0, p1 must be in (0,1) and differ")
    days = (
        df.where(treatment & F.col(time_col).isNotNull())
        .groupBy(F.to_date(F.col(time_col)).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.count(F.when(success, 1)).alias("__x"),
        )
    )
    return sprt_trace(days, p0=p0, p1=p1, alpha=alpha, beta=beta)


def sprt_trace(
    days: DataFrame,
    *,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.2,
) -> DataFrame:
    """The SPRT trace over a pre-aggregated ``(day, __n, __x)`` frame —
    :func:`sprt_monitor`'s series core, split out so the streaming
    face (``streaming.windows.sprt_stream``) can recompute it over its
    merged day-count state each epoch."""
    import math

    win = math.log((1.0 - beta) / alpha)
    lose = math.log(beta / (1.0 - alpha))
    ls = math.log(p1 / p0)
    lf = math.log((1.0 - p1) / (1.0 - p0))
    llr = F.col("__x") * F.lit(ls) + (F.col("__n") - F.col("__x")) * F.lit(lf)
    run = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    traced = days.select(
        "day", "__n", "__x",
        llr.alias("__llr"),
        F.sum(llr).over(run).alias("__cum"),
    )
    crossed_up = F.max(
        F.when(F.col("__cum") >= win, 1).otherwise(0)
    ).over(run)
    crossed_dn = F.max(
        F.when(F.col("__cum") <= lose, 1).otherwise(0)
    ).over(run)
    decision = (
        F.when(crossed_up == 1, F.lit("accept_h1"))
        .when(crossed_dn == 1, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
    )
    return traced.select(
        "day",
        F.col("__n").cast("bigint").alias("n"),
        F.col("__x").cast("bigint").alias("x"),
        F.round(F.col("__llr"), 6).alias("llr"),
        F.round(F.col("__cum"), 6).alias("cum_llr"),
        decision.alias("decision"),
    ).orderBy("day")


def sprt_monitor_sql(
    table: str,
    success: str,
    treatment: str,
    time_col: str,
    dialect: str,
    *,
    p0: float = 0.05,
    p1: float = 0.07,
    alpha: float = 0.05,
    beta: float = 0.2,
) -> str:
    """Dual-dialect twin of :func:`sprt_monitor` (literal log terms
    computed driver-side so both engines add identical doubles)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    import math

    win = math.log((1.0 - beta) / alpha)
    lose = math.log(beta / (1.0 - alpha))
    ls = math.log(p1 / p0)
    lf = math.log((1.0 - p1) / (1.0 - p0))
    day = (
        f"to_date({time_col})" if dialect == "spark"
        else f"CAST({time_col} AS DATE)"
    )
    # CAST the log-term literals: DuckDB types long decimal literals as
    # DECIMAL, and BIGINT * DECIMAL stays DECIMAL — the driver hash then
    # sees a different wire type than Spark's DOUBLE
    lsl = f"CAST({ls!r} AS DOUBLE)"
    lfl = f"CAST({lf!r} AS DOUBLE)"
    return f"""
WITH days AS (
  SELECT {day} AS day, COUNT(*) AS n,
         COUNT(CASE WHEN {success} THEN 1 END) AS x
  FROM {table}
  WHERE ({treatment}) AND {time_col} IS NOT NULL
  GROUP BY 1
),
traced AS (
  SELECT day, n, x,
         x * {lsl} + (n - x) * {lfl} AS llr_,
         SUM(x * {lsl} + (n - x) * {lfl})
           OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_
  FROM days
),
dec AS (
  SELECT day, n, x, llr_, cum_,
         MAX(CASE WHEN cum_ >= {win!r} THEN 1 ELSE 0 END)
           OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS up_,
         MAX(CASE WHEN cum_ <= {lose!r} THEN 1 ELSE 0 END)
           OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dn_
  FROM traced
)
SELECT day, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x,
       ROUND(llr_, 6) AS llr, ROUND(cum_, 6) AS cum_llr,
       CASE WHEN up_ = 1 THEN 'accept_h1'
            WHEN dn_ = 1 THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM dec ORDER BY day
"""


def cluster_purity(
    df: DataFrame,
    cluster_col: str,
    label_col: str,
) -> DataFrame:
    """Purity + normalized mutual information between a cluster
    assignment and gold labels — the external clustering eval
    (kmeans/IVF cells vs language, simhash bands vs source): purity is
    the majority-label mass ``sum_c max_l n_cl / N``; NMI is
    ``I(C;L) / sqrt(H(C) H(L))`` (the sqrt normalization, pinned).
    Rows with NULL cluster or label drop. Returns ONE row
    ``(n, n_clusters, n_labels, purity, nmi)`` rounded 6; a degenerate
    single-cluster or single-label side pins NULL nmi (zero entropy —
    nothing to normalize by).

    Scale shape: one (cluster, label) contingency agg (map-combinable),
    then marginals and the entropy algebra over that category-product-
    sized frame — two tiny window-free aggs via per-key sums.
    """
    c, l = F.col(cluster_col), F.col(label_col)
    cells = (
        df.where(c.isNotNull() & l.isNotNull())
        .groupBy(c.alias("__c"), l.alias("__l"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    wc = Window.partitionBy("__c")
    wl = Window.partitionBy("__l")
    wall = Window.partitionBy()
    enriched = cells.select(
        "__c", "__l", "__n",
        F.sum("__n").over(wc).alias("__nc"),
        F.sum("__n").over(wl).alias("__nl"),
        F.sum("__n").over(wall).alias("__nn"),
        F.max("__n").over(wc).alias("__maxc"),
    )
    n = F.col("__nn").cast("double")
    # I(C;L) = sum p_cl ln(p_cl / (p_c p_l)); H from marginals (each
    # marginal term counted once: divide by the cell count per key)
    mi_term = (F.col("__n") / n) * F.log(
        (F.col("__n") * n)
        / (F.col("__nc").cast("double") * F.col("__nl"))
    )
    hc_term = (
        (F.col("__nc") / n) * F.log(F.col("__nc") / n)
        / F.count(F.lit(1)).over(wc)
    )
    hl_term = (
        (F.col("__nl") / n) * F.log(F.col("__nl") / n)
        / F.count(F.lit(1)).over(wl)
    )
    purity_term = F.when(
        F.col("__n") == F.col("__maxc"), F.col("__n")
    ).otherwise(0)
    # ties inside a cluster would double-count the majority mass: keep
    # only the first (smallest label) max cell per cluster
    wfirst = Window.partitionBy("__c").orderBy(
        F.desc("__n"), F.asc("__l")
    )
    first = F.row_number().over(wfirst)
    scored = enriched.select(
        "__n", "__nn",
        mi_term.alias("__mi"),
        hc_term.alias("__hc"),
        hl_term.alias("__hl"),
        F.when(first == 1, F.col("__n")).otherwise(0).alias("__pur"),
        "__c", "__l",
    )
    agg = scored.agg(
        F.max("__nn").alias("__N"),
        F.count_distinct("__c").alias("__kc"),
        F.count_distinct("__l").alias("__kl"),
        F.sum("__mi").alias("__I"),
        (-F.sum("__hc")).alias("__Hc"),
        (-F.sum("__hl")).alias("__Hl"),
        F.sum("__pur").alias("__P"),
    )
    nmi = F.try_divide(
        F.col("__I"), F.sqrt(F.col("__Hc") * F.col("__Hl"))
    )
    return agg.select(
        F.col("__N").cast("bigint").alias("n"),
        F.col("__kc").cast("bigint").alias("n_clusters"),
        F.col("__kl").cast("bigint").alias("n_labels"),
        F.round(F.col("__P") / F.col("__N").cast("double"), 6).alias(
            "purity"
        ),
        (F.round(nmi, 6) + F.lit(0.0)).alias("nmi"),
    )


def cluster_purity_sql(
    table: str,
    cluster_expr: str,
    label_expr: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`cluster_purity` (identical text)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH cells AS (
  SELECT {cluster_expr} AS c, {label_expr} AS l, COUNT(*) AS n
  FROM {table}
  WHERE {cluster_expr} IS NOT NULL AND {label_expr} IS NOT NULL
  GROUP BY 1, 2
),
enriched AS (
  SELECT c, l, n,
         SUM(n) OVER (PARTITION BY c) AS nc,
         SUM(n) OVER (PARTITION BY l) AS nl,
         SUM(n) OVER () AS nn,
         COUNT(*) OVER (PARTITION BY c) AS cells_c,
         COUNT(*) OVER (PARTITION BY l) AS cells_l,
         ROW_NUMBER() OVER (PARTITION BY c ORDER BY n DESC, l ASC)
           AS rk
  FROM cells
),
agg AS (
  SELECT MAX(nn) AS nn, COUNT(DISTINCT c) AS kc,
         COUNT(DISTINCT l) AS kl,
         SUM((n / CAST(nn AS DOUBLE))
             * LN((n * CAST(nn AS DOUBLE)) / (CAST(nc AS DOUBLE) * nl)))
           AS mi,
         -SUM((nc / CAST(nn AS DOUBLE)) * LN(nc / CAST(nn AS DOUBLE))
              / cells_c) AS hc,
         -SUM((nl / CAST(nn AS DOUBLE)) * LN(nl / CAST(nn AS DOUBLE))
              / cells_l) AS hl,
         SUM(CASE WHEN rk = 1 THEN n ELSE 0 END) AS pur
  FROM enriched
)
SELECT CAST(nn AS BIGINT) AS n, CAST(kc AS BIGINT) AS n_clusters,
       CAST(kl AS BIGINT) AS n_labels,
       ROUND(pur / CAST(nn AS DOUBLE), 6) AS purity,
       ROUND(mi / NULLIF(SQRT(hc * hl), 0.0), 6) + 0.0 AS nmi
FROM agg
"""


def qq_plot(
    df: DataFrame,
    value_expr: str,
    filter_a: Column,
    filter_b: Column,
    *,
    grid: int = 20,
) -> DataFrame:
    """Quantile-quantile pairs between two filtered populations — the
    drift DIAGNOSTIC beside :func:`ks_drift`'s single statistic (KS says
    THAT distributions differ; the QQ curve shows WHERE): both sides'
    linear-interpolated percentiles at a shared ``grid``, with the gap.
    Returns one row per grid point ``(p, q_a, q_b, gap)`` rounded 6
    ordered by p.

    Scale shape: ONE agg computes both percentile arrays (two
    ``percentile`` sketch-free aggregates — exact, matching DuckDB's
    quantile_cont interpolation, the quantile_norm pin), then a
    grid-sized posexplode zip. Raw rows are scanned once.
    """
    if grid < 2:
        raise ValueError("grid must be >= 2")
    v = F.expr(value_expr).cast("double")
    fracs = [i / grid for i in range(grid + 1)]
    one = df.where(v.isNotNull() & (filter_a | filter_b)).agg(
        F.percentile(F.when(filter_a, v), F.lit(fracs)).alias("__qa"),
        F.percentile(F.when(filter_b, v), F.lit(fracs)).alias("__qb"),
    )
    exploded = one.select(
        F.posexplode(F.col("__qa")).alias("__i", "__va"),
        F.col("__qb"),
    ).select(
        F.round(F.col("__i") / F.lit(float(grid)), 6).alias("p"),
        F.round(F.col("__va"), 6).alias("q_a"),
        F.round(
            F.element_at(F.col("__qb"), F.col("__i") + 1), 6
        ).alias("q_b"),
        F.round(
            F.element_at(F.col("__qb"), F.col("__i") + 1)
            - F.col("__va"),
            6,
        ).alias("gap"),
    )
    return exploded.orderBy("p")


def qq_plot_sql(
    table: str,
    value_expr: str,
    filter_a: str,
    filter_b: str,
    dialect: str,
    *,
    grid: int = 20,
) -> str:
    """Dual-dialect twin of :func:`qq_plot` — Spark ``percentile`` and
    DuckDB ``quantile_cont`` share the interpolation; the duckdb
    posexplode twin is two SAME-LEVEL unnests (zip positionally — the
    WITH-ORDINALITY-free pin from quantile_norm)."""
    v = f"CAST({value_expr} AS DOUBLE)"
    fracs = "[" + ", ".join(repr(i / grid) for i in range(grid + 1)) + "]"
    if dialect == "spark":
        arr = fracs.replace("[", "array(").replace("]", ")")
        qa = f"percentile(CASE WHEN {filter_a} THEN {v} END, {arr})"
        qb = f"percentile(CASE WHEN {filter_b} THEN {v} END, {arr})"
        explode = (
            "SELECT posexplode(qa) AS (i, va), qb FROM one"
        )
        pick = "element_at(qb, i + 1)"
    elif dialect == "duckdb":
        qa = f"quantile_cont(CASE WHEN {filter_a} THEN {v} END, {fracs})"
        qb = f"quantile_cont(CASE WHEN {filter_b} THEN {v} END, {fracs})"
        explode = (
            "SELECT unnest(generate_series(0, "
            f"{grid})) AS i, unnest(qa) AS va, qb FROM one"
        )
        pick = "qb[i + 1]"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH one AS (
  SELECT {qa} AS qa, {qb} AS qb
  FROM {table}
  WHERE {v} IS NOT NULL AND (({filter_a}) OR ({filter_b}))
),
expl AS ({explode})
SELECT ROUND(i / {float(grid)!r}, 6) AS p,
       ROUND(va, 6) AS q_a,
       ROUND({pick}, 6) AS q_b,
       ROUND({pick} - va, 6) AS gap
FROM expl ORDER BY p
"""


def conversion_lag(
    df: DataFrame,
    from_type: str,
    to_type: str,
    *,
    user_col: str = "user_id",
    time_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Time-to-convert distribution: each user's FIRST ``from_type``
    event to their first ``to_type`` event AT OR AFTER it — the funnel
    latency the conversion-rate panels hide. Returns ONE row
    ``(n_users, n_converted, conversion_rate, p50_s, p90_s, p99_s,
    mean_s)`` with lags in seconds rounded 6.

    Scale shape: ONE user-keyed window pass (the sessionize exchange):
    first_from as a min over the user frame, the conversion candidate
    as a conditional min over the same frame, then one user-level
    dedup-agg and a 1-row percentile agg. Raw events shuffle once.
    """
    w = Window.partitionBy(user_col)
    t = F.col(time_col)
    first_from = F.min(
        F.when(F.col(type_col) == from_type, t)
    ).over(w)
    ev = df.where(F.col(user_col).isNotNull() & t.isNotNull())
    tagged = ev.select(
        F.col(user_col).alias("__u"),
        first_from.alias("__ff"),
        F.when(
            (F.col(type_col) == to_type) & (t >= first_from), t
        ).alias("__cand"),
    )
    users = (
        tagged.where(F.col("__ff").isNotNull())
        .groupBy("__u")
        .agg(
            F.min("__ff").alias("__ff"),
            F.min("__cand").alias("__conv"),
        )
        .select(
            (
                F.unix_timestamp("__conv") - F.unix_timestamp("__ff")
            ).cast("double").alias("__lag")
        )
    )
    fr = [0.5, 0.9, 0.99]
    agg = users.agg(
        F.count(F.lit(1)).alias("__n"),
        F.count("__lag").alias("__nc"),
        F.percentile(F.col("__lag"), F.lit(fr)).alias("__q"),
        F.avg("__lag").alias("__mean"),
    )
    return agg.select(
        F.col("__n").cast("bigint").alias("n_users"),
        F.col("__nc").cast("bigint").alias("n_converted"),
        F.round(
            F.try_divide(F.col("__nc"), F.col("__n").cast("double")), 6
        ).alias("conversion_rate"),
        F.round(F.element_at("__q", 1), 6).alias("p50_s"),
        F.round(F.element_at("__q", 2), 6).alias("p90_s"),
        F.round(F.element_at("__q", 3), 6).alias("p99_s"),
        F.round(F.col("__mean"), 6).alias("mean_s"),
    )


def conversion_lag_sql(
    table: str,
    from_type: str,
    to_type: str,
    dialect: str,
    *,
    user_col: str = "user_id",
    time_col: str = "ts",
    type_col: str = "event_type",
) -> str:
    """Dual-dialect twin of :func:`conversion_lag` — epoch seconds are
    FLOORED on both engines (DuckDB epoch() keeps microseconds, the
    burstiness pin); quantile_cont matches percentile."""
    if dialect == "spark":
        q = "percentile(lag_, array(0.5, 0.9, 0.99))"
        pick = lambda i: f"element_at(q, {i})"  # noqa: E731
        lag = "CAST(unix_timestamp(conv) - unix_timestamp(ff) AS DOUBLE)"
    elif dialect == "duckdb":
        q = "quantile_cont(lag_, [0.5, 0.9, 0.99])"
        pick = lambda i: f"q[{i}]"  # noqa: E731
        lag = "CAST(FLOOR(epoch(conv)) - FLOOR(epoch(ff)) AS DOUBLE)"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH tagged AS (
  SELECT {user_col} AS u,
         MIN(CASE WHEN {type_col} = '{from_type}' THEN {time_col} END)
           OVER (PARTITION BY {user_col}) AS ff,
         CASE WHEN {type_col} = '{to_type}'
               AND {time_col} >= MIN(CASE WHEN {type_col} = '{from_type}'
                   THEN {time_col} END) OVER (PARTITION BY {user_col})
              THEN {time_col} END AS cand
  FROM {table}
  WHERE {user_col} IS NOT NULL AND {time_col} IS NOT NULL
),
users AS (
  SELECT u, MIN(ff) AS ff, MIN(cand) AS conv
  FROM tagged WHERE ff IS NOT NULL GROUP BY 1
),
lags AS (SELECT {lag} AS lag_ FROM users),
agg AS (
  SELECT COUNT(*) AS n, COUNT(lag_) AS nc, {q} AS q, AVG(lag_) AS mean_
  FROM lags
)
SELECT CAST(n AS BIGINT) AS n_users, CAST(nc AS BIGINT) AS n_converted,
       ROUND(nc / NULLIF(CAST(n AS DOUBLE), 0.0), 6) AS conversion_rate,
       ROUND({pick(1)}, 6) AS p50_s,
       ROUND({pick(2)}, 6) AS p90_s,
       ROUND({pick(3)}, 6) AS p99_s,
       ROUND(mean_, 6) AS mean_s
FROM agg
"""


def stl_decompose(
    df: DataFrame,
    ts_col: str,
    value_expr: str,
    *,
    period: int = 7,
    trend_window: int = 7,
) -> DataFrame:
    """Additive seasonal-trend decomposition of a daily series (the
    STL-lite every metric dashboard wants): trend = centered moving
    average over ``trend_window`` days, seasonal = the mean detrended
    value of each day-of-period slot (re-centered to sum to zero — the
    additive-identity pin), residual = value - trend - seasonal, plus
    the variance-explained ``seasonal_strength`` =
    ``max(0, 1 - var(resid) / var(detrended))`` (Hyndman's measure).
    Returns one row per day ``(day, value, trend, seasonal, residual,
    seasonal_strength)`` rounded 6 ordered by day; rows whose centered
    window is truncated at the series edge still emit (mean over what
    exists, the moving_fn convention).

    Scale shape: one (day -> sum) hash agg collapses the corpus; every
    window after runs over the CALENDAR-bounded day frame (the
    bucket_pipeline contract), the seasonal means are a period-sized
    agg joined back broadcast, and the strength is a 1-row agg.
    """
    if period < 2:
        raise ValueError("period must be >= 2")
    if trend_window < 2:
        raise ValueError("trend_window must be >= 2")
    v = F.expr(value_expr).cast("double")
    days = (
        df.where(F.col(ts_col).isNotNull() & v.isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("day"))
        .agg(F.sum(v).alias("__v"))
    )
    half = trend_window // 2
    wtrend = Window.orderBy("day").rowsBetween(-half, half)
    trended = days.withColumn("__t", F.avg("__v").over(wtrend))
    slot = F.pmod(F.datediff(F.col("day"), F.lit("1970-01-01")), period)
    detr = trended.withColumn("__slot", slot).withColumn(
        "__d", F.col("__v") - F.col("__t")
    )
    detr = checkpoint(detr)
    slots = detr.groupBy("__slot").agg(F.avg("__d").alias("__s_raw"))
    wall = Window.partitionBy()
    slots = slots.withColumn(
        "__s", F.col("__s_raw") - F.avg("__s_raw").over(wall)
    ).select("__slot", "__s")
    joined = detr.join(F.broadcast(slots), "__slot").withColumn(
        "__r", F.col("__d") - F.col("__s")
    )
    strength = joined.agg(
        F.greatest(
            F.lit(0.0),
            F.lit(1.0)
            - F.try_divide(F.var_pop("__r"), F.var_pop("__d")),
        ).alias("__fs")
    )
    out = (
        joined.crossJoin(F.broadcast(strength))
        .select(
            "day",
            F.round("__v", 6).alias("value"),
            F.round("__t", 6).alias("trend"),
            F.round("__s", 6).alias("seasonal"),
            F.round("__r", 6).alias("residual"),
            F.round("__fs", 6).alias("seasonal_strength"),
        )
        .orderBy("day")
    )
    return out


def stl_decompose_sql(
    table: str,
    ts_col: str,
    value_expr: str,
    dialect: str,
    *,
    period: int = 7,
    trend_window: int = 7,
) -> str:
    """Dual-dialect twin of :func:`stl_decompose`. Slot arithmetic goes
    through epoch-days so both engines agree on day-of-period; the
    MOD of a negative epoch-day is pinned positive (pmod semantics)."""
    if dialect == "spark":
        day = f"to_date({ts_col})"
        ep = "datediff(day, DATE '1970-01-01')"
    elif dialect == "duckdb":
        day = f"CAST({ts_col} AS DATE)"
        ep = "date_diff('day', DATE '1970-01-01', day)"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    half = trend_window // 2
    v = f"CAST({value_expr} AS DOUBLE)"
    return f"""
WITH days AS (
  SELECT {day} AS day, SUM({v}) AS v
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {v} IS NOT NULL
  GROUP BY 1
),
trended AS (
  SELECT day, v,
         AVG(v) OVER (ORDER BY day
           ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING) AS t,
         ((({ep}) % {period}) + {period}) % {period} AS slot
  FROM days
),
detr AS (SELECT day, v, t, slot, v - t AS d FROM trended),
slots AS (
  SELECT slot, AVG(d) - (SELECT AVG(x.a) FROM (
           SELECT AVG(d) AS a FROM detr GROUP BY slot) x) AS s
  FROM detr GROUP BY slot
),
joined AS (
  SELECT detr.day, detr.v, detr.t, slots.s, detr.d,
         detr.d - slots.s AS r
  FROM detr JOIN slots ON detr.slot = slots.slot
),
fs AS (
  SELECT GREATEST(0.0, 1.0 - VAR_POP(r) / NULLIF(VAR_POP(d), 0.0))
           AS strength
  FROM joined
)
SELECT day, ROUND(v, 6) AS value, ROUND(t, 6) AS trend,
       ROUND(s, 6) AS seasonal, ROUND(r, 6) AS residual,
       ROUND(strength, 6) AS seasonal_strength
FROM joined CROSS JOIN fs
ORDER BY day
"""


def lorenz_gini(
    df: DataFrame,
    value_expr: str,
    *,
    points: int = 10,
) -> DataFrame:
    """Lorenz curve + exact Gini coefficient of a positive quantity —
    the distribution-inequality picture beside :func:`theil_index`'s
    decomposable number (Lorenz shows the SHAPE: "the top decile of
    docs carries X% of the bytes"). Gini uses the exact grouped
    rank-weighted identity ``G = 1 - sum_v w_v * (F(v) + F(v-)) / W``
    over distinct values (population definition, ties exact). Returns
    one row per curve point ``(p, cum_value_share, gini)`` rounded 6
    ordered by p — p is the POPULATION share at each of ``points``
    evenly spaced cuts (lower rule, the weighted_percentile pin).

    Curve points interpolate WITHIN a tied value block (mass spreads
    uniformly over tied rows), so the curve is the exact per-row Lorenz
    curve even though the plan never ranks rows.

    Scale shape: group by VALUE, then ONE
    :func:`ordering.prefix_sums` pass carries cumulative count AND
    cumulative mass (continuous values make the frame corpus-sized —
    never an unpartitioned window); the Gini reduction and every curve
    point are conditional aggs over the cum frame.
    """
    if points < 2:
        raise ValueError("points must be >= 2")
    from harmonize_search_analyze_spark.operators.ordering import (
        prefix_sums,
    )

    v = F.expr(value_expr).cast("double")
    per = (
        df.where(v.isNotNull() & (v > 0))
        .groupBy(v.alias("__v"))
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.sum(v).alias("__m"),
        )
    )
    # lazy_bounds=False: cum is CHECKPOINTED with two consumers; the
    # in-plan boundary broadcast measured SLOWER here (4 cores, sf0.1,
    # 20 alternating trials: median 0.489 s eager vs 0.532 s lazy;
    # PERFORMANCE.md decision 9) — the eager construct-time sample
    # pre-fills the stored frame before the consumers race, which wins
    # when the prefix frame is stored. weighted_percentile (same
    # stored-output shape) measured the same way; the rest of the
    # rank battery keeps the lazy default.
    cum = checkpoint(prefix_sums(
        per, ["__v"], {"__c": "__cc", "__m": "__cm"}, lazy_bounds=False
    ))
    tot = cum.agg(
        F.max("__cc").alias("__n"), F.max("__cm").alias("__w")
    )
    # G = sum over distinct v of (m_v / W) * (F(v) + F(v^-)) - 1 with
    # F the population CDF — exact under ties (checked against the
    # pairwise |x_i - x_j| / (2 n^2 mu) definition: all-equal -> 0,
    # one-owner-of-everything among n -> (n-1)/n)
    g = cum.crossJoin(F.broadcast(tot)).agg(
        F.max("__n").alias("__n"),
        F.max("__w").alias("__w"),
        (
            F.sum(
                F.col("__m")
                * (2.0 * F.col("__cc") - F.col("__c"))
            ) / (F.max("__n") * F.max("__w"))
            - F.lit(1.0)
        ).alias("__g"),
        *[
            # the FIRST value block whose cumulative count reaches the
            # cut: struct-min orders by cc first
            F.min(
                F.when(
                    F.col("__cc")
                    >= F.lit(float(i) / points) * F.col("__n"),
                    F.struct(
                        F.col("__cc"), F.col("__c"),
                        F.col("__cm"), F.col("__m"),
                    ),
                )
            ).alias(f"__hit_{i}")
            for i in range(1, points + 1)
        ],
    )

    def _share(i: int):
        h = F.col(f"__hit_{i}")
        t = F.lit(float(i) / points) * F.col("__n")
        # mass below the block + the block's pro-rata mass up to t
        covered = (
            h["__cm"] - h["__m"]
            + (t - (h["__cc"] - h["__c"])) * h["__m"] / h["__c"]
        )
        return F.coalesce(
            F.try_divide(covered, F.col("__w")), F.lit(0.0)
        )

    arr = F.array(
        *[
            F.struct(
                F.lit(round(i / points, 6)).alias("p"),
                _share(i).alias("share"),
            )
            for i in range(1, points + 1)
        ]
    )
    out = (
        g.select(F.explode(arr).alias("__e"), "__g")
        .select(
            F.col("__e.p").alias("p"),
            F.round(F.col("__e.share"), 6).alias("cum_value_share"),
            F.round(F.col("__g"), 6).alias("gini"),
        )
        .orderBy("p")
    )
    return out


def lorenz_gini_sql(
    table: str,
    value_expr: str,
    dialect: str,
    *,
    points: int = 10,
) -> str:
    """Dual-dialect twin of :func:`lorenz_gini` (single-window form at
    oracle scale)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    v = f"CAST({value_expr} AS DOUBLE)"
    ps = ", ".join(
        repr(round(i / points, 6)) for i in range(1, points + 1)
    )
    if dialect == "spark":
        spine = f"SELECT explode(array({ps})) AS p"
    else:
        spine = f"SELECT CAST(unnest([{ps}]) AS DOUBLE) AS p"
    return f"""
WITH per AS (
  SELECT {v} AS v, COUNT(*) AS c, SUM({v}) AS m
  FROM {table} WHERE {v} IS NOT NULL AND {v} > 0 GROUP BY 1
),
cum AS (
  SELECT v, c, m,
         SUM(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
         SUM(m) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
  FROM per
),
tot AS (SELECT MAX(cc) AS n, MAX(cm) AS w FROM cum),
gini AS (
  SELECT SUM(m * (2.0 * cc - c)) / (MAX(n) * MAX(w)) - 1.0 AS g
  FROM cum CROSS JOIN tot
),
ps AS ({spine}),
hits AS (
  SELECT ps.p, MIN(cum.cc) AS cc
  FROM ps CROSS JOIN tot JOIN cum ON cum.cc >= ps.p * tot.n
  GROUP BY ps.p
),
curve AS (
  SELECT hits.p,
         (cum.cm - cum.m
          + (hits.p * tot.n - (cum.cc - cum.c)) * cum.m / cum.c)
           / tot.w AS share
  FROM hits JOIN cum ON cum.cc = hits.cc CROSS JOIN tot
)
SELECT ROUND(curve.p, 6) AS p,
       ROUND(curve.share, 6) AS cum_value_share,
       ROUND(gini.g, 6) AS gini
FROM curve CROSS JOIN gini
ORDER BY p
"""


def theil_sen(
    df: DataFrame,
    ts_col: str,
    value_expr: str,
) -> DataFrame:
    """Theil-Sen robust trend over the DAILY series — the
    outlier-immune alternative to :func:`ols_trend` (one anomalous day
    can't bend it; breakdown point 29%): the slope is the MEDIAN of
    all pairwise day-slopes, the intercept the median of
    ``y - slope * x``. Returns ONE row ``(n_days, slope_per_day,
    intercept, ols_slope)`` rounded 6 (the OLS slope rides along as
    the sensitivity comparison); fewer than 2 days pins NULLs.

    Scale shape: the corpus collapses to the CALENDAR-bounded day frame
    first (one hash agg), so the exact all-pairs slope set is
    |days|^2/2 — bounded by the time range squared, independent of
    corpus size (3 years of days = ~600k pairs, trivia) — then two
    median aggs. Never pairs raw rows.
    """
    v = F.expr(value_expr).cast("double")
    days = (
        df.where(F.col(ts_col).isNotNull() & v.isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("__d"))
        .agg(F.sum(v).alias("__y"))
        .withColumn(
            "__x",
            F.datediff(F.col("__d"), F.lit("1970-01-01")).cast("double"),
        )
    )
    days = checkpoint(days)
    a = days.select(
        F.col("__x").alias("__xa"), F.col("__y").alias("__ya")
    )
    b = days.select(
        F.col("__x").alias("__xb"), F.col("__y").alias("__yb")
    )
    pairs = a.join(b, F.col("__xa") < F.col("__xb")).select(
        (
            (F.col("__yb") - F.col("__ya"))
            / (F.col("__xb") - F.col("__xa"))
        ).alias("__s")
    )
    slope = pairs.agg(F.median("__s").alias("__slope"))
    inter = days.crossJoin(F.broadcast(slope)).agg(
        F.count(F.lit(1)).alias("__n"),
        F.max("__slope").alias("__slope"),
        F.median(
            F.col("__y") - F.col("__slope") * F.col("__x")
        ).alias("__b"),
        F.try_divide(
            F.covar_pop("__x", "__y"), F.var_pop("__x")
        ).alias("__ols"),
    )
    out = inter.select(
        F.col("__n").cast("bigint").alias("n_days"),
        F.round("__slope", 6).alias("slope_per_day"),
        F.round("__b", 6).alias("intercept"),
        F.round("__ols", 6).alias("ols_slope"),
    )
    return out


def theil_sen_sql(
    table: str,
    ts_col: str,
    value_expr: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`theil_sen` (MEDIAN is
    linear-interpolated on both engines)."""
    if dialect == "spark":
        day = f"to_date({ts_col})"
        ep = "CAST(datediff(d, DATE '1970-01-01') AS DOUBLE)"
    elif dialect == "duckdb":
        day = f"CAST({ts_col} AS DATE)"
        ep = "CAST(date_diff('day', DATE '1970-01-01', d) AS DOUBLE)"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    v = f"CAST({value_expr} AS DOUBLE)"
    return f"""
WITH days AS (
  SELECT {day} AS d, SUM({v}) AS y
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {v} IS NOT NULL
  GROUP BY 1
),
pts AS (SELECT {ep} AS x, y FROM days),
pairs AS (
  SELECT (b.y - a.y) / (b.x - a.x) AS s
  FROM pts a JOIN pts b ON a.x < b.x
),
slope AS (SELECT MEDIAN(s) AS slope FROM pairs),
fit AS (
  SELECT COUNT(*) AS n, MAX(slope.slope) AS slope,
         MEDIAN(pts.y - slope.slope * pts.x) AS b,
         COVAR_POP(pts.x, pts.y) / NULLIF(VAR_POP(pts.x), 0.0) AS ols
  FROM pts CROSS JOIN slope
)
SELECT CAST(n AS BIGINT) AS n_days,
       ROUND(slope, 6) AS slope_per_day,
       ROUND(b, 6) AS intercept,
       ROUND(ols, 6) AS ols_slope
FROM fit
"""


# -- categorical effect size / agreement / multiple testing ---------------------


def cramers_v(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cramér's V association strength between two categorical columns —
    the "how related" companion to :func:`chi2_independence`'s "is it
    related": ``V = sqrt(phi2 / (min(ka, kb) - 1))`` with
    ``phi2 = chi2 / n``, plus the Bergsma bias-corrected variant
    ``V~ = sqrt(max(0, phi2 - (ka-1)(kb-1)/(n-1)) / (min(ka~, kb~) - 1))``
    with ``k~ = k - (k-1)^2/(n-1)`` (raw V inflates toward 1 on sparse
    high-cardinality tables — the corpus-audit case). Returns ONE row
    ``(n, ka, kb, chi2, v, v_corrected)`` rounded 6; a single-category
    axis pins NULL v (association undefined), n <= 1 pins NULL
    v_corrected.

    Scale shape: identical to chi2_independence — one (a, b) hash agg
    builds the contingency cells, marginals aggregate FROM the cell
    frame, the full |A| x |B| grid is category-sized (empty cells still
    contribute ``e`` to chi2).
    """
    observed = (
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    row_m = observed.groupBy("a").agg(F.sum("o").alias("ra"))
    col_m = observed.groupBy("b").agg(F.sum("o").alias("cb"))
    cells = (
        row_m.crossJoin(col_m)
        .join(observed, ["a", "b"], "left")
        .select(
            "ra", "cb", F.coalesce("o", F.lit(0)).alias("o")
        )
    )
    tot = observed.agg(F.sum("o").alias("n"))
    ka = row_m.agg(F.count(F.lit(1)).alias("ka"))
    kb = col_m.agg(F.count(F.lit(1)).alias("kb"))
    e = (
        F.col("ra").cast("double")
        * F.col("cb").cast("double")
        / F.col("n").cast("double")
    )
    term = (F.col("o").cast("double") - e) * (F.col("o") - e) / e
    one = (
        cells.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ka))
        .crossJoin(F.broadcast(kb))
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.max("ka").cast("bigint").alias("ka"),
            F.max("kb").cast("bigint").alias("kb"),
            F.sum(term).alias("__chi2"),
        )
    )
    n = F.col("n").cast("double")
    kaa, kbb = F.col("ka").cast("double"), F.col("kb").cast("double")
    phi2 = F.col("__chi2") / n
    v = F.sqrt(F.try_divide(phi2, F.least(kaa, kbb) - 1.0))
    phi2c = F.greatest(
        F.lit(0.0),
        phi2 - F.try_divide((kaa - 1.0) * (kbb - 1.0), n - 1.0),
    )
    kac = kaa - F.try_divide((kaa - 1.0) * (kaa - 1.0), n - 1.0)
    kbc = kbb - F.try_divide((kbb - 1.0) * (kbb - 1.0), n - 1.0)
    vc = F.sqrt(F.try_divide(phi2c, F.least(kac, kbc) - 1.0))
    return one.select(
        "n", "ka", "kb",
        F.round("__chi2", 6).alias("chi2"),
        (F.round(v, 6) + F.lit(0.0)).alias("v"),
        (F.round(vc, 6) + F.lit(0.0)).alias("v_corrected"),
    )


def cramers_v_sql(
    table: str, col_a: str, col_b: str, dialect: str
) -> str:
    """Dual-dialect twin of :func:`cramers_v` (identical text; NULLIF
    division mirrors try_divide, GREATEST(0, ...) clamps the corrected
    phi2)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH obs AS (
  SELECT {col_a} AS a, {col_b} AS b, COUNT(*) AS o
  FROM {table}
  WHERE {col_a} IS NOT NULL AND {col_b} IS NOT NULL
  GROUP BY 1, 2
),
row_m AS (SELECT a, SUM(o) AS ra FROM obs GROUP BY 1),
col_m AS (SELECT b, SUM(o) AS cb FROM obs GROUP BY 1),
cells AS (
  SELECT r.ra, c.cb, COALESCE(o.o, 0) AS o
  FROM row_m r CROSS JOIN col_m c
  LEFT JOIN obs o ON o.a = r.a AND o.b = c.b
),
chi AS (
  SELECT (SELECT SUM(o) FROM obs) AS n,
         (SELECT COUNT(*) FROM row_m) AS ka,
         (SELECT COUNT(*) FROM col_m) AS kb,
         SUM((CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * cb
              / (SELECT SUM(o) FROM obs))
             * (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * cb
                / (SELECT SUM(o) FROM obs))
             / (CAST(ra AS DOUBLE) * cb / (SELECT SUM(o) FROM obs))
         ) AS chi2
  FROM cells
),
s AS (
  SELECT CAST(n AS DOUBLE) AS n, CAST(ka AS DOUBLE) AS ka,
         CAST(kb AS DOUBLE) AS kb, chi2, chi2 / n AS phi2,
         GREATEST(0.0, chi2 / n
                  - (ka - 1.0) * (kb - 1.0) / NULLIF(n - 1.0, 0.0)
         ) AS phi2c,
         ka - (ka - 1.0) * (ka - 1.0) / NULLIF(n - 1.0, 0.0) AS kac,
         kb - (kb - 1.0) * (kb - 1.0) / NULLIF(n - 1.0, 0.0) AS kbc
  FROM chi
)
SELECT CAST(n AS BIGINT) AS n, CAST(ka AS BIGINT) AS ka,
       CAST(kb AS BIGINT) AS kb, ROUND(chi2, 6) AS chi2,
       ROUND(SQRT(phi2 / NULLIF(LEAST(ka, kb) - 1.0, 0.0)), 6)
         + 0.0 AS v,
       ROUND(SQRT(phi2c / NULLIF(LEAST(kac, kbc) - 1.0, 0.0)), 6)
         + 0.0 AS v_corrected
FROM s
"""


def fleiss_kappa(
    df: DataFrame,
    item_expr: str,
    category_expr: str,
    *,
    min_raters: int = 2,
) -> DataFrame:
    """Fleiss' kappa chance-corrected agreement, in the variable-rater
    generalization — the label-consistency audit for LLM annotation
    pipelines (N raters per item, e.g. "do duplicate copies of a text
    carry the same label"): per item ``P_i = sum_j n_ij (n_ij - 1) /
    (n_i (n_i - 1))``, ``P_bar = mean(P_i)``, chance agreement
    ``P_e = sum_j p_j^2`` with ``p_j`` the pooled category share, and
    ``kappa = (P_bar - P_e) / (1 - P_e)``. Items with fewer than
    ``min_raters`` ratings drop (no pair to agree). Returns ONE row
    ``(n_items, n_ratings, n_categories, p_bar, p_e, kappa)`` rounded 6;
    a single pooled category pins NULL kappa (P_e = 1, division by
    zero — agreement is vacuous).

    Scale shape: one (item, category) hash agg, one item-keyed agg on
    that frame (same key prefix, AQE keeps it co-partitioned), a
    category-sized marginal agg, then three 1-row broadcasts — the raw
    rows are scanned once.
    """
    if min_raters < 2:
        raise ValueError("min_raters must be >= 2")
    counts = (
        df.select(
            F.expr(item_expr).alias("__i"),
            F.expr(category_expr).alias("__c"),
        )
        .where(F.col("__i").isNotNull() & F.col("__c").isNotNull())
        .groupBy("__i", "__c")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    items = (
        counts.groupBy("__i")
        .agg(
            F.sum("c").alias("ni"),
            F.sum(F.col("c") * (F.col("c") - 1)).alias("agree"),
        )
        .where(F.col("ni") >= min_raters)
    )
    pbar = items.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("ni").alias("n_ratings"),
        F.avg(
            F.col("agree").cast("double")
            / (F.col("ni") * (F.col("ni") - F.lit(1)))
        ).alias("p_bar"),
    )
    marg = (
        counts.join(items.select("__i"), "__i")
        .groupBy("__c")
        .agg(F.sum("c").alias("cj"))
    )
    pe = marg.crossJoin(F.broadcast(pbar.select("n_ratings"))).agg(
        F.count(F.lit(1)).alias("n_categories"),
        F.sum(
            (F.col("cj").cast("double") / F.col("n_ratings"))
            * (F.col("cj") / F.col("n_ratings"))
        ).alias("p_e"),
    )
    one = pbar.crossJoin(F.broadcast(pe))
    kappa = F.try_divide(
        F.col("p_bar") - F.col("p_e"), 1.0 - F.col("p_e")
    )
    return one.select(
        F.col("n_items").cast("bigint").alias("n_items"),
        F.col("n_ratings").cast("bigint").alias("n_ratings"),
        F.col("n_categories").cast("bigint").alias("n_categories"),
        F.round("p_bar", 6).alias("p_bar"),
        F.round("p_e", 6).alias("p_e"),
        (F.round(kappa, 6) + F.lit(0.0)).alias("kappa"),
    )


def fleiss_kappa_sql(
    table: str,
    item_expr: str,
    category_expr: str,
    dialect: str,
    *,
    min_raters: int = 2,
) -> str:
    """Dual-dialect twin of :func:`fleiss_kappa` (identical text)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH counts AS (
  SELECT {item_expr} AS i, {category_expr} AS c, COUNT(*) AS cnt
  FROM {table}
  WHERE {item_expr} IS NOT NULL AND {category_expr} IS NOT NULL
  GROUP BY 1, 2
),
items AS (
  SELECT i, SUM(cnt) AS ni, SUM(cnt * (cnt - 1)) AS agree
  FROM counts GROUP BY 1
  HAVING SUM(cnt) >= {min_raters}
),
pbar AS (
  SELECT COUNT(*) AS n_items, SUM(ni) AS n_ratings,
         AVG(CAST(agree AS DOUBLE) / (ni * (ni - 1))) AS p_bar
  FROM items
),
marg AS (
  SELECT counts.c, SUM(cnt) AS cj
  FROM counts JOIN items ON counts.i = items.i
  GROUP BY 1
),
pe AS (
  SELECT COUNT(*) AS n_categories,
         SUM((CAST(cj AS DOUBLE) / (SELECT n_ratings FROM pbar))
             * (CAST(cj AS DOUBLE) / (SELECT n_ratings FROM pbar))
         ) AS p_e
  FROM marg
)
SELECT CAST(n_items AS BIGINT) AS n_items,
       CAST(n_ratings AS BIGINT) AS n_ratings,
       CAST(n_categories AS BIGINT) AS n_categories,
       ROUND(p_bar, 6) AS p_bar,
       ROUND(p_e, 6) AS p_e,
       ROUND((p_bar - p_e) / NULLIF(1.0 - p_e, 0.0), 6) + 0.0 AS kappa
FROM pbar CROSS JOIN pe
"""


def benjamini_hochberg(
    df: DataFrame,
    group_exprs: list[str],
    value_expr: str,
    *,
    q: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg FDR screen over per-group mean shifts — the
    multiple-testing gate the significant_terms family needs once you
    test HUNDREDS of slices at once (per-source quality drift, per-hour
    rate shifts): each group's one-sample z against the global mean
    (``z = (mean_g - mu) / (sd / sqrt(n_g))``, two-sided p via the
    shared A&S erf polynomial), then the BH step-up: rank p ascending,
    reject every rank <= k where k is the largest i with
    ``p_i <= (i/m) q``. Returns one row per group ordered (p ASC, keys
    ASC): group keys + ``(n, mean, z, p_value, rank, bh_critical,
    rejected)``, p/z rounded 6.

    Scale shape: one group hash agg + a broadcast 1-row global frame;
    the rank window and the k fold run over the GROUP frame (bounded by
    group cardinality, never corpus rows — callers choosing corpus-
    cardinality keys should tile via ordering.prefix_sums instead).
    """
    gs = [F.expr(g).alias(f"__g{i}") for i, g in enumerate(group_exprs)]
    gkeys = [f"__g{i}" for i in range(len(group_exprs))]
    v = F.expr(value_expr).cast("double")
    base = df.where(v.isNotNull()).select(*gs, v.alias("__v"))
    groups = base.groupBy(*gkeys).agg(
        F.count(F.lit(1)).alias("n"), F.avg("__v").alias("mean")
    )
    glob = base.agg(
        F.avg("__v").alias("__mu"), F.stddev_samp("__v").alias("__sd")
    )
    scored = groups.crossJoin(F.broadcast(glob)).select(
        *gkeys, "n", "mean",
        F.try_divide(
            F.col("mean") - F.col("__mu"),
            F.col("__sd") / F.sqrt(F.col("n").cast("double")),
        ).alias("__z"),
    )
    pv = F.expr("1.0 - " + _erf_sql("abs(__z) / 1.4142135623730951"))
    scored = scored.withColumn(
        "__p", F.when(F.col("__z").isNotNull(), pv)
    )
    m = scored.agg(F.count(F.lit(1)).alias("__m"))
    w = Window.orderBy(
        F.asc_nulls_last("__p"), *[F.asc(k) for k in gkeys]
    )
    ranked = (
        scored.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(m))
        .withColumn(
            "bh_critical",
            F.col("rank").cast("double") / F.col("__m") * F.lit(q),
        )
    )
    kmax = ranked.agg(
        F.max(
            F.when(F.col("__p") <= F.col("bh_critical"), F.col("rank"))
        ).alias("__k")
    )
    out = ranked.crossJoin(F.broadcast(kmax)).select(
        *[
            F.col(k).alias(g)
            for k, g in zip(gkeys, [f"g{i}" for i in range(len(gkeys))])
        ],
        "n",
        F.round("mean", 6).alias("mean"),
        (F.round("__z", 6) + F.lit(0.0)).alias("z"),
        (F.round("__p", 6) + F.lit(0.0)).alias("p_value"),
        "rank",
        F.round("bh_critical", 6).alias("bh_critical"),
        F.coalesce(
            F.col("rank") <= F.col("__k"), F.lit(False)
        ).alias("rejected"),
    )
    return out.orderBy("rank")


def benjamini_hochberg_sql(
    table: str,
    group_exprs: list[str],
    value_expr: str,
    dialect: str,
    *,
    q: float = 0.05,
) -> str:
    """Dual-dialect twin of :func:`benjamini_hochberg` (identical text;
    STDDEV_SAMP/erf polynomial shared, NULLIF mirrors try_divide)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    v = f"CAST({value_expr} AS DOUBLE)"
    gsel = ", ".join(
        f"{g} AS g{i}" for i, g in enumerate(group_exprs)
    )
    gcols = ", ".join(f"g{i}" for i in range(len(group_exprs)))
    pv = "1.0 - " + _erf_sql("ABS(z_) / 1.4142135623730951")
    return f"""
WITH base AS (
  SELECT {gsel}, {v} AS v
  FROM {table}
  WHERE {v} IS NOT NULL
),
groups AS (
  SELECT {gcols}, COUNT(*) AS n, AVG(v) AS mean
  FROM base GROUP BY {gcols}
),
overall AS (
  SELECT AVG(v) AS mu, STDDEV_SAMP(v) AS sd FROM base
),
scored AS (
  SELECT {gcols}, n, mean,
         (mean - mu) / NULLIF(sd / SQRT(CAST(n AS DOUBLE)), 0.0) AS z_
  FROM groups CROSS JOIN overall
),
pvals AS (
  SELECT {gcols}, n, mean, z_,
         CASE WHEN z_ IS NOT NULL THEN {pv} END AS p_
  FROM scored
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY p_ ASC NULLS LAST, {gcols}) AS rank,
         CAST(ROW_NUMBER() OVER (ORDER BY p_ ASC NULLS LAST, {gcols})
              AS DOUBLE)
           / (SELECT COUNT(*) FROM pvals) * {q!r} AS bh_critical
  FROM pvals
),
kmax AS (
  SELECT MAX(CASE WHEN p_ <= bh_critical THEN rank END) AS k FROM ranked
)
SELECT {gcols}, n, ROUND(mean, 6) AS mean,
       ROUND(z_, 6) + 0.0 AS z,
       ROUND(p_, 6) + 0.0 AS p_value,
       rank, ROUND(bh_critical, 6) AS bh_critical,
       COALESCE(rank <= k, FALSE) AS rejected
FROM ranked CROSS JOIN kmax
ORDER BY rank
"""


def attribution_linear(
    df: DataFrame,
    touch_types: list[str],
    conversion_type: str,
    *,
    user_col: str = "user_id",
    time_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    lookback_s: int = 7 * 86400,
) -> DataFrame:
    """Linear multi-touch attribution — the marketing-science upgrade of
    :func:`operators.joins` as-of (last-touch) attribution: every touch
    event in the ``lookback_s`` window before a conversion shares the
    credit EQUALLY (1/k of the conversion and 1/k of its value), so
    channels that assist early stop being invisible. Returns one row
    per touch channel ordered (credited_conversions DESC, channel ASC):
    ``(channel, touches, credited_conversions, credited_value)``
    rounded 6. Conversions with zero in-window touches carry no credit
    (reported by the companion ``orphan`` share in the funnel ops).

    Scale shape: one user-keyed equi-join (touches x conversions of the
    SAME user; the time predicate prunes inside the join), one window
    partitioned by conversion id (per-conversion k, partition = one
    conversion's touch set — bounded by a user's activity, never
    corpus-sized), one channel hash agg. Time math on floored epoch
    seconds, the cross-engine pin.
    """
    ev = df.where(
        F.col(user_col).isNotNull() & F.col(time_col).isNotNull()
    )
    sec = F.unix_timestamp(F.col(time_col)).cast("double")
    touches = ev.where(F.col(type_col).isin(touch_types)).select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("__channel"),
        sec.alias("__tt"),
    )
    convs = ev.where(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("__u"),
        F.col("event_id").alias("__cid"),
        sec.alias("__ct"),
        F.col(value_col).cast("double").alias("__cv"),
    )
    joined = touches.join(convs, "__u").where(
        (F.col("__tt") <= F.col("__ct"))
        & (F.col("__tt") > F.col("__ct") - F.lit(float(lookback_s)))
    )
    k = F.count(F.lit(1)).over(Window.partitionBy("__cid"))
    credited = joined.select(
        "__channel",
        (F.lit(1.0) / k).alias("__credit"),
        (F.col("__cv") / k).alias("__vcredit"),
    )
    return (
        credited.groupBy(F.col("__channel").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("touches"),
            F.round(F.sum("__credit"), 6).alias("credited_conversions"),
            F.round(F.sum("__vcredit"), 6).alias("credited_value"),
        )
        .orderBy(F.desc("credited_conversions"), F.asc("channel"))
    )


def attribution_linear_sql(
    table: str,
    touch_types: list[str],
    conversion_type: str,
    dialect: str,
    *,
    user_col: str = "user_id",
    time_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    lookback_s: int = 7 * 86400,
) -> str:
    """Dual-dialect twin of :func:`attribution_linear` (floored epoch
    seconds pin the window arithmetic cross-engine)."""
    if dialect == "spark":
        sec = f"CAST(unix_timestamp({time_col}) AS DOUBLE)"
    elif dialect == "duckdb":
        sec = f"CAST(FLOOR(epoch({time_col})) AS DOUBLE)"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    tlist = ", ".join(f"'{t}'" for t in touch_types)
    return f"""
WITH ev AS (
  SELECT {user_col} AS u, {type_col} AS typ, event_id,
         {sec} AS sec, CAST({value_col} AS DOUBLE) AS val
  FROM {table}
  WHERE {user_col} IS NOT NULL AND {time_col} IS NOT NULL
),
touches AS (
  SELECT u, typ AS channel, sec AS tt FROM ev WHERE typ IN ({tlist})
),
convs AS (
  SELECT u, event_id AS cid, sec AS ct, val AS cv
  FROM ev WHERE typ = '{conversion_type}'
),
joined AS (
  SELECT t.channel, c.cid, c.cv
  FROM touches t JOIN convs c ON t.u = c.u
  WHERE t.tt <= c.ct AND t.tt > c.ct - {float(lookback_s)!r}
),
credited AS (
  SELECT channel,
         1.0 / COUNT(*) OVER (PARTITION BY cid) AS credit,
         cv / COUNT(*) OVER (PARTITION BY cid) AS vcredit
  FROM joined
)
SELECT channel, COUNT(*) AS touches,
       ROUND(SUM(credit), 6) AS credited_conversions,
       ROUND(SUM(vcredit), 6) AS credited_value
FROM credited
GROUP BY channel
ORDER BY credited_conversions DESC, channel ASC
"""


def bot_score(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    time_col: str = "ts",
    type_col: str = "event_type",
    min_events: int = 20,
    top_k: int = 20,
    rate_per_min: float = 1.0,
    cv_max: float = 0.4,
    type_ratio_max: float = 0.02,
) -> DataFrame:
    """Heuristic bot/crawler scoring over an event stream — the traffic
    hygiene gate a training-data pipeline runs before any engagement
    signal is trusted: per user (with >= ``min_events`` events) three
    classic automation tells, each worth one point — sustained REQUEST
    RATE above ``rate_per_min``/min across the active span, inter-event
    gaps too REGULAR (coefficient of variation below ``cv_max``; humans
    are bursty, cron is a metronome), and event-type DIVERSITY below
    ``type_ratio_max`` distinct-types-per-event. Returns the ``top_k``
    users ordered (score DESC, rate DESC, user ASC):
    ``(user_id, n_events, n_types, span_s, rate_per_min, gap_cv,
    type_ratio, score)`` rounded 6; single-gap users pin NULL gap_cv
    (no regularity evidence, flag not awarded).

    Scale shape: one user-partitioned window pass (lag gaps — partition
    = one user's events), one user hash agg on its output, the
    (user, type) distinct count via a two-level agg (never a
    countDistinct mixed into the metric agg — the Expand cliff), and a
    top-k sort over the USER frame.
    """
    ev = df.where(
        F.col(user_col).isNotNull() & F.col(time_col).isNotNull()
    )
    sec = F.unix_timestamp(F.col(time_col)).cast("double")
    wu = Window.partitionBy(user_col).orderBy(
        F.col(time_col).asc(), F.col("event_id").asc()
    )
    gaps = ev.select(
        F.col(user_col).alias("__u"),
        sec.alias("__s"),
        (sec - F.lag(sec).over(wu)).alias("__gap"),
    )
    users = gaps.groupBy("__u").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("__s") - F.min("__s")).alias("span_s"),
        F.avg("__gap").alias("__gmean"),
        F.stddev_samp("__gap").alias("__gsd"),
    )
    types = (
        ev.groupBy(F.col(user_col).alias("__u"), F.col(type_col))
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("__u")
        .agg(F.count(F.lit(1)).alias("n_types"))
    )
    feat = (
        users.join(types, "__u")
        .where(F.col("n_events") >= min_events)
        .select(
            "__u", "n_events", "n_types", "span_s",
            (
                F.col("n_events")
                / (F.col("span_s") / 60.0 + F.lit(1.0))
            ).alias("__rate"),
            F.try_divide(F.col("__gsd"), F.col("__gmean")).alias(
                "__cv"
            ),
            (
                F.col("n_types") / F.col("n_events").cast("double")
            ).alias("__tr"),
        )
    )
    score = (
        F.when(F.col("__rate") > rate_per_min, 1).otherwise(0)
        + F.when(F.col("__cv") < cv_max, 1).otherwise(0)
        + F.when(F.col("__tr") < type_ratio_max, 1).otherwise(0)
    )
    return (
        feat.select(
            F.col("__u").alias("user_id"),
            "n_events", "n_types",
            F.round("span_s", 6).alias("span_s"),
            F.round("__rate", 6).alias("rate_per_min"),
            (F.round("__cv", 6) + F.lit(0.0)).alias("gap_cv"),
            F.round("__tr", 6).alias("type_ratio"),
            score.cast("int").alias("score"),
        )
        .orderBy(
            F.desc("score"), F.desc("rate_per_min"), F.asc("user_id")
        )
        .limit(top_k)
    )


def bot_score_sql(
    table: str,
    dialect: str,
    *,
    user_col: str = "user_id",
    time_col: str = "ts",
    type_col: str = "event_type",
    min_events: int = 20,
    top_k: int = 20,
    rate_per_min: float = 1.0,
    cv_max: float = 0.4,
    type_ratio_max: float = 0.02,
) -> str:
    """Dual-dialect twin of :func:`bot_score` (floored epoch seconds,
    NULLIF mirrors try_divide; flag comparisons on UNROUNDED features,
    matching the DataFrame path)."""
    if dialect == "spark":
        sec = f"CAST(unix_timestamp({time_col}) AS DOUBLE)"
    elif dialect == "duckdb":
        sec = f"CAST(FLOOR(epoch({time_col})) AS DOUBLE)"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH gaps AS (
  SELECT {user_col} AS u, {sec} AS s,
         {sec} - LAG({sec}) OVER (
           PARTITION BY {user_col}
           ORDER BY {time_col} ASC, event_id ASC
         ) AS gap
  FROM {table}
  WHERE {user_col} IS NOT NULL AND {time_col} IS NOT NULL
),
users AS (
  SELECT u, COUNT(*) AS n_events, MAX(s) - MIN(s) AS span_s,
         AVG(gap) AS gmean, STDDEV_SAMP(gap) AS gsd
  FROM gaps GROUP BY 1
),
typ AS (
  SELECT u, COUNT(*) AS n_types
  FROM (
    SELECT {user_col} AS u, {type_col} AS t, COUNT(*) AS c
    FROM {table}
    WHERE {user_col} IS NOT NULL AND {time_col} IS NOT NULL
    GROUP BY 1, 2
  ) GROUP BY 1
),
feat AS (
  SELECT users.u, n_events, n_types, span_s,
         n_events / (span_s / 60.0 + 1.0) AS rate,
         gsd / NULLIF(gmean, 0.0) AS cv,
         n_types / CAST(n_events AS DOUBLE) AS tr
  FROM users JOIN typ ON users.u = typ.u
  WHERE n_events >= {min_events}
)
SELECT u AS user_id, n_events, n_types,
       ROUND(span_s, 6) AS span_s,
       ROUND(rate, 6) AS rate_per_min,
       ROUND(cv, 6) + 0.0 AS gap_cv,
       ROUND(tr, 6) AS type_ratio,
       CAST((CASE WHEN rate > {rate_per_min!r} THEN 1 ELSE 0 END)
          + (CASE WHEN cv < {cv_max!r} THEN 1 ELSE 0 END)
          + (CASE WHEN tr < {type_ratio_max!r} THEN 1 ELSE 0 END)
         AS INT) AS score
FROM feat
ORDER BY score DESC, rate_per_min DESC, user_id ASC
LIMIT {top_k}
"""


def attribution_position(
    df: DataFrame,
    touch_types: list[str],
    conversion_type: str,
    *,
    user_col: str = "user_id",
    time_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    lookback_s: int = 7 * 86400,
    first_w: float = 0.4,
    last_w: float = 0.4,
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution — the
    first/last-heavy credit split marketers actually deploy:
    the FIRST in-window touch earns ``first_w``, the LAST earns
    ``last_w``, middles share the remainder equally; a single touch
    takes 1.0, a pair splits 0.5/0.5. Same join/window skeleton as
    :func:`attribution_linear`; only the credit expression changes.
    Returns one row per channel ordered (credited_conversions DESC,
    channel ASC): ``(channel, touches, credited_conversions,
    credited_value)`` rounded 6.

    Scale shape: one user-keyed equi-join, TWO window functions over
    the SAME per-conversion partition (position + count — one
    exchange, Spark fuses same-partitioning windows), one channel
    hash agg.
    """
    if first_w < 0 or last_w < 0 or first_w + last_w > 1:
        raise ValueError(
            "require 0 <= first_w, 0 <= last_w and first_w + last_w"
            " <= 1 (middle-touch credit would go negative otherwise)"
        )
    ev = df.where(
        F.col(user_col).isNotNull() & F.col(time_col).isNotNull()
    )
    sec = F.unix_timestamp(F.col(time_col)).cast("double")
    touches = ev.where(F.col(type_col).isin(touch_types)).select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("__channel"),
        F.col("event_id").alias("__tid"),
        sec.alias("__tt"),
    )
    convs = ev.where(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("__u"),
        F.col("event_id").alias("__cid"),
        sec.alias("__ct"),
        F.col(value_col).cast("double").alias("__cv"),
    )
    joined = touches.join(convs, "__u").where(
        (F.col("__tt") <= F.col("__ct"))
        & (F.col("__tt") > F.col("__ct") - F.lit(float(lookback_s)))
    )
    wp = Window.partitionBy("__cid").orderBy(
        F.col("__tt").asc(), F.col("__tid").asc()
    )
    wk = Window.partitionBy("__cid")
    pos = F.row_number().over(wp)
    k = F.count(F.lit(1)).over(wk)
    mid_w = 1.0 - first_w - last_w
    credit = (
        F.when(k == 1, F.lit(1.0))
        .when(pos == 1, F.when(k == 2, F.lit(0.5)).otherwise(first_w))
        .when(pos == k, F.when(k == 2, F.lit(0.5)).otherwise(last_w))
        .otherwise(F.lit(mid_w) / (k - 2))
    )
    credited = joined.select(
        "__channel",
        credit.alias("__credit"),
        (F.col("__cv") * credit).alias("__vcredit"),
    )
    return (
        credited.groupBy(F.col("__channel").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("touches"),
            F.round(F.sum("__credit"), 6).alias("credited_conversions"),
            F.round(F.sum("__vcredit"), 6).alias("credited_value"),
        )
        .orderBy(F.desc("credited_conversions"), F.asc("channel"))
    )


def attribution_position_sql(
    table: str,
    touch_types: list[str],
    conversion_type: str,
    dialect: str,
    *,
    user_col: str = "user_id",
    time_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    lookback_s: int = 7 * 86400,
    first_w: float = 0.4,
    last_w: float = 0.4,
) -> str:
    """Dual-dialect twin of :func:`attribution_position`."""
    if first_w < 0 or last_w < 0 or first_w + last_w > 1:
        raise ValueError(
            "require 0 <= first_w, 0 <= last_w and first_w + last_w"
            " <= 1 (middle-touch credit would go negative otherwise)"
        )
    if dialect == "spark":
        sec = f"CAST(unix_timestamp({time_col}) AS DOUBLE)"
    elif dialect == "duckdb":
        sec = f"CAST(FLOOR(epoch({time_col})) AS DOUBLE)"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    tlist = ", ".join(f"'{t}'" for t in touch_types)
    mid_w = 1.0 - first_w - last_w
    return f"""
WITH ev AS (
  SELECT {user_col} AS u, {type_col} AS typ, event_id,
         {sec} AS sec, CAST({value_col} AS DOUBLE) AS val
  FROM {table}
  WHERE {user_col} IS NOT NULL AND {time_col} IS NOT NULL
),
touches AS (
  SELECT u, typ AS channel, event_id AS tid, sec AS tt
  FROM ev WHERE typ IN ({tlist})
),
convs AS (
  SELECT u, event_id AS cid, sec AS ct, val AS cv
  FROM ev WHERE typ = '{conversion_type}'
),
joined AS (
  SELECT t.channel, t.tid, t.tt, c.cid, c.cv
  FROM touches t JOIN convs c ON t.u = c.u
  WHERE t.tt <= c.ct AND t.tt > c.ct - {float(lookback_s)!r}
),
pos AS (
  SELECT channel, cv,
         ROW_NUMBER() OVER (
           PARTITION BY cid ORDER BY tt ASC, tid ASC
         ) AS p,
         COUNT(*) OVER (PARTITION BY cid) AS k
  FROM joined
),
credited AS (
  SELECT channel, cv,
         CASE WHEN k = 1 THEN 1.0
              WHEN p = 1 THEN CASE WHEN k = 2 THEN 0.5
                                   ELSE {first_w!r} END
              WHEN p = k THEN CASE WHEN k = 2 THEN 0.5
                                   ELSE {last_w!r} END
              ELSE {mid_w!r} / (k - 2) END AS credit
  FROM pos
)
SELECT channel, COUNT(*) AS touches,
       ROUND(SUM(credit), 6) AS credited_conversions,
       ROUND(SUM(cv * credit), 6) AS credited_value
FROM credited
GROUP BY channel
ORDER BY credited_conversions DESC, channel ASC
"""


def join_skew_probe(
    left: DataFrame,
    left_key: str,
    right: DataFrame,
    right_key: str,
    *,
    top: int = 10,
) -> DataFrame:
    """Join blow-up pre-flight — :func:`skew_report`'s two-sided
    sibling: per join key the OUTPUT contribution is ``n_left *
    n_right``, and one hot key on both sides quietly turns a join into
    a cartesian hotspot no AQE split saves (AQE splits a skewed
    PARTITION; a single key's pair explosion is irreducible without
    salting or pre-aggregation). Reports the ``top`` keys by estimated
    pairs with each side's count, the key's share of total join
    output, and the total repeated per row. Returns
    ``(key, n_left, n_right, pairs, pair_share, total_pairs)``.

    Scale shape: one key-count agg per side (map-combinable), an
    equi-join of the two KEY frames (key-cardinality-sized), one 1-row
    total broadcast back, top-k. The raw tables are scanned once each;
    no row-level join ever runs.
    """
    lc = (
        left.groupBy(
            F.coalesce(
                F.col(left_key).cast("string"), F.lit("<null>")
            ).alias("key")
        )
        .agg(F.count(F.lit(1)).alias("n_left"))
    )
    rc = (
        right.groupBy(
            F.coalesce(
                F.col(right_key).cast("string"), F.lit("<null>")
            ).alias("key")
        )
        .agg(F.count(F.lit(1)).alias("n_right"))
    )
    pairs = lc.join(rc, "key").select(
        "key", "n_left", "n_right",
        (F.col("n_left") * F.col("n_right")).alias("pairs"),
    )
    tot = pairs.agg(F.sum("pairs").alias("total_pairs"))
    return (
        pairs.crossJoin(F.broadcast(tot))
        .select(
            "key", "n_left", "n_right", "pairs",
            F.round(
                F.try_divide(
                    F.col("pairs").cast("double"), F.col("total_pairs")
                ),
                6,
            ).alias("pair_share"),
            "total_pairs",
        )
        .orderBy(F.desc("pairs"), F.asc("key"))
        .limit(top)
    )


def join_skew_probe_sql(
    left_table: str,
    left_key: str,
    right_table: str,
    right_key: str,
    dialect: str,
    *,
    top: int = 10,
) -> str:
    """Dual-dialect twin of :func:`join_skew_probe` (identical text)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH lc AS (
  SELECT COALESCE(CAST({left_key} AS STRING), '<null>') AS key,
         COUNT(*) AS n_left
  FROM {left_table} GROUP BY 1
),
rc AS (
  SELECT COALESCE(CAST({right_key} AS STRING), '<null>') AS key,
         COUNT(*) AS n_right
  FROM {right_table} GROUP BY 1
),
pairs AS (
  SELECT lc.key, n_left, n_right, n_left * n_right AS pairs
  FROM lc JOIN rc ON lc.key = rc.key
),
tot AS (SELECT CAST(SUM(pairs) AS BIGINT) AS total_pairs FROM pairs)
SELECT key, n_left, n_right, pairs,
       ROUND(CAST(pairs AS DOUBLE) / NULLIF(total_pairs, 0), 6)
         AS pair_share,
       total_pairs
FROM pairs CROSS JOIN tot
ORDER BY pairs DESC, key ASC
LIMIT {top}
"""


def logrank_test(
    df: DataFrame,
    group_filter: Column,
    *,
    user_col: str = "user_id",
    time_col: str = "ts",
    churn_gap_days: int = 7,
) -> DataFrame:
    """Log-rank (Mantel-Cox) test comparing the survival curves of two
    user cohorts — the inferential companion to :func:`kaplan_meier`
    ("do these retention curves actually differ"): lifetimes and
    censoring exactly as kaplan_meier (whole-day durations, churned
    when last activity sits more than ``churn_gap_days`` before the
    observation end); cohort A is every user with at least one event
    matching ``group_filter``. At each distinct churn time the observed
    cohort-A deaths are compared against the hypergeometric expectation
    ``E1j = d_j n1j / n_j`` with variance ``V1j = d_j (n1j/n_j)
    (1 - n1j/n_j) (n_j - d_j) / (n_j - 1)``; ``chi2 = (O1 - E1)^2 / V``
    with the two-sided normal p via the shared A&S erf polynomial.
    Returns ONE row ``(n_a, n_b, churned_a, churned_b, observed_a,
    expected_a, chi2, p_value)`` rounded 6; a zero-variance design
    (one cohort empty, or no churn events) pins NULL chi2/p.

    Scale shape: one user-keyed hash agg (lifetime + cohort flag), a
    1-row broadcast (observation end), one duration-keyed agg, then
    suffix-sum windows over the DURATION frame — bounded by the time
    range in days, the kaplan_meier cost class, never user count.
    """
    ev = df.where(
        F.col(user_col).isNotNull() & F.col(time_col).isNotNull()
    )
    lives = ev.groupBy(user_col).agg(
        F.min(time_col).alias("__first"),
        F.max(time_col).alias("__last"),
        F.max(F.when(group_filter, 1).otherwise(0)).alias("__a"),
    )
    end = ev.agg(F.max(time_col).alias("__end"))
    per_user = lives.crossJoin(F.broadcast(end)).select(
        F.datediff(F.col("__last"), F.col("__first")).alias("duration"),
        (
            F.datediff(F.col("__end"), F.col("__last"))
            > F.lit(int(churn_gap_days))
        ).cast("int").alias("churned"),
        F.col("__a"),
    )
    buckets = per_user.groupBy("duration").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("__a").alias("n1_total"),
        F.sum("churned").alias("d"),
        F.sum(F.col("churned") * F.col("__a")).alias("d1"),
    )
    wsuf = Window.orderBy("duration").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    risk = buckets.select(
        "duration", "d", "d1",
        F.sum("n_total").over(wsuf).alias("__nj"),
        F.sum("n1_total").over(wsuf).alias("__n1j"),
    ).where(F.col("d") >= 1)
    nj = F.col("__nj").cast("double")
    n1j = F.col("__n1j").cast("double")
    dj = F.col("d").cast("double")
    e1 = dj * n1j / nj
    v1 = F.when(
        F.col("__nj") > 1,
        dj * (n1j / nj) * (1.0 - n1j / nj)
        * (nj - dj) / (nj - 1.0),
    ).otherwise(F.lit(0.0))
    folded = risk.agg(
        F.sum("d1").alias("__o1"),
        F.sum(e1).alias("__e1"),
        F.sum(v1).alias("__v"),
    )
    totals = per_user.agg(
        F.sum("__a").alias("__na"),
        F.sum(1 - F.col("__a")).alias("__nb"),
        F.sum(F.col("churned") * F.col("__a")).alias("__ca"),
        F.sum(F.col("churned") * (1 - F.col("__a"))).alias("__cb"),
    )
    one = folded.crossJoin(F.broadcast(totals))
    chi2 = F.try_divide(
        (F.col("__o1") - F.col("__e1"))
        * (F.col("__o1") - F.col("__e1")),
        F.nullif(F.col("__v"), F.lit(0.0)),
    )
    z = F.sqrt(chi2)
    pv = F.expr(
        "1.0 - " + _erf_sql("__z / 1.4142135623730951")
    )
    return (
        one.select(
            F.col("__na").cast("bigint").alias("n_a"),
            F.col("__nb").cast("bigint").alias("n_b"),
            F.col("__ca").cast("bigint").alias("churned_a"),
            F.col("__cb").cast("bigint").alias("churned_b"),
            F.col("__o1").cast("bigint").alias("observed_a"),
            F.round("__e1", 6).alias("expected_a"),
            (F.round(chi2, 6) + F.lit(0.0)).alias("chi2"),
            z.alias("__z"),
        )
        .select(
            "n_a", "n_b", "churned_a", "churned_b", "observed_a",
            "expected_a", "chi2",
            (F.round(F.when(F.col("__z").isNotNull(), pv), 6)
             + F.lit(0.0)).alias("p_value"),
        )
    )


def logrank_test_sql(
    table: str,
    group_filter: str,
    dialect: str,
    *,
    user_col: str = "user_id",
    time_col: str = "ts",
    churn_gap_days: int = 7,
) -> str:
    """Dual-dialect twin of :func:`logrank_test` (datediff vs
    date_diff('day') is the one split; NULLIF mirrors try_divide)."""
    if dialect == "spark":
        dd = lambda a, b: f"datediff({a}, {b})"  # noqa: E731
    elif dialect == "duckdb":
        dd = lambda a, b: (  # noqa: E731
            f"date_diff('day', CAST({b} AS DATE), CAST({a} AS DATE))"
        )
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    pv = "1.0 - " + _erf_sql("SQRT(chi2_) / 1.4142135623730951")
    return f"""
WITH lives AS (
  SELECT {user_col} AS u, MIN({time_col}) AS f, MAX({time_col}) AS l,
         MAX(CASE WHEN {group_filter} THEN 1 ELSE 0 END) AS a
  FROM {table}
  WHERE {user_col} IS NOT NULL AND {time_col} IS NOT NULL
  GROUP BY 1
),
obs_end AS (
  SELECT MAX({time_col}) AS e FROM {table}
  WHERE {user_col} IS NOT NULL AND {time_col} IS NOT NULL
),
per_user AS (
  SELECT {dd('l', 'f')} AS duration,
         CASE WHEN {dd('e', 'l')} > {int(churn_gap_days)}
              THEN 1 ELSE 0 END AS churned,
         a
  FROM lives CROSS JOIN obs_end
),
buckets AS (
  SELECT duration, COUNT(*) AS n_total, SUM(a) AS n1_total,
         SUM(churned) AS d, SUM(churned * a) AS d1
  FROM per_user GROUP BY 1
),
risk AS (
  SELECT duration, d, d1,
         SUM(n_total) OVER (
           ORDER BY duration
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
         ) AS nj,
         SUM(n1_total) OVER (
           ORDER BY duration
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
         ) AS n1j
  FROM buckets
),
folded AS (
  SELECT SUM(d1) AS o1,
         SUM(CAST(d AS DOUBLE) * n1j / nj) AS e1,
         SUM(CASE WHEN nj > 1
                  THEN CAST(d AS DOUBLE) * (CAST(n1j AS DOUBLE) / nj)
                       * (1.0 - CAST(n1j AS DOUBLE) / nj)
                       * (nj - d) / (nj - 1.0)
                  ELSE 0.0 END) AS v
  FROM risk WHERE d >= 1
),
totals AS (
  SELECT SUM(a) AS na, SUM(1 - a) AS nb,
         SUM(churned * a) AS ca, SUM(churned * (1 - a)) AS cb
  FROM per_user
),
scored AS (
  SELECT na, nb, ca, cb, o1, e1,
         (o1 - e1) * (o1 - e1) / NULLIF(v, 0.0) AS chi2_
  FROM folded CROSS JOIN totals
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(ca AS BIGINT) AS churned_a, CAST(cb AS BIGINT) AS churned_b,
       CAST(o1 AS BIGINT) AS observed_a,
       ROUND(e1, 6) AS expected_a,
       ROUND(chi2_, 6) + 0.0 AS chi2,
       ROUND(CASE WHEN chi2_ IS NOT NULL THEN {pv} END, 6) + 0.0
         AS p_value
FROM scored
"""


def ltv_cohorts(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    period: str = "week",
    max_offset: int = 8,
) -> DataFrame:
    """Cohort lifetime-value curve — :func:`cohort_retention`'s revenue
    sibling: users grouped by first-seen ``period``, their value summed
    per (cohort, offset) and ACCUMULATED along the offset axis, per-user
    normalized — "how much is a week-N signup worth by week N+k", the
    payback-window question retention percentages can't answer. Returns
    ``(cohort, period_offset, revenue, cum_revenue, cohort_users, ltv)``
    ordered (cohort, offset); revenue/ltv rounded 6.

    Scale shape: one user-keyed agg (first-seen), one user-keyed join
    back (same shuffle key, AQE reuses the exchange), one (cohort,
    offset) agg, a cohort-sized size frame broadcast back, and the
    cumulative sum windows PARTITIONED BY COHORT over the matrix frame
    (bounded by time-range x max_offset, never user count).
    """
    ev = df.where(
        F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    )
    first_seen = ev.groupBy(user_col).agg(
        F.date_trunc(period, F.min(ts_col)).alias("cohort")
    )
    diff_expr = {
        "week": (
            F.datediff(
                F.date_trunc(period, F.col(ts_col)), F.col("cohort")
            )
            / 7
        ),
        "day": F.datediff(
            F.date_trunc(period, F.col(ts_col)), F.col("cohort")
        ),
        "month": F.months_between(
            F.date_trunc(period, F.col(ts_col)), F.col("cohort")
        ),
    }[period]
    joined = (
        ev.select(user_col, ts_col, value_col)
        .join(first_seen, user_col)
        .withColumn("period_offset", diff_expr.cast("int"))
        .where(
            (F.col("period_offset") >= 0)
            & (F.col("period_offset") <= max_offset)
        )
    )
    matrix = joined.groupBy("cohort", "period_offset").agg(
        F.sum(value_col).alias("__rev")
    )
    sizes = first_seen.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    wc = (
        Window.partitionBy("cohort")
        .orderBy("period_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        matrix.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort", "period_offset",
            F.round("__rev", 6).alias("revenue"),
            F.round(F.sum("__rev").over(wc), 6).alias("cum_revenue"),
            "cohort_users",
            F.round(
                F.sum("__rev").over(wc) / F.col("cohort_users"), 6
            ).alias("ltv"),
        )
        .orderBy("cohort", "period_offset")
    )


def ltv_cohorts_sql(
    table: str,
    dialect: str,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    period: str = "week",
    max_offset: int = 8,
) -> str:
    """Dual-dialect twin of :func:`ltv_cohorts`. date_trunc('week')
    agrees on Monday starts across both engines; the offset arithmetic
    is day-difference based (the cohort_retention pin)."""
    if dialect == "spark":
        trunc = lambda c: f"date_trunc('{period}', {c})"  # noqa: E731
        dd = lambda a, b: f"datediff({a}, {b})"  # noqa: E731
    elif dialect == "duckdb":
        trunc = lambda c: (  # noqa: E731
            f"CAST(date_trunc('{period}', {c}) AS TIMESTAMP)"
        )
        dd = lambda a, b: (  # noqa: E731
            f"date_diff('day', CAST({b} AS DATE), CAST({a} AS DATE))"
        )
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    if period == "week":
        off = f"CAST({dd(trunc(ts_col), 'f.cohort')} / 7 AS INT)"
    elif period == "day":
        off = f"CAST({dd(trunc(ts_col), 'f.cohort')} AS INT)"
    else:
        raise ValueError("sql twin supports week/day periods")
    return f"""
WITH ev AS (
  SELECT {user_col} AS u, {ts_col}, CAST({value_col} AS DOUBLE) AS v
  FROM {table}
  WHERE {user_col} IS NOT NULL AND {ts_col} IS NOT NULL
    AND {value_col} IS NOT NULL
),
first_seen AS (
  SELECT u, {trunc(f'MIN({ts_col})')} AS cohort FROM ev GROUP BY 1
),
joined AS (
  SELECT f.cohort, {off} AS period_offset, ev.v
  FROM ev JOIN first_seen f ON ev.u = f.u
),
matrix AS (
  SELECT cohort, period_offset, SUM(v) AS rev
  FROM joined
  WHERE period_offset >= 0 AND period_offset <= {max_offset}
  GROUP BY 1, 2
),
sizes AS (SELECT cohort, COUNT(*) AS cohort_users FROM first_seen GROUP BY 1)
SELECT m.cohort, m.period_offset,
       ROUND(m.rev, 6) AS revenue,
       ROUND(SUM(m.rev) OVER (
         PARTITION BY m.cohort ORDER BY m.period_offset
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 6) AS cum_revenue,
       s.cohort_users,
       ROUND(SUM(m.rev) OVER (
         PARTITION BY m.cohort ORDER BY m.period_offset
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) / s.cohort_users, 6) AS ltv
FROM matrix m JOIN sizes s ON m.cohort = s.cohort
ORDER BY m.cohort, m.period_offset
"""


def kruskal_wallis(
    df: DataFrame,
    field: str,
    group_col: str,
) -> DataFrame:
    """Kruskal-Wallis H test — :func:`mann_whitney` generalized to k
    groups (the nonparametric :func:`anova_f`; the robust choice when
    per-source metric distributions are skewed): ``H = 12/(N(N+1))
    sum R_g^2/n_g - 3(N+1)`` over exact midranks, with the standard tie
    correction ``H_c = H / (1 - sum(t^3 - t)/(N^3 - N))``. Like anova_f
    the statistic triple is reported and the chi2(k-1) CDF left to the
    caller (no portable chi2 CDF — the anova_f convention). All-tied
    input (every value identical) pins NULL h_corrected via the zero
    correction denominator. Returns ONE row
    ``(k, n, dof, h, h_corrected)`` rounded 6.

    Scale shape: the mann_whitney midrank discipline — ONE
    (value, group) hash agg, a value-keyed roll-up, a SCALABLE prefix
    sum over the value frame (:func:`ordering.prefix_sums` — never an
    unpartitioned corpus-sized window), one value-keyed join back
    (both sides share the value exchange), one group agg
    (group-cardinality-sized), one 1-row fold.
    """
    from harmonize_search_analyze_spark.operators.ordering import (
        prefix_sums,
    )

    v = F.expr(field).cast("double")
    pairs = (
        df.where(v.isNotNull() & F.col(group_col).isNotNull())
        .groupBy(v.alias("__v"), F.col(group_col).alias("__g"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    vals = pairs.groupBy("__v").agg(F.sum("__c").alias("__t"))
    ranked = prefix_sums(vals, ["__v"], {"__t": "__cum"}).select(
        "__v",
        (
            F.col("__cum") - F.col("__t") + (F.col("__t") + 1) / 2.0
        ).alias("__midrank"),
        "__t",
    )
    groups = (
        pairs.join(ranked.select("__v", "__midrank"), "__v")
        .groupBy("__g")
        .agg(
            F.sum("__c").alias("__ng"),
            F.sum(F.col("__c") * F.col("__midrank")).alias("__rg"),
        )
    )
    ties = ranked.agg(
        F.sum(
            F.col("__t").cast("double") * F.col("__t") * F.col("__t")
            - F.col("__t")
        ).alias("__ties")
    )
    agg = groups.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum("__ng").alias("__n"),
        F.sum(
            F.col("__rg") * F.col("__rg") / F.col("__ng")
        ).alias("__rr"),
    ).crossJoin(F.broadcast(ties))
    n = F.col("__n").cast("double")
    h = 12.0 / (n * (n + 1.0)) * F.col("__rr") - 3.0 * (n + 1.0)
    corr = 1.0 - F.try_divide(
        F.col("__ties"), n * n * n - n
    )
    hc = F.try_divide(h, F.nullif(corr, F.lit(0.0)))
    return agg.select(
        F.col("__k").cast("bigint").alias("k"),
        F.col("__n").cast("bigint").alias("n"),
        (F.col("__k") - 1).cast("bigint").alias("dof"),
        (F.round(h, 6) + F.lit(0.0)).alias("h"),
        (F.round(hc, 6) + F.lit(0.0)).alias("h_corrected"),
    )


def kruskal_wallis_sql(
    table: str,
    field: str,
    group_expr: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`kruskal_wallis` (the oracle may use
    a plain cumulative window — oracle scale is sf0.01; the engine path
    uses the distributed prefix sum)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    v = f"CAST({field} AS DOUBLE)"
    return f"""
WITH pairs AS (
  SELECT {v} AS v, {group_expr} AS g, COUNT(*) AS c
  FROM {table}
  WHERE {v} IS NOT NULL AND {group_expr} IS NOT NULL
  GROUP BY 1, 2
),
vals AS (SELECT v, SUM(c) AS t FROM pairs GROUP BY 1),
ranked AS (
  SELECT v,
         SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW)
           - t + (t + 1) / 2.0 AS midrank,
         t
  FROM vals
),
groups AS (
  SELECT pairs.g, SUM(pairs.c) AS ng,
         SUM(pairs.c * ranked.midrank) AS rg
  FROM pairs JOIN ranked ON pairs.v = ranked.v
  GROUP BY 1
),
ties AS (
  SELECT SUM(CAST(t AS DOUBLE) * t * t - t) AS tt FROM ranked
),
agg AS (
  SELECT COUNT(*) AS k, SUM(ng) AS n, SUM(rg * rg / ng) AS rr
  FROM groups
),
s AS (
  SELECT k, n, CAST(n AS DOUBLE) AS nd, rr, tt
  FROM agg CROSS JOIN ties
)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
       CAST(k - 1 AS BIGINT) AS dof,
       ROUND(12.0 / (nd * (nd + 1.0)) * rr - 3.0 * (nd + 1.0), 6)
         + 0.0 AS h,
       ROUND((12.0 / (nd * (nd + 1.0)) * rr - 3.0 * (nd + 1.0))
             / NULLIF(1.0 - tt / (nd * nd * nd - nd), 0.0), 6)
         + 0.0 AS h_corrected
FROM s
"""


def krippendorff_alpha(
    df: DataFrame,
    unit_expr: str,
    value_expr: str,
) -> DataFrame:
    """Krippendorff's alpha (nominal metric) — the agreement coefficient
    built for the MISSING-DATA regime :func:`fleiss_kappa` can't handle:
    annotation pipelines where every unit is rated by a different,
    arbitrary subset of raters (crowdsourced labels, cross-source
    duplicate clusters of uneven size). It corrects chance agreement
    from the coincidence matrix over PAIRABLE values only, so units
    with one rating contribute nothing instead of biasing the marginals
    (Krippendorff 2004, "Content Analysis", ch. 11).

    Per unit u with ``n_u >= 2`` pairable values and per-value counts
    ``n_uc``: observed disagreement ``D_o = (1/n) * sum_u (n_u^2 -
    sum_c n_uc^2) / (n_u - 1)``; expected ``D_e = (n^2 - sum_c n_c^2)
    / (n * (n - 1))`` with ``n_c`` the pooled pairable value counts;
    ``alpha = 1 - D_o / D_e``. Returns ONE row ``(n_units, n_ratings,
    n_values, d_o, d_e, alpha)`` rounded 6; a single pooled value pins
    NULL alpha (``D_e = 0`` — agreement is vacuous), matching the
    :func:`fleiss_kappa` convention. Squared counts are accumulated in
    DOUBLE on both engines: at corpus scale ``n_ratings^2`` and the
    value-marginal squares overflow BIGINT long before they stop being
    exactly representable in a double (counts < 2^26 square exactly;
    beyond that the 6-decimal rounding absorbs the ulp).

    Scale shape: one (unit, value) hash agg, one unit-keyed agg on that
    frame (same key prefix — AQE keeps it co-partitioned), one
    value-sized marginal agg behind a pairable-unit join, then 1-row
    broadcasts; raw rows are scanned once. The reference has no
    agreement statistics at all (its dictionary profiler stops at
    count/distinct/mean/stddev, harmonizeCrimeIncidents.py:337-406) —
    this extends the same schema-as-data QA idea to labeled corpora.
    """
    counts = (
        df.select(
            F.expr(unit_expr).alias("__u"),
            F.expr(value_expr).alias("__v"),
        )
        .where(F.col("__u").isNotNull() & F.col("__v").isNotNull())
        .groupBy("__u", "__v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    units = (
        counts.groupBy("__u")
        .agg(
            F.sum("c").alias("nu"),
            F.sum(F.col("c").cast("double") * F.col("c")).alias("ss"),
        )
        .where(F.col("nu") >= 2)
    )
    do_num = units.agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum("nu").alias("n"),
        F.sum(
            (F.col("nu").cast("double") * F.col("nu") - F.col("ss"))
            / (F.col("nu") - F.lit(1))
        ).alias("dnum"),
    )
    marg = (
        counts.join(units.select("__u"), "__u")
        .groupBy("__v")
        .agg(F.sum("c").alias("nc"))
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum(F.col("nc").cast("double") * F.col("nc")).alias("snc2"),
        )
    )
    one = do_num.crossJoin(F.broadcast(marg))
    d_o = F.try_divide(F.col("dnum"), F.col("n").cast("double"))
    d_e = F.try_divide(
        F.col("n").cast("double") * F.col("n") - F.col("snc2"),
        F.col("n").cast("double") * (F.col("n") - F.lit(1)),
    )
    alpha = F.lit(1.0) - F.try_divide(d_o, d_e)
    return one.select(
        F.col("n_units").cast("bigint").alias("n_units"),
        F.col("n").cast("bigint").alias("n_ratings"),
        F.col("n_values").cast("bigint").alias("n_values"),
        (F.round(d_o, 6) + F.lit(0.0)).alias("d_o"),
        (F.round(d_e, 6) + F.lit(0.0)).alias("d_e"),
        (F.round(alpha, 6) + F.lit(0.0)).alias("alpha"),
    )


def krippendorff_alpha_sql(
    table: str,
    unit_expr: str,
    value_expr: str,
    dialect: str,
) -> str:
    """Dual-dialect twin of :func:`krippendorff_alpha` (identical text).

    ``try_divide``-style zero/NULL protection is spelled NULLIF here;
    ``D_e = 0`` (single pooled value) and ``n <= 1`` both pin NULL
    alpha on both engines."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH counts AS (
  SELECT {unit_expr} AS u, {value_expr} AS v, COUNT(*) AS c
  FROM {table}
  WHERE {unit_expr} IS NOT NULL AND {value_expr} IS NOT NULL
  GROUP BY 1, 2
),
units AS (
  SELECT u, SUM(c) AS nu, SUM(CAST(c AS DOUBLE) * c) AS ss
  FROM counts GROUP BY 1
  HAVING SUM(c) >= 2
),
donum AS (
  SELECT COUNT(*) AS n_units, SUM(nu) AS n,
         SUM((CAST(nu AS DOUBLE) * nu - ss) / (nu - 1)) AS dnum
  FROM units
),
marg AS (
  SELECT COUNT(*) AS n_values, SUM(CAST(nc AS DOUBLE) * nc) AS snc2
  FROM (
    SELECT counts.v, SUM(c) AS nc
    FROM counts JOIN units ON counts.u = units.u
    GROUP BY 1
  ) m
)
SELECT CAST(n_units AS BIGINT) AS n_units,
       CAST(n AS BIGINT) AS n_ratings,
       CAST(n_values AS BIGINT) AS n_values,
       ROUND(dnum / NULLIF(CAST(n AS DOUBLE), 0.0), 6) + 0.0 AS d_o,
       ROUND((CAST(n AS DOUBLE) * n - snc2)
             / NULLIF(CAST(n AS DOUBLE) * (n - 1), 0.0), 6) + 0.0 AS d_e,
       ROUND(1.0 - (dnum / NULLIF(CAST(n AS DOUBLE), 0.0))
             / NULLIF((CAST(n AS DOUBLE) * n - snc2)
                      / NULLIF(CAST(n AS DOUBLE) * (n - 1), 0.0), 0.0),
             6) + 0.0 AS alpha
FROM donum CROSS JOIN marg
"""
