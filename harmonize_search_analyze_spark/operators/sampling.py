"""Deterministic sampling operators: hash sampling and stratified sampling.

Two consumers, one mechanism:

- **ES surface**: the ``random_sampler`` agg (probability-based doc sample)
  and ``diversified_sampler`` (at most ``max_docs_per_value`` docs per value
  of a field) map to ``hash_sample`` and ``stratified_sample`` respectively.
- **Training-data pipelines**: reproducible corpus subsampling ("2% of
  CommonCrawl", "at most N docs per domain/language") must be DETERMINISTIC
  — a re-run, a different executor count, or a retried task must select the
  same rows. ``df.sample()`` is seeded per-partition and changes with the
  partition layout; hashing the row key does not.

Mechanism: a portable 60-bit hash (functions/hashing.py — identical text on
Spark and DuckDB, so every sample is oracle-checkable) of ``seed:key``.

Scale shape:

- ``hash_sample`` is a map-only filter — no shuffle, fully pushed into the
  scan's residual filter; throughput is scan-bound at any data size.
- ``stratified_sample`` is ONE shuffle on the strata columns + a per-stratum
  rank. A dominant stratum serializes into one task (Spark windows don't do
  partial top-N); for skewed strata either pre-filter with ``hash_sample``
  at a fraction that overshoots ``n_per_stratum`` (two-phase: cheap
  hash-threshold cut, then exact rank on the survivors) or salt the stratum
  and take the union of per-salt ranks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from harmonize_search_analyze_spark.functions.caching import checkpoint
from harmonize_search_analyze_spark.functions.hashing import hash64_sql

HASH_BUCKETS = 1_000_000


def _sql_str(s: str, dialect: str) -> str:
    """Quote a Python string as a SQL literal for the given dialect, so a
    source name like ``O'Reilly`` can't break (or inject into) generated
    dual-dialect text. Spark's parser uses backslash escapes; DuckDB
    doubles the quote."""
    if dialect == "spark":
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return "'" + s.replace("'", "''") + "'"


def sample_hash_sql(key: str, dialect: str, *, seed: int = 42) -> str:
    """Portable per-row sampling hash in [0, HASH_BUCKETS): hash of
    ``'{seed}:' || key`` — same text both engines modulo the string cast."""
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    keyed = f"('{seed}:' || CAST({key} AS {cast}))"
    return f"({hash64_sql(keyed, dialect)} % {HASH_BUCKETS})"


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, *, seed: int = 42
) -> DataFrame:
    """Deterministic ~``fraction`` sample: keep rows whose sampling hash
    falls under ``fraction * HASH_BUCKETS``. Same rows on every run, any
    partitioning, any engine."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    threshold = int(fraction * HASH_BUCKETS)
    h = F.expr(sample_hash_sql(key_col, "spark", seed=seed))
    return df.where(h < F.lit(threshold))


def stratified_sample(
    df: DataFrame,
    strata: list[str],
    n_per_stratum: int,
    key_col: str,
    *,
    seed: int = 42,
) -> DataFrame:
    """At most ``n_per_stratum`` rows per distinct strata combination,
    chosen by sampling-hash order (ties broken by key) — the deterministic
    form of ES ``diversified_sampler`` and the "N docs per language/domain"
    curation step. One shuffle on the strata; see module docstring for the
    skewed-stratum escape hatches."""
    if n_per_stratum < 1:
        raise ValueError("n_per_stratum must be >= 1")
    h = F.expr(sample_hash_sql(key_col, "spark", seed=seed))
    w = Window.partitionBy(*strata).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def stratified_sample_sql(
    table: str,
    strata: list[str],
    n_per_stratum: int,
    key_col: str,
    columns: list[str],
    dialect: str,
    *,
    seed: int = 42,
) -> str:
    """Dual-dialect SQL twin of ``stratified_sample`` (the DuckDB oracle)."""
    h = sample_hash_sql(key_col, dialect, seed=seed)
    part = ", ".join(strata)
    cols = ", ".join(columns)
    return f"""
SELECT {cols} FROM (
  SELECT {cols}, ROW_NUMBER() OVER (
    PARTITION BY {part} ORDER BY {h} ASC, {key_col} ASC) AS rn
  FROM {table}
) t WHERE rn <= {n_per_stratum}
"""


def mix_sources(
    df: DataFrame,
    source_col: str,
    rates: dict[str, float],
    key_col: str,
    *,
    seed: int = 42,
    default_rate: float = 0.0,
) -> DataFrame:
    """Domain/source mixing: keep a deterministic ``rates[source]`` fraction
    of each source's rows — the "20% web, 2x-upweight-books" knob of a
    training-data pipeline, expressed as per-source downsampling rates in
    [0, 1]. Sources absent from ``rates`` get ``default_rate`` (drop by
    default, 1.0 = pass through).

    Same mechanism as ``hash_sample`` — the per-row sampling hash compared
    against a per-source threshold — so it is a MAP-ONLY filter (no
    shuffle, pushed to the scan as a residual), reproducible across runs,
    partitionings, and engines. Rates above 1 are a contract error: an
    exact-dedup + hash-sample pipeline cannot mint rows; upsampling is a
    separate epoch-repeat step."""
    for s, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {s!r} must be in [0, 1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    h = F.expr(sample_hash_sql(key_col, "spark", seed=seed))
    thr: Column = F.lit(int(default_rate * HASH_BUCKETS))
    for s, r in sorted(rates.items()):
        thr = F.when(
            F.col(source_col) == F.lit(s), F.lit(int(r * HASH_BUCKETS))
        ).otherwise(thr)
    return df.where(h < thr)


def mix_sources_sql(
    table: str,
    source_col: str,
    rates: dict[str, float],
    key_col: str,
    columns: list[str],
    dialect: str,
    *,
    seed: int = 42,
    default_rate: float = 0.0,
) -> str:
    """Dual-dialect twin of :func:`mix_sources` (the DuckDB oracle)."""
    h = sample_hash_sql(key_col, dialect, seed=seed)
    branches = "".join(
        f"WHEN {source_col} = {_sql_str(s, dialect)} "
        f"THEN {int(r * HASH_BUCKETS)} "
        for s, r in sorted(rates.items())
    )
    thr = f"(CASE {branches}ELSE {int(default_rate * HASH_BUCKETS)} END)"
    cols = ", ".join(columns)
    return f"SELECT {cols} FROM {table} WHERE {h} < {thr}"


def upsample_sources(
    df: DataFrame,
    source_col: str,
    rates: dict[str, float],
    key_col: str,
    *,
    seed: int = 42,
    default_rate: float = 1.0,
) -> DataFrame:
    """Epoch-repeat upsampling — the rates-above-1 counterpart of
    ``mix_sources`` ("books x2.5 per epoch"): each row is emitted
    ``floor(rate)`` times plus one more for the deterministic
    ``frac(rate)`` hash-fraction, tagged with an ``epoch`` column (1-based)
    so downstream shuffles/packing see distinct rows.

    Map-only: a per-row repeat count (codegen'd CASE + hash compare) fed to
    ``explode(sequence(1, reps))`` — no shuffle, reproducible, and the
    fan-out is bounded by max(rates). Rows with rate < 1 downsample exactly
    like ``mix_sources`` (reps 0 drops the row)."""
    for s, r in rates.items():
        if r < 0:
            raise ValueError(f"rate for {s!r} must be >= 0, got {r}")
    h = F.expr(sample_hash_sql(key_col, "spark", seed=seed))

    def _reps(rate: float) -> Column:
        base = int(rate)
        frac = int(round((rate - base) * HASH_BUCKETS))
        return F.lit(base) + F.when(h < F.lit(frac), 1).otherwise(0)

    reps: Column = _reps(default_rate)
    for s, r in sorted(rates.items()):
        reps = F.when(F.col(source_col) == F.lit(s), _reps(r)).otherwise(reps)
    return (
        df.withColumn("__reps", reps)
        .where(F.col("__reps") >= 1)
        .withColumn("epoch", F.explode(F.sequence(F.lit(1), F.col("__reps"))))
        .drop("__reps")
    )


def upsample_sources_sql(
    table: str,
    source_col: str,
    rates: dict[str, float],
    key_col: str,
    columns: list[str],
    dialect: str,
    *,
    seed: int = 42,
    default_rate: float = 1.0,
) -> str:
    """Dual-dialect twin of :func:`upsample_sources` (the DuckDB oracle)."""
    h = sample_hash_sql(key_col, dialect, seed=seed)

    def _reps(rate: float) -> str:
        base = int(rate)
        frac = int(round((rate - base) * HASH_BUCKETS))
        return f"({base} + CASE WHEN {h} < {frac} THEN 1 ELSE 0 END)"

    branches = "".join(
        f"WHEN {source_col} = {_sql_str(s, dialect)} THEN {_reps(r)} "
        for s, r in sorted(rates.items())
    )
    reps = f"(CASE {branches}ELSE {_reps(default_rate)} END)"
    cols = ", ".join(columns)
    if dialect == "spark":
        # generators can't nest inside CAST (UNSUPPORTED_GENERATOR) —
        # explode in its own projection, cast one level up
        return f"""
SELECT {cols}, CAST(epoch AS INT) AS epoch FROM (
  SELECT {cols}, explode(sequence(1, reps)) AS epoch FROM (
    SELECT {cols}, {reps} AS reps FROM {table}
  ) t WHERE reps >= 1
) x
"""
    return f"""
SELECT {cols}, CAST(unnest(generate_series(1, reps)) AS INT) AS epoch FROM (
  SELECT {cols}, {reps} AS reps FROM {table}
) t WHERE reps >= 1
"""


def weighted_sample_sql(
    key: str, weight: str, dialect: str, *, seed: int = 42
) -> str:
    """Efraimidis–Spirakis A-ES priority (public algorithm, 2006): each
    row gets ``u^(1/w)`` for a uniform u — taking the k LARGEST priorities
    is an exact weighted sample without replacement. u comes from the
    portable sampling hash (strictly inside (0, 1): +1/+2 offsets keep
    log(u) finite), so the draw is deterministic and engine-replayable."""
    h = sample_hash_sql(key, dialect, seed=seed)
    u = f"((CAST({h} AS DOUBLE) + 1.0) / {HASH_BUCKETS + 2}.0)"
    return f"POW({u}, 1.0 / ({weight}))"


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str,
    *,
    seed: int = 42,
) -> DataFrame:
    """Exact weighted random sample of ``k`` rows without replacement
    (A-ES): inclusion probability proportional to ``weight_col`` at every
    prefix. Map-only priority projection + ONE TakeOrderedAndProject —
    no shuffle, no full sort; deterministic across runs, partitionings,
    and engines (ties broken by key). Non-positive weights are excluded
    (they can never be drawn)."""
    pri = F.expr(weighted_sample_sql(key_col, weight_col, "spark", seed=seed))
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("__pri", F.round(pri, 12))
        .orderBy(F.desc("__pri"), F.asc(key_col))
        .limit(k)
        .drop("__pri")
    )


def temperature_mix(
    df: DataFrame,
    source_col: str,
    key_col: str,
    *,
    alpha: float = 0.7,
    out_fraction: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Temperature-based source re-weighting (the multilingual-LM mixing
    rule; XLM-R / mC4 style): source ``s`` with ``n_s`` rows is sampled
    with probability ``q_s = n_s^alpha / sum_t(n_t^alpha)`` — alpha < 1
    flattens the distribution toward small sources, alpha = 1 is
    proportional (no re-weighting). For a materialized corpus the rule
    becomes per-source keep rates: ``keep_s = min(1, out_fraction * N *
    q_s / n_s)``, applied with the same deterministic per-row sampling
    hash as ``mix_sources``/``hash_sample``.

    Unlike ``mix_sources`` (caller-supplied rates), the rates derive from
    the DATA — and entirely inside the plan: per-source counts are one
    hash agg over a source-cardinality-sized frame, broadcast back onto
    the scan. No driver collect, no second pass over rows; the row-level
    filter stays a codegen'd hash compare. Reproducible across runs,
    partitionings, and engines (dual-dialect twin below).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0.0 <= out_fraction <= 1.0:
        raise ValueError(f"out_fraction must be in [0, 1], got {out_fraction}")
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
    qs = counts.select(
        source_col,
        "__n",
        (
            F.pow(F.col("__n").cast("double"), F.lit(alpha))
            / F.sum(F.pow(F.col("__n").cast("double"), F.lit(alpha))).over(
                Window.partitionBy()
            )
        ).alias("__q"),
        F.sum("__n").over(Window.partitionBy()).alias("__tot"),
    )
    thresholds = qs.select(
        source_col,
        F.least(
            F.lit(float(HASH_BUCKETS)),
            F.lit(out_fraction)
            * F.col("__tot").cast("double")
            * F.col("__q")
            / F.col("__n").cast("double")
            * F.lit(HASH_BUCKETS),
        )
        .cast("bigint")
        .alias("__thr"),
    )
    h = F.expr(sample_hash_sql(key_col, "spark", seed=seed))
    thr = F.broadcast(
        thresholds.withColumnRenamed(source_col, "__thr_src")
    )
    # eqNullSafe join: a NULL source forms its own count group, so its
    # rows must meet their own threshold instead of silently vanishing
    # through NULL-never-equals-NULL equi-join semantics
    return (
        df.join(thr, F.col(source_col).eqNullSafe(F.col("__thr_src")))
        .where(h < F.col("__thr"))
        .drop("__thr", "__thr_src")
    )


def temperature_mix_sql(
    table: str,
    source_col: str,
    key_col: str,
    columns: list[str],
    dialect: str,
    *,
    alpha: float = 0.7,
    out_fraction: float = 0.5,
    seed: int = 42,
) -> str:
    """Dual-dialect twin of :func:`temperature_mix` (the DuckDB oracle):
    identical count -> q_s -> capped-threshold -> hash-compare formula."""
    h = sample_hash_sql(key_col, dialect, seed=seed)
    cols = ", ".join(f"t.{c}" for c in columns)
    return f"""
WITH counts AS (
  SELECT {source_col}, CAST(COUNT(*) AS DOUBLE) AS n
  FROM {table} GROUP BY {source_col}
),
thr AS (
  SELECT {source_col},
         CAST(FLOOR(LEAST(
           CAST({HASH_BUCKETS} AS DOUBLE),
           {out_fraction!r} * (SUM(n) OVER ())
             * (POW(n, {alpha!r}) / (SUM(POW(n, {alpha!r})) OVER ()))
             / n * {HASH_BUCKETS}
         )) AS BIGINT) AS thr
  FROM counts
)
SELECT {cols} FROM {table} t
JOIN thr ON t.{source_col} IS NOT DISTINCT FROM thr.{source_col}
WHERE {h} < thr.thr
"""


def quality_mix(
    df: DataFrame,
    text_col: str,
    key_col: str,
    *,
    cuts: list[float],
    rates: list[float],
    seed: int = 42,
) -> DataFrame:
    """Quality-bucketed sampling (the "keep all high-quality, thin the
    tail" curation knob — the deterministic public form of Ask-LLM /
    DataComp-style quality reweighting): score each document with the
    engine's quality heuristic, band the scores at ``cuts`` (descending
    thresholds), and keep a deterministic ``rates[band]`` fraction of each
    band. ``rates`` has ``len(cuts) + 1`` entries — the last is the
    below-every-cut band.

    Same map-only mechanism as ``mix_sources`` (per-row sampling hash vs a
    per-band threshold): no shuffle, reproducible across runs and engines,
    and the score is a pure column expression, so the whole thing is one
    codegen'd filter over the scan."""
    if len(rates) != len(cuts) + 1:
        raise ValueError("need len(cuts) + 1 rates")
    if sorted(cuts, reverse=True) != list(cuts):
        raise ValueError("cuts must be descending")
    for r in rates:
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rates must be in [0, 1], got {r}")
    from harmonize_search_analyze_spark.operators.text import quality_score_sql

    score = F.expr(quality_score_sql(text_col, "spark"))
    thr: Column = F.lit(int(rates[-1] * HASH_BUCKETS))
    for cut, rate in sorted(zip(cuts, rates[:-1])):
        thr = F.when(
            score >= F.lit(cut), F.lit(int(rate * HASH_BUCKETS))
        ).otherwise(thr)
    h = F.expr(sample_hash_sql(key_col, "spark", seed=seed))
    return df.where(h < thr)


def quality_mix_sql(
    table: str,
    text_col: str,
    key_col: str,
    columns: list[str],
    dialect: str,
    *,
    cuts: list[float],
    rates: list[float],
    seed: int = 42,
) -> str:
    """Dual-dialect SQL twin of ``quality_mix`` (the DuckDB oracle) —
    same input validation as the DataFrame twin (a silently-truncating
    zip would otherwise generate a keep-everything filter)."""
    if len(rates) != len(cuts) + 1:
        raise ValueError("need len(cuts) + 1 rates")
    if sorted(cuts, reverse=True) != list(cuts):
        raise ValueError("cuts must be descending")
    for r in rates:
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rates must be in [0, 1], got {r}")
    from harmonize_search_analyze_spark.operators.text import quality_score_sql

    score = quality_score_sql(text_col, dialect)
    h = sample_hash_sql(key_col, dialect, seed=seed)
    thr = str(int(rates[-1] * HASH_BUCKETS))
    for cut, rate in sorted(zip(cuts, rates[:-1])):
        thr = (
            f"CASE WHEN {score} >= {cut!r} THEN {int(rate * HASH_BUCKETS)} "
            f"ELSE {thr} END"
        )
    cols = ", ".join(columns)
    return f"SELECT {cols} FROM {table} WHERE {h} < ({thr})"


def token_budget_sample(
    df: DataFrame,
    source_col: str,
    budgets: dict[str, int],
    key_col: str,
    text_col: str,
    *,
    seed: int = 42,
    default_budget: int | None = None,
) -> DataFrame:
    """Token-budget sampling: keep a deterministic subset of each source's
    documents whose CUMULATIVE token count stays within the source's token
    budget — the "2B tokens of books, 500M of code" mixture knob, stated
    in tokens (what training actually consumes) rather than row fractions.

    Documents are admitted in sampling-hash order (ties by key), so the
    kept set is reproducible across runs, partitionings, and engines, and
    is a superset-stable prefix: raising a budget only ADDS documents.
    A document that would cross the budget boundary is excluded (strict
    ``cum <= budget``). Sources absent from ``budgets`` get
    ``default_budget`` (None = unlimited, pass-through).

    Scale shape: ONE window shuffle keyed by source. Budget enforcement is
    inherently a prefix sum in admission order; at extreme per-source
    volume the same order decomposes into a bucket-prefix two-pass (agg
    token totals per (source, hash-bucket), cut at the boundary bucket,
    exact window inside that one bucket only) — the admission order makes
    both plans select the identical set. The window form is the shipped
    default; residual per-source skew is what AQE skew-split handles."""
    for s, b in budgets.items():
        if b < 0:
            raise ValueError(f"budget for {s!r} must be >= 0, got {b}")
    if default_budget is not None and default_budget < 0:
        raise ValueError("default_budget must be >= 0 or None")
    from harmonize_search_analyze_spark.operators.text import token_count_sql

    toks = F.expr(token_count_sql(text_col, "spark")).cast("bigint")
    h = F.expr(sample_hash_sql(key_col, "spark", seed=seed))
    w = (
        Window.partitionBy(source_col)
        .orderBy(h.asc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget: Column = (
        F.lit(None).cast("bigint")
        if default_budget is None
        else F.lit(int(default_budget))
    )
    for s, b in sorted(budgets.items()):
        budget = F.when(
            F.col(source_col) == F.lit(s), F.lit(int(b))
        ).otherwise(budget)
    out = df.withColumn("__cum", F.sum(toks).over(w)).withColumn(
        "__budget", budget
    )
    return (
        out.where(
            F.col("__budget").isNull() | (F.col("__cum") <= F.col("__budget"))
        )
        .drop("__budget")
        .withColumnRenamed("__cum", "cum_tokens")
    )


def token_budget_sample_sql(
    table: str,
    source_col: str,
    budgets: dict[str, int],
    key_col: str,
    text_col: str,
    columns: list[str],
    dialect: str,
    *,
    seed: int = 42,
    default_budget: int | None = None,
) -> str:
    """Dual-dialect SQL twin of ``token_budget_sample`` (same validation
    as the DataFrame twin)."""
    for s, b in budgets.items():
        if b < 0:
            raise ValueError(f"budget for {s!r} must be >= 0, got {b}")
    if default_budget is not None and default_budget < 0:
        raise ValueError("default_budget must be >= 0 or None")
    from harmonize_search_analyze_spark.operators.text import token_count_sql

    toks = token_count_sql(text_col, dialect)
    h = sample_hash_sql(key_col, dialect, seed=seed)
    b = (
        "CAST(NULL AS BIGINT)"
        if default_budget is None
        else str(int(default_budget))
    )
    for s, v in sorted(budgets.items()):
        b = (
            f"CASE WHEN {source_col} = {_sql_str(s, dialect)} "
            f"THEN {int(v)} ELSE {b} END"
        )
    cols = ", ".join(columns)
    return f"""
SELECT {cols}, cum_tokens FROM (
  SELECT {cols},
         CAST(SUM(CAST({toks} AS BIGINT)) OVER (
           PARTITION BY {source_col}
           ORDER BY {h} ASC, {key_col} ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tokens,
         ({b}) AS budget
  FROM {table}
) t WHERE budget IS NULL OR cum_tokens <= budget
"""


def unimax_sample(
    df: DataFrame,
    source_col: str,
    key_col: str,
    *,
    budget: float,
    weight_col: str | None = None,
    max_epochs: float = 4.0,
    seed: int = 42,
) -> DataFrame:
    """UniMax language sampling (Chung et al. 2023): spread a total
    training ``budget`` (rows, or tokens when ``weight_col`` is given) as
    UNIFORMLY as possible across sources, while capping any source at
    ``max_epochs`` repeats of its data — the published fix for
    temperature sampling's head-language bias that never over-epochs the
    tail.

    The paper's greedy allocation IS water-filling, which has a closed
    form over sources sorted ascending by capacity ``c_s = n_s *
    max_epochs``: with ``S_prev_r`` the capacity prefix sum at rank
    ``r`` and ``L`` the source count, the WATER LEVEL is ``tau* = max_r
    max(0, (budget - S_prev_r) / (L - r + 1))`` and ``alloc_s = min(c_s,
    tau*)`` — exhausted sources (ascending, so exactly the ones with
    ``c_s <= tau*``) take all of ``c_s``, the rest sit at the level.
    (Subtracting the capacity prefix WITHOUT the max — a plausible
    shortcut — under-allocates every non-exhausted source after the
    first: 3x100 rows at budget 150 would get 50/25/0 instead of
    50/50/50.) The closed form is two window passes over the
    SOURCE-cardinality frame, so the whole allocation runs IN-PLAN: one
    hash agg for per-source mass, a metadata-sized window, a broadcast
    join back, and the same deterministic epoch-explode as
    ``upsample_sources``. No driver collect, no iteration.

    Returns the input rows + ``epoch`` (1-based). Per-source realized
    mass is the hash-sampler's expectation (exact-in-expectation, like
    every rate sampler here); ties in capacity are pinned by source name.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be positive, got {max_epochs}")
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    totals = df.groupBy(source_col).agg(F.sum(w).alias("__n"))
    win_ord = Window.orderBy(F.col("__c").asc(), F.col(source_col).asc())
    alloc = (
        totals.withColumn("__c", F.col("__n") * F.lit(float(max_epochs)))
        .withColumn("__rn", F.row_number().over(win_ord))
        .withColumn(
            "__sprev",
            F.coalesce(
                F.sum("__c").over(
                    win_ord.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0.0),
            ),
        )
        .withColumn("__l", F.count(F.lit(1)).over(Window.partitionBy()))
        .withColumn(
            "__tau",
            F.greatest(F.lit(float(budget)) - F.col("__sprev"), F.lit(0.0))
            / (F.col("__l") - F.col("__rn") + 1),
        )
        # the water level: max fair share over all ranks (see docstring)
        .withColumn("__level", F.max("__tau").over(Window.partitionBy()))
        .withColumn("__alloc", F.least(F.col("__c"), F.col("__level")))
        .select(
            F.col(source_col).alias("__ux_src"),
            (F.col("__alloc") / F.col("__n")).alias("__rate"),
        )
    )
    h = F.expr(sample_hash_sql(key_col, "spark", seed=seed))
    base = F.floor("__rate").cast("bigint")
    frac_thr = F.floor(
        (F.col("__rate") - F.floor("__rate")) * F.lit(HASH_BUCKETS)
    ).cast("bigint")
    return (
        df.join(
            F.broadcast(alloc),
            F.col(source_col).eqNullSafe(F.col("__ux_src")),
        )
        .withColumn(
            "__reps",
            base + F.when(h < frac_thr, F.lit(1)).otherwise(F.lit(0)),
        )
        .where(F.col("__reps") >= 1)
        .withColumn("epoch", F.explode(F.sequence(F.lit(1), F.col("__reps"))))
        .withColumn("epoch", F.col("epoch").cast("int"))
        .drop("__reps", "__rate", "__ux_src")
    )


def unimax_sample_sql(
    table: str,
    source_col: str,
    key_col: str,
    columns: list[str],
    dialect: str,
    *,
    budget: float,
    weight_col: str | None = None,
    max_epochs: float = 4.0,
    seed: int = 42,
) -> str:
    """Dual-dialect twin of :func:`unimax_sample` — identical water-fill
    closed form, hash thresholds, and epoch explode on both engines."""
    h = sample_hash_sql("t." + key_col, dialect, seed=seed)
    w = f"CAST({weight_col} AS DOUBLE)" if weight_col else "1.0"
    cols = ", ".join(f"t.{c}" for c in columns)
    bare_cols = ", ".join(columns)
    if dialect == "spark":
        # same generator-nesting restriction as upsample_sources_sql
        tail = (
            f"SELECT {bare_cols}, CAST(epoch AS INT) AS epoch FROM (\n"
            f"  SELECT {bare_cols}, explode(sequence(1, reps)) AS epoch\n"
            f"  FROM repped t WHERE reps >= 1\n"
            f") x"
        )
    else:
        tail = (
            f"SELECT {bare_cols}, "
            f"CAST(unnest(generate_series(1, reps)) AS INT) AS epoch\n"
            f"FROM repped t WHERE reps >= 1"
        )
    return f"""
WITH totals AS (
  SELECT {source_col} AS src, SUM({w}) AS n FROM {table} GROUP BY {source_col}
),
tau AS (
  SELECT src, n, n * {max_epochs!r} AS c,
         GREATEST({budget!r} - COALESCE(SUM(n * {max_epochs!r}) OVER (
             ORDER BY n * {max_epochs!r} ASC, src ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0), 0.0)
         / (COUNT(*) OVER () - ROW_NUMBER() OVER (
             ORDER BY n * {max_epochs!r} ASC, src ASC) + 1) AS t
  FROM totals
),
alloc AS (
  SELECT src, LEAST(c, MAX(t) OVER ()) / n AS rate FROM tau
),
repped AS (
  SELECT {cols},
         CAST(FLOOR(a.rate) AS BIGINT)
           + CASE WHEN {h} < CAST(FLOOR((a.rate - FLOOR(a.rate))
                                        * {HASH_BUCKETS}) AS BIGINT)
                  THEN 1 ELSE 0 END AS reps
  FROM {table} t JOIN alloc a ON t.{source_col} IS NOT DISTINCT FROM a.src
)
{tail}
"""


def anneal_schedule(
    df: DataFrame,
    source_col: str,
    key_col: str,
    phases: list[tuple[str, dict[str, float]]],
    *,
    seed: int = 42,
    default_rate: float = 0.0,
) -> DataFrame:
    """Annealed / curriculum data schedule (the modern mid-training
    pattern: early phases heavy on bulk web, the final anneal phase
    upweighting high-quality sources): each phase is its own
    deterministic per-source mix of the corpus, emitted with
    (phase_idx, phase) tags and a within-phase ``order_key`` — reading
    the result ordered by (phase_idx, order_key) IS the schedule.

    ``phases`` is ``[(name, {source: keep_rate}), ...]``; rates are
    mix_sources semantics (deterministic hash-threshold keeps, absent
    sources get ``default_rate``). Each phase re-seeds the sampling hash
    (seed + phase index), so phases draw independent subsets — a row can
    appear in several phases (that is what an epoch schedule does), never
    twice in one phase.

    Scale shape: ONE corpus scan — every phase's qualify bit and order
    key are codegen'd projections; qualifying (phase, order) structs
    collect into an array and explode with fan-out <= n_phases. No
    shuffle at all; the P-pass union formulation this replaces would
    re-read the corpus P times.
    """
    if not phases:
        raise ValueError("anneal_schedule needs at least one phase")
    for _, rates in phases:
        for s, r in rates.items():
            if not 0.0 <= r <= 1.0:
                raise ValueError(
                    f"rate for {s!r} must be in [0, 1], got {r}"
                )
    entries = []
    for i, (name, rates) in enumerate(phases):
        h = F.expr(sample_hash_sql(key_col, "spark", seed=seed + i))
        order_h = F.expr(
            sample_hash_sql(key_col, "spark", seed=seed + 1000 + i)
        )
        thr: Column = F.lit(int(default_rate * HASH_BUCKETS))
        for s, r in sorted(rates.items()):
            thr = F.when(
                F.col(source_col) == F.lit(s),
                F.lit(int(r * HASH_BUCKETS)),
            ).otherwise(thr)
        entries.append(
            F.when(
                h < thr,
                F.struct(
                    F.lit(i).alias("phase_idx"),
                    F.lit(name).alias("phase"),
                    order_h.alias("order_key"),
                ),
            )
        )
    arr = F.filter(F.array(*entries), lambda e: e.isNotNull())
    return (
        df.withColumn("__ph", F.explode(arr))
        .select(
            "*",
            F.col("__ph.phase_idx").alias("phase_idx"),
            F.col("__ph.phase").alias("phase"),
            F.col("__ph.order_key").alias("order_key"),
        )
        .drop("__ph")
    )


def anneal_schedule_sql(
    table: str,
    source_col: str,
    key_col: str,
    phases: list[tuple[str, dict[str, float]]],
    columns: list[str],
    dialect: str,
    *,
    seed: int = 42,
    default_rate: float = 0.0,
) -> str:
    """Dual-dialect twin of :func:`anneal_schedule` — the oracle uses
    the transparent per-phase UNION ALL formulation (correctness over
    the single-scan plan, which is the Spark side's job)."""
    cols = ", ".join(columns)
    selects = []
    for i, (name, rates) in enumerate(phases):
        h = sample_hash_sql(key_col, dialect, seed=seed + i)
        oh = sample_hash_sql(key_col, dialect, seed=seed + 1000 + i)
        thr = f"CAST({int(default_rate * HASH_BUCKETS)} AS BIGINT)"
        for s, r in sorted(rates.items()):
            thr = (
                f"CASE WHEN {source_col} = '{s}' "
                f"THEN {int(r * HASH_BUCKETS)} ELSE {thr} END"
            )
        selects.append(
            f"SELECT {cols}, {i} AS phase_idx, '{name}' AS phase, "
            f"{oh} AS order_key FROM {table} WHERE {h} < ({thr})"
        )
    return "\nUNION ALL\n".join(selects)


def domain_reweight(
    df: DataFrame,
    domain_col: str,
    score_col: str | Column,
    *,
    temperature: float = 1.0,
    floor: float = 0.0,
) -> DataFrame:
    """One-step domain-mixture reweighting (the DoReMi-family shape,
    collapsed to its deterministic core): each domain's mean excess
    score (mean minus the corpus mean) feeds a temperature softmax; the
    output weights are the new sampling mixture. ``floor`` lower-bounds
    every domain's weight (then renormalizes) so no domain starves —
    the practical guardrail every mixture-tuning run wants.

    Returns (domain, n_docs, mean_score, weight) with weight rounded 6,
    weights summing to ~1 (up to rounding).

    Shape: ONE domain-keyed hash agg (mean/count) + a 1-row broadcast
    corpus mean; the softmax runs over the domain frame (bounded by
    domain count, corpus-size-independent). Feed the weights into
    ``mix_sources``/``anneal_schedule`` rates to apply the mixture.
    """
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    if not 0.0 <= floor < 1.0:
        raise ValueError("floor must be in [0, 1)")
    sc = F.expr(score_col) if isinstance(score_col, str) else score_col
    per = (
        df.where(F.col(domain_col).isNotNull())
        .groupBy(F.col(domain_col).alias("domain"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg(sc).alias("__mean"),
        )
    )
    overall = df.where(F.col(domain_col).isNotNull()).agg(
        F.avg(sc).alias("__overall")
    )
    scored = per.crossJoin(F.broadcast(overall)).select(
        "domain", "n_docs", "__mean",
        F.exp(
            (F.col("__mean") - F.col("__overall")) / F.lit(float(temperature))
        ).alias("__e"),
    )
    tot = scored.agg(F.sum("__e").alias("__z"))
    n_domains = scored.agg(F.count(F.lit(1)).alias("__k"))
    # floor renormalization scales the softmax by (1 - floor*k): with
    # floor*k > 1 the scale goes negative, inverting the softmax
    # ordering and breaking sum-to-1.  The domain count is only known
    # in-plan, so the guard is an in-plan assert_true (still one pass):
    # it returns NULL when the invariant holds (coalesce passes the
    # real weight through) and raises the job otherwise.
    guard = F.assert_true(
        F.lit(float(floor)) * F.col("__k") <= F.lit(1.0),
        F.concat(
            F.lit(f"domain_reweight: floor={floor} * n_domains="),
            F.col("__k").cast("string"),
            F.lit(" exceeds 1 — floor must be <= 1/n_domains"),
        ),
    )
    return (
        scored.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n_domains))
        .select(
            "domain",
            "n_docs",
            F.round("__mean", 6).alias("mean_score"),
            F.round(
                F.coalesce(
                    guard.cast("double"),
                    (F.col("__e") / F.col("__z")
                     * (1.0 - floor * F.col("__k"))
                     + F.lit(float(floor))),
                ),
                6,
            ).alias("weight"),
        )
        .orderBy("domain")
    )


def preference_pairs(
    df: DataFrame,
    group_col: str,
    response_col: str,
    score_col,
    *,
    min_margin: float = 0.0,
) -> DataFrame:
    """Preference-pair construction (DPO/RLHF data prep): per
    ``group_col`` (the prompt / prompt-id), pick the highest-scoring
    response as ``chosen`` and the lowest as ``rejected``, with
    ``margin`` = score gap; groups whose margin is <= ``min_margin``
    drop (a pair needs a real preference). ONE hash agg — chosen and
    rejected come from struct max/min in the same pass, never a window
    over the candidate set; ties pin to the lexicographically larger
    (max side) / smaller (min side) response text so the pair is
    deterministic under equal scores. ``score_col`` may be a column
    name or an expression string (e.g. a quality-score generator)."""
    score = (
        F.expr(score_col) if isinstance(score_col, str) else score_col
    ).cast("double")
    keyed = df.where(
        F.col(group_col).isNotNull() & F.col(response_col).isNotNull()
    ).select(
        F.col(group_col).alias("prompt"),
        F.struct(
            score.alias("s"), F.col(response_col).alias("r")
        ).alias("__sr"),
    )
    agg = keyed.groupBy("prompt").agg(
        F.max("__sr").alias("__best"),
        F.min("__sr").alias("__worst"),
        F.count(F.lit(1)).alias("n_candidates"),
    )
    return (
        agg.select(
            "prompt",
            F.col("__best.r").alias("chosen"),
            F.col("__worst.r").alias("rejected"),
            F.round(
                F.col("__best.s") - F.col("__worst.s"), 6
            ).alias("margin"),
            "n_candidates",
        )
        .where(F.col("margin") > min_margin)
        .orderBy("prompt")
    )


def negative_sampling(
    positives: DataFrame,
    docs: DataFrame,
    *,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    k: int = 4,
    oversample: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Random in-corpus negatives per query — the contrastive-training
    data op (DPR/CLIP-style: every (query, positive) pair trains
    against k sampled non-relevant documents). Deterministic and
    re-runnable: draw i for query q targets the document at contiguous
    rank ``hash(seed, q, i) mod N``, so the SAME (positives, docs,
    seed) always yields the same negatives on any cluster layout.

    Never builds the query x corpus cross product: each query emits
    ``k * oversample`` draw rows (the oversample absorbs positive hits
    and duplicate draws; a query can still come up short if its
    positives cover much of the pool — raise ``oversample``), draws
    equi-join the rank-indexed pool, positives drop by anti-join, the
    first k survivors (draw order) win per query.

    Scale shape: the contiguous 0..N-1 doc rank comes from
    :func:`operators.ordering.global_order` (range exchange +
    per-partition offsets — no single-reducer window); everything else
    is one equi-join keyed by rank + one (query)-windowed top-k over
    <= k * oversample rows per query. Returns
    ``(query_col, doc_col, neg_rank)`` ordered.

    Hard negatives (model-scored) are the sibling
    ``similarity.hard_negatives``; this is the uniform-random baseline
    every recipe starts from.
    """
    from harmonize_search_analyze_spark.functions.hashing import (
        hash64_sql,
    )
    from harmonize_search_analyze_spark.operators.ordering import (
        global_order,
    )

    if k < 1 or oversample < 1:
        raise ValueError("k and oversample must be >= 1")
    pool = docs.select(F.col(doc_col)).distinct()
    n_docs = pool.count()
    if n_docs == 0:
        raise ValueError("empty document pool")
    ranked = global_order(pool, [doc_col], out_col="__r")
    m = k * oversample
    h = hash64_sql(
        f"concat('{seed}', ':', CAST({query_col} AS STRING), ':',"
        " CAST(__i AS STRING))",
        "spark",
    )
    draws = (
        positives.select(query_col)
        .distinct()
        .select(
            query_col,
            F.explode(F.expr(f"sequence(0, {m - 1})")).alias("__i"),
        )
        .withColumn("__r", F.expr(h) % n_docs)
    )
    cand = draws.join(ranked, "__r").select(query_col, doc_col, "__i")
    neg = cand.join(
        positives.select(query_col, doc_col), [query_col, doc_col],
        "left_anti",
    )
    # dedupe repeat draws of the same doc (keep the earliest), then the
    # first k by draw order
    from pyspark.sql import Window

    first = neg.groupBy(query_col, doc_col).agg(
        F.min("__i").alias("__i")
    )
    w = Window.partitionBy(query_col).orderBy(F.asc("__i"), F.asc(doc_col))
    return (
        first.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(
            query_col, doc_col,
            (F.col("__rn") - 1).cast("int").alias("neg_rank"),
        )
        .orderBy(query_col, "neg_rank")
    )


def negative_sampling_sql(
    positives_sql: str,
    docs_sql: str,
    dialect: str,
    *,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    k: int = 4,
    oversample: int = 3,
    seed: int = 42,
) -> str:
    """Dual-dialect twin of :func:`negative_sampling` (single-window
    rank is fine at oracle scale; same hash family, same draw rule)."""
    from harmonize_search_analyze_spark.functions.hashing import (
        hash64_sql,
    )

    m = k * oversample
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    h = hash64_sql(
        f"concat('{seed}', ':', CAST({query_col} AS {cast}), ':',"
        f" CAST(i AS {cast}))",
        dialect,
    )
    if dialect == "spark":
        spine = f"SELECT explode(sequence(0, {m - 1})) AS i"
    elif dialect == "duckdb":
        spine = f"SELECT CAST(t.i AS INT) AS i FROM range(0, {m}) t(i)"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH pos AS ({positives_sql}),
pool AS (SELECT DISTINCT {doc_col} FROM ({docs_sql}) d),
n AS (SELECT COUNT(*) AS n FROM pool),
ranked AS (
  SELECT {doc_col}, ROW_NUMBER() OVER (ORDER BY {doc_col}) - 1 AS r
  FROM pool
),
spine AS ({spine}),
draws AS (
  SELECT q.{query_col}, s.i, ({h}) % (SELECT n FROM n) AS r
  FROM (SELECT DISTINCT {query_col} FROM pos) q CROSS JOIN spine s
),
cand AS (
  SELECT d.{query_col}, ranked.{doc_col}, d.i
  FROM draws d JOIN ranked ON d.r = ranked.r
),
neg AS (
  SELECT c.{query_col}, c.{doc_col}, MIN(c.i) AS i
  FROM cand c
  LEFT JOIN pos p
    ON c.{query_col} = p.{query_col} AND c.{doc_col} = p.{doc_col}
  WHERE p.{query_col} IS NULL
  GROUP BY c.{query_col}, c.{doc_col}
),
picked AS (
  SELECT {query_col}, {doc_col},
         ROW_NUMBER() OVER (PARTITION BY {query_col}
                            ORDER BY i ASC, {doc_col} ASC) - 1 AS neg_rank
  FROM neg
)
SELECT {query_col}, {doc_col}, CAST(neg_rank AS INT) AS neg_rank
FROM picked WHERE neg_rank < {k}
ORDER BY {query_col}, neg_rank
"""

# -- cross-source score normalization ------------------------------------------

def quantile_norm(
    df: DataFrame,
    id_col: str,
    value_col: str,
    group_col: str,
    *,
    grid: int = 100,
) -> DataFrame:
    """Per-source quantile normalization: map each row's WITHIN-GROUP
    percentile rank onto the GLOBAL value distribution — the mixing
    prerequisite when per-source quality scores aren't comparable (one
    scorer's 0.8 is another's 0.5; rank-normalizing onto the pooled
    distribution makes one threshold mean the same thing everywhere).
    ``normalized`` is the global quantile at the row's within-group
    percent_rank, looked up on a ``grid``-point global quantile array
    (grid index = round(rank * grid) — pure arithmetic, identical both
    engines). Returns ``(id, group, value, pct_rank, normalized)``
    ordered by id.

    Scale shape: the global quantile array is ONE exact-percentile agg
    (grid+1 doubles, broadcast); the within-group percent_rank is one
    window partitioned by group (sources are many and bounded — never a
    whole-frame window); the lookup is a map. Single-value groups pin
    pct_rank = 0 (the percent_rank contract).
    """
    if grid < 2:
        raise ValueError("grid must be >= 2")
    fracs = [i / grid for i in range(grid + 1)]
    v = F.col(value_col).cast("double")
    qs = df.where(v.isNotNull()).agg(
        F.percentile(v, F.lit(fracs)).alias("__qs")
    )
    w = Window.partitionBy(group_col).orderBy(value_col)
    ranked = (
        df.where(v.isNotNull())
        .select(
            F.col(id_col),
            F.col(group_col),
            v.alias("value"),
            F.percent_rank().over(w).alias("__pr"),
        )
    )
    return (
        ranked.crossJoin(F.broadcast(qs))
        .select(
            id_col,
            group_col,
            "value",
            F.round("__pr", 6).alias("pct_rank"),
            F.round(
                F.element_at(
                    "__qs",
                    (F.round(F.col("__pr") * grid).cast("int") + 1),
                ),
                6,
            ).alias("normalized"),
        )
        .orderBy(id_col)
    )


def quantile_norm_sql(
    table: str,
    id_col: str,
    value_col: str,
    group_col: str,
    dialect: str,
    *,
    grid: int = 100,
) -> str:
    """Dual-dialect twin of :func:`quantile_norm`. Spark ``percentile``
    and DuckDB ``quantile_cont`` share the linear-interpolation
    definition; array indexing is 1-based on both."""
    fracs = "[" + ", ".join(repr(i / grid) for i in range(grid + 1)) + "]"
    v = f"CAST({value_col} AS DOUBLE)"
    if dialect == "spark":
        qagg = f"percentile({v}, array{fracs.replace('[', '(').replace(']', ')')})"
        idx = f"element_at(qs, CAST(ROUND(pr * {grid}) AS INT) + 1)"
    elif dialect == "duckdb":
        qagg = f"quantile_cont({v}, {fracs})"
        idx = f"qs[CAST(ROUND(pr * {grid}) AS INT) + 1]"
    else:
        raise ValueError(f"unknown dialect: {dialect}")
    return f"""
WITH qs_t AS (
  SELECT {qagg} AS qs FROM {table} WHERE {value_col} IS NOT NULL
),
ranked AS (
  SELECT {id_col}, {group_col}, {v} AS value,
         PERCENT_RANK() OVER (PARTITION BY {group_col}
                              ORDER BY {value_col}) AS pr
  FROM {table} WHERE {value_col} IS NOT NULL
)
SELECT {id_col}, {group_col}, value,
       ROUND(pr, 6) AS pct_rank,
       ROUND({idx}, 6) AS normalized
FROM ranked CROSS JOIN qs_t
ORDER BY {id_col}
"""


def ipf_weights(
    df: DataFrame,
    row_col: str,
    col_col: str,
    *,
    row_targets: dict[str, float] | None = None,
    col_targets: dict[str, float] | None = None,
    iters: int = 6,
) -> DataFrame:
    """Iterative proportional fitting (raking) of corpus weights to
    TARGET marginal shares on two categorical axes — the
    survey-statistics classic repurposed for corpus balancing: find
    per-cell weights so the weighted (lang x source) table hits the
    requested language shares AND source shares simultaneously, moving
    each cell as little as possible (IPF converges to the max-entropy
    fit). ``None`` targets mean UNIFORM shares over the axis's observed
    values. A fixed ``iters`` sweeps (row-scale then col-scale) keeps
    the computation unrollable for the oracle (the markov_stationary
    pin). Returns one row per cell ``(row_key, col_key, n, weight,
    weighted_share)`` rounded 6 ordered by (row_key, col_key) — weight
    is the per-ROW multiplier (cells share one weight; multiply into
    row-level sampling downstream).

    Scale shape: ONE corpus pass builds the (row, col) cell counts;
    every IPF half-sweep is then a WINDOW aggregate over the
    category-product-sized cell frame (``SUM(w*n) OVER (PARTITION BY
    axis)``) — round-10 rewrite: the old shape materialized a margin
    agg + broadcast-joined a scale frame + checkpointed per half-sweep
    (12 jobs + 12 broadcast builds + 12 checkpoints for 6 iters,
    measured 2.2-2.7 s at sf0.1); the window form is ONE job with 12
    metadata-sized exchanges and no joins (1.2-1.3 s), value-identical
    at sf0.01 and sf0.1 (exact-compare tested). The iterated state
    stays category-product-sized, never row volume, so the window
    partitions are trivially small at any corpus scale; lineage is a
    single-consumer window chain — no replay trap, no checkpoints
    needed. The axis cardinalities (for UNIFORM targets) ride the same
    one-row agg as ``total`` (two count_distincts + a sum on the tiny
    cell frame — the Expand this triggers is k^2 rows, not corpus).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    cells = checkpoint(
        df.where(F.col(row_col).isNotNull() & F.col(col_col).isNotNull())
        .groupBy(
            F.col(row_col).cast("string").alias("__rk"),
            F.col(col_col).cast("string").alias("__ck"),
        )
        .agg(F.count(F.lit(1)).alias("__n")),
        eager=True,
    )

    def _target_map(targets: dict[str, float] | None, key: str):
        if targets is None:
            return None  # uniform: 1/k computed from the frame
        total = sum(targets.values())
        if abs(total - 1.0) > 1e-9:
            raise ValueError("targets must sum to 1")
        pairs = []
        for kk, vv in sorted(targets.items()):
            pairs += [F.lit(kk), F.lit(float(vv))]
        return F.create_map(*pairs)[F.col(key)]

    rt = _target_map(row_targets, "__rk")
    ct = _target_map(col_targets, "__ck")
    tot = cells.agg(
        F.sum("__n"),
        F.count_distinct("__rk"),
        F.count_distinct("__ck"),
    ).first()
    total = tot[0] if tot[0] is not None else 0
    k_row, k_col = tot[1], tot[2]
    cur = cells.withColumn("__w", F.lit(1.0))
    for _ in range(iters):
        for key, tgt, kk in (("__rk", rt, k_row), ("__ck", ct, k_col)):
            wk = Window.partitionBy(key)
            marg = F.sum(F.col("__w") * F.col("__n")).over(wk)
            share = (
                tgt if tgt is not None
                else F.lit(1.0) / F.lit(float(kk)) if kk
                else F.lit(None).cast("double")
            )
            cur = cur.withColumn(
                "__w",
                F.col("__w")
                * F.try_divide(share * F.lit(float(total)), marg),
            )
    wsum = Window.partitionBy()
    return cur.select(
        F.col("__rk").alias("row_key"),
        F.col("__ck").alias("col_key"),
        F.col("__n").cast("bigint").alias("n"),
        F.round("__w", 6).alias("weight"),
        F.round(
            (F.col("__w") * F.col("__n"))
            / F.sum(F.col("__w") * F.col("__n")).over(wsum),
            6,
        ).alias("weighted_share"),
    ).orderBy("row_key", "col_key")


def ipf_weights_sql(
    table: str,
    row_expr: str,
    col_expr: str,
    dialect: str,
    *,
    iters: int = 6,
) -> str:
    """Dual-dialect twin of :func:`ipf_weights` (uniform targets; the
    unrolled sweeps pin ``AS MATERIALIZED`` per level on DuckDB — the
    k_core/markov lesson — and Spark takes the same text minus the
    keyword)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    mat = "MATERIALIZED " if dialect == "duckdb" else ""
    levels = []
    prev = "w0"
    step = 0
    for _ in range(iters):
        for key in ("rk", "ck"):
            step += 1
            cur = f"w{step}"
            levels.append(
                f"{cur} AS {mat}(\n"
                f"  SELECT c.rk, c.ck, c.n,\n"
                f"         c.w * ((t.total / k.k_{key}) /\n"
                f"                NULLIF(m.m, 0.0)) AS w\n"
                f"  FROM {prev} c\n"
                f"  JOIN (SELECT {key}, SUM(w * n) AS m FROM {prev}\n"
                f"        GROUP BY 1) m ON c.{key} = m.{key}\n"
                f"  CROSS JOIN t CROSS JOIN k\n)"
            )
            prev = cur
    chain = ",\n".join(levels)
    return f"""
WITH cells AS {mat}(
  SELECT CAST({row_expr} AS STRING) AS rk,
         CAST({col_expr} AS STRING) AS ck, COUNT(*) AS n
  FROM {table}
  WHERE {row_expr} IS NOT NULL AND {col_expr} IS NOT NULL
  GROUP BY 1, 2
),
t AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM cells),
k AS (
  SELECT CAST(COUNT(DISTINCT rk) AS DOUBLE) AS k_rk,
         CAST(COUNT(DISTINCT ck) AS DOUBLE) AS k_ck
  FROM cells
),
w0 AS {mat}(SELECT rk, ck, n, 1.0 AS w FROM cells),
{chain},
fin AS (SELECT rk, ck, n, w FROM {prev})
SELECT rk AS row_key, ck AS col_key, CAST(n AS BIGINT) AS n,
       ROUND(w, 6) AS weight,
       ROUND((w * n) / (SELECT SUM(w * n) FROM fin), 6)
         AS weighted_share
FROM fin
ORDER BY row_key, col_key
"""


def neyman_allocation(
    df: DataFrame,
    stratum_expr: str,
    value_expr: str,
    *,
    budget: int = 1000,
) -> DataFrame:
    """Neyman (variance-optimal) stratified sample allocation — the
    eval-set design primitive: given a measurement budget of ``budget``
    rows and strata with sizes ``N_h`` and population stddevs ``S_h``,
    the allocation minimizing the variance of the stratified mean is
    ``n_h = budget * N_h S_h / sum_h N_h S_h`` (Neyman 1934). Reported
    next to the proportional allocation ``budget * N_h / N`` so the
    table directly shows where variance-optimal sampling diverges from
    naive proportional draws (high-variance strata get oversampled) —
    the complement of :func:`unimax_sample`, which allocates a TRAINING
    token budget for coverage, where this allocates an EVAL row budget
    for variance.

    Returns one row per stratum: ``(stratum, n_rows, sd_pop,
    neyman_share, neyman_alloc, prop_alloc)`` rounded 6, ordered by
    stratum. Allocations are REAL-valued by design — integerization
    (largest-remainder or ceiling) is a caller policy, and rounding
    here would hide sub-1-row strata. Degenerate cases pin: a
    zero-variance stratum gets share 0 (one probe suffices for a
    constant); if EVERY stratum is constant the shares are NULL (no
    variance to allocate against). ``sd_pop`` is computed from sums
    (``sqrt(sum(x^2)/n - mean^2)``, clamped at 0 against float
    cancellation) so both engines evaluate the identical expression.

    Scale shape: ONE map-combinable hash agg over the raw rows plus a
    1-row broadcast of the denominator — no window, no second scan.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    s = F.expr(value_expr).cast("double")
    per = (
        df.select(F.expr(stratum_expr).alias("__h"), s.alias("__x"))
        .where(F.col("__h").isNotNull() & F.col("__x").isNotNull())
        .groupBy("__h")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("__x").alias("sx"),
            F.sum(F.col("__x") * F.col("__x")).alias("sxx"),
        )
        .select(
            "__h",
            "n_rows",
            F.sqrt(
                F.greatest(
                    F.col("sxx") / F.col("n_rows")
                    - (F.col("sx") / F.col("n_rows"))
                    * (F.col("sx") / F.col("n_rows")),
                    F.lit(0.0),
                )
            ).alias("sd"),
        )
    )
    tot = per.agg(
        F.sum(F.col("n_rows") * F.col("sd")).alias("den"),
        F.sum("n_rows").alias("ntot"),
    )
    out = per.crossJoin(F.broadcast(tot))
    share = F.try_divide(F.col("n_rows") * F.col("sd"), F.col("den"))
    alloc = F.try_divide(
        F.lit(float(budget)) * F.col("n_rows") * F.col("sd"), F.col("den")
    )
    return out.select(
        F.col("__h").alias("stratum"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.round("sd", 6).alias("sd_pop"),
        (F.round(share, 6) + F.lit(0.0)).alias("neyman_share"),
        (F.round(alloc, 6) + F.lit(0.0)).alias("neyman_alloc"),
        F.round(
            F.lit(float(budget)) * F.col("n_rows") / F.col("ntot"), 6
        ).alias("prop_alloc"),
    ).orderBy("stratum")


def neyman_allocation_sql(
    table: str,
    stratum_expr: str,
    value_expr: str,
    dialect: str,
    *,
    budget: int = 1000,
) -> str:
    """Dual-dialect twin of :func:`neyman_allocation` (identical text;
    a zero denominator — every stratum constant — pins NULL shares via
    NULLIF, matching try_divide)."""
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    x = f"CAST({value_expr} AS DOUBLE)"
    return f"""
WITH per AS (
  SELECT {stratum_expr} AS h, COUNT(*) AS n_rows,
         SQRT(GREATEST(
           SUM({x} * {x}) / COUNT(*)
           - (SUM({x}) / COUNT(*)) * (SUM({x}) / COUNT(*)),
           0.0)) AS sd
  FROM {table}
  WHERE {stratum_expr} IS NOT NULL AND {value_expr} IS NOT NULL
  GROUP BY 1
),
tot AS (
  SELECT SUM(n_rows * sd) AS den, SUM(n_rows) AS ntot FROM per
)
SELECT h AS stratum, CAST(n_rows AS BIGINT) AS n_rows,
       ROUND(sd, 6) AS sd_pop,
       ROUND(n_rows * sd / NULLIF(den, 0.0), 6) + 0.0 AS neyman_share,
       ROUND({budget}.0 * n_rows * sd / NULLIF(den, 0.0), 6) + 0.0
         AS neyman_alloc,
       ROUND({budget}.0 * n_rows / ntot, 6) AS prop_alloc
FROM per CROSS JOIN tot
ORDER BY stratum
"""
