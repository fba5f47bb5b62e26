"""Structured Streaming layer: the dashboard-refresh semantics, stream-native.

The reference has no streaming engine (SURVEY.md §2.10) — its only
"streaming-ish" behavior is Kibana re-running dashboard aggregations over
newly indexed documents (auto-refresh, ``services/webapp/src/config.js:31-32``)
while the ES index accretes bulk appends (``notebooks/lib/esindex.py:116-139``).
The Spark-native mapping, built here:

- **index refresh ≈ micro-batch append**: a file/parquet source streaming new
  document batches (``read_document_stream``).
- **dashboard agg ≈ windowed aggregation**: event-time tumbling/sliding
  windows with a watermark bounding state for late data
  (``windowed_counts`` — the streaming twin of the batch ``event_window``
  query in ``__spark_entry__.py``).
- **per-refresh panel fan-out**: ``dashboard_refresh`` runs the *batch*
  aggregation panels over each micro-batch via ``foreachBatch`` — the same
  operator objects serve both engines, Spark's batch/streaming unification.
- **custom stateful operator**: ``sessionize`` — gap-based sessionization via
  ``applyInPandasWithState`` (arbitrary stateful processing; the one place
  where built-in windows genuinely can't express the semantics).

Scale notes: the watermark bounds the streaming state store (without it a
100 TB/day stream accretes unbounded window state); the windowed agg is a
partial+final hash agg per micro-batch exactly like batch; sessionize state
is partitioned by key, so skewed keys — not volume — are the limit, and the
key should be salted upstream if a single entity dominates.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

from harmonize_search_analyze_spark.functions import caching
from harmonize_search_analyze_spark.sources.tables import local_frame

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


def read_document_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream: each newly landed file is a micro-batch (the
    bulk-index append of ``esindex.py`` re-expressed). ``maxFilesPerTrigger``
    paces replay so tests and backfills process deterministically."""
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def windowed_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
    value_col: str | None = "value",
) -> DataFrame:
    """Event-time windowed count/avg with a late-data watermark — the
    streaming form of the dashboard's time-bucketed count panel.

    Tumbling when ``slide`` is None, sliding otherwise. The watermark lets
    Spark drop window state older than max(event time) - watermark, which is
    what makes this run forever at scale."""
    win = (
        F.window(ts_col, window) if slide is None
        else F.window(ts_col, window, slide)
    )
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if value_col is not None:
        aggs.append(F.round(F.avg(value_col), 6).alias("avg_value"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"))
        .agg(*aggs)
        .select(F.col("w.start").alias("window_start"), *[
            F.col(c) for c in (["cnt", "avg_value"] if value_col else ["cnt"])
        ])
    )


def dashboard_refresh(
    stream: DataFrame,
    panels: dict[str, "callable"],
    sink: "callable",
    checkpoint_dir: str,
    trigger_seconds: float | None = None,
):
    """Run the *batch* dashboard panels over every micro-batch
    (``foreachBatch``): each refresh interval, the newly arrived documents are
    aggregated by the same panel functions the batch dashboard uses, and the
    results handed to ``sink(name, DataFrame, batch_id)``.

    This is the Kibana auto-refresh loop inverted: instead of re-querying the
    whole index each tick, only the delta is aggregated — the caller's sink
    merges (or overwrites) per panel."""
    def run_panels(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.persist()
        try:
            for name, fn in panels.items():
                sink(name, fn(batch_df), batch_id)
        finally:
            batch_df.unpersist()

    writer = (
        stream.writeStream.foreachBatch(run_panels)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


# -- custom stateful operator: gap sessionization ---------------------------

SESSION_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_start", T.TimestampType()),
    T.StructField("session_end", T.TimestampType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("sum_value", T.DoubleType()),
])

_SESSION_STATE_SCHEMA = T.StructType([
    T.StructField("start_us", T.LongType()),
    T.StructField("end_us", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("sum_value", T.DoubleType()),
])


class SessionProcessor(StatefulProcessor):
    """Per-key gap sessionizer for ``transformWithStateInPandas``.

    State: one open-session tuple ``(start_us, end_us, n_events, sum_value)``
    per key. Events extend the open session; an inter-event gap larger than
    ``gap_seconds`` closes it (one output row per CLOSED session). A
    processing-time timer flushes sessions whose key goes quiet.

    (The older ``applyInPandasWithState`` expresses the same operator, but its
    exec node hits a plan-clone NPE in Spark 4.1 — SparkPlan.session null in
    PythonSQLMetrics init — so we target the state-v2 API, which also buys
    RocksDB state stores and per-state-name schemas at scale.)
    """

    def __init__(self, gap_seconds: int = 1800):
        self.gap_us = gap_seconds * 1_000_000
        self.gap_ms = gap_seconds * 1000

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._state = handle.getValueState("open_session", _SESSION_STATE_SCHEMA)

    def _emit(self, key: tuple, closed: list[tuple]) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(closed),
                "session_start": [pd.Timestamp(c[0], unit="us") for c in closed],
                "session_end": [pd.Timestamp(c[1], unit="us") for c in closed],
                "n_events": [c[2] for c in closed],
                "sum_value": [round(c[3], 6) for c in closed],
            }
        )

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues: TimerValues
    ) -> Iterator[pd.DataFrame]:
        ts_list: list[int] = []
        val_list: list[float] = []
        for pdf in rows:
            ts_list.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
            val_list.extend(float(v) for v in pdf["value"].fillna(0.0))
        order = sorted(range(len(ts_list)), key=ts_list.__getitem__)
        if self._state.exists():
            s, e, n, v = self._state.get()
        else:
            s, e, n, v = None, None, 0, 0.0
        closed: list[tuple] = []
        for i in order:
            t, val = ts_list[i], val_list[i]
            if s is None:
                s, e, n, v = t, t, 1, val
            elif t - e >= self.gap_us:
                # >= not >: the batch twin (sessionize_batch) and Spark's
                # built-in session_window both START a new session when the
                # gap equals gap_seconds (window end is exclusive) — all
                # three paths must agree at the boundary
                closed.append((s, e, n, v))
                s, e, n, v = t, t, 1, val
            else:
                e, n, v = max(e, t), n + 1, v + val
        if s is not None:
            self._state.update((s, e, n, v))
            for t_old in self._handle.listTimers():
                self._handle.deleteTimer(t_old)
            self._handle.registerTimer(
                timerValues.getCurrentProcessingTimeInMs() + self.gap_ms
            )
        if closed:
            yield from self._emit(key, closed)

    def handleExpiredTimer(
        self, key: tuple, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        if self._state.exists():
            s, e, n, v = self._state.get()
            self._state.clear()
            yield from self._emit(key, [(s, e, n, v)])

    def close(self) -> None:
        pass


def stateful_api_available() -> bool:
    """Whether the arbitrary-stateful pandas path can run here.

    ``transformWithStateInPandas`` needs ``google.protobuf`` for its
    state-server protocol (and ``applyInPandasWithState``'s exec node hits a
    plan-clone NPE in Spark 4.1), so environments without protobuf fall back
    to the built-in ``session_window`` operator (``sessionize_stream``),
    which covers the gap-session semantics JVM-side anyway."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def sessionize(
    stream: DataFrame,
    gap_seconds: int = 1800,
    key_col: str = "user_id",
) -> DataFrame:
    """Gap-based sessionization as an arbitrary-stateful streaming operator
    (``transformWithStateInPandas``): emits one row per CLOSED session; a
    processing-time timer flushes sessions whose key goes quiet.

    Requires the RocksDB state store provider (set here on the stream's
    session — the state-v2 operator rejects the default HDFS-backed store)
    and ``google.protobuf`` (see ``stateful_api_available``); prefer
    ``sessionize_stream`` unless per-event custom state logic is needed.
    """
    if not stateful_api_available():
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf, which this "
            "environment lacks; use sessionize_stream (built-in "
            "session_window) instead"
        )
    stream.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    return (
        stream.groupBy(key_col)
        .transformWithStateInPandas(
            statefulProcessor=SessionProcessor(gap_seconds),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            outputMode="Append",
            timeMode="ProcessingTime",
        )
    )


def sessionize_stream(
    stream: DataFrame,
    gap_seconds: int = 1800,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Gap-based sessionization via the BUILT-IN ``session_window`` — the
    idiomatic Spark path: JVM-side session state, event-time gap merging,
    watermark-bounded. Append mode emits each session once its window can no
    longer grow (watermark passes session end + gap).

    ``sessionize_batch`` is the exact batch twin / oracle."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), f"{gap_seconds} seconds").alias("w"),
            F.col(key_col),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.coalesce(F.col(value_col), F.lit(0.0))), 6)
            .alias("sum_value"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select(key_col, "session_start", "session_end", "n_events", "sum_value")
    )


def sessionize_batch(
    df: DataFrame,
    gap_seconds: int = 1800,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Batch twin of ``sessionize`` (pure window functions, no Python):
    session = run of events per key with inter-event gap < gap_seconds
    (``session_window``'s window end is exclusive: an event at exactly
    last + gap starts a NEW session — pinned here to match). Provides the
    oracle for the streaming operator and the backfill path — one window
    shuffle on (key, ts), one hash agg."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col)
    gap = F.col(ts_col).cast("double") - F.lag(F.col(ts_col).cast("double")).over(w)
    sess = (
        df.withColumn("_new", (gap.isNull() | (gap >= gap_seconds)).cast("int"))
        .withColumn("_sid", F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ))
    )
    return (
        sess.groupBy(key_col, "_sid")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.coalesce(F.col(value_col), F.lit(0.0))), 6)
            .alias("sum_value"),
        )
        .drop("_sid")
    )


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins the *current*
    snapshot of a static dimension table (the ingest-time version of the
    batch star join in operators/joins.py).

    Stateless by construction — the static side re-resolves per batch, so
    no watermark and no join state accrues; Spark broadcasts the dim (we
    pin it with an explicit hint) making enrichment a map-only stage on the
    stream. This is the scale-correct shape for "attach city/dictionary
    metadata at ingest": the alternative, stream-stream join, would hold
    state forever for a table that isn't actually streaming. Only inner and
    left joins keep the stream append-only (right/full would need to emit
    dim rows with no stream match yet — unsupported by Spark for the same
    reason)."""
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(
            "stream-static enrichment supports inner/left joins only "
            f"(append-only output), got {how!r}"
        )
    return stream.join(F.broadcast(dim), on, how)


def _read_state_or_none(spark: SparkSession, path: str):
    """Read a parquet state directory, returning None ONLY when the path
    does not exist yet (first epoch). Any other failure — transient FS
    error, corrupt footer, permissions — re-raises: treating it as
    "no state" would silently disable history dedup for the batch and
    permanently duplicate the output sink (review finding)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup — the stream twin of
    ``operators/dedup.py::exact_dedup`` for an always-on ingest pipeline:
    keep the first occurrence of each ``keys`` tuple, dropping re-deliveries
    that arrive within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` bounds the dedup state: a key's
    fingerprint is held only until the watermark passes it, so state size
    tracks the (event-time) dedup window, not stream history — the property
    that lets exact dedup run forever at ingest scale. Duplicates separated
    by more than the watermark require the batch pass (exact_dedup) —
    identical semantics to any at-least-once ingest dedup tier.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    *,
    left_ts: str,
    right_ts: str,
    max_delay_seconds: int = 600,
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with an event-time range bound: a right-side
    event matches a left-side event with the same key iff it lands in
    ``[left_ts, left_ts + max_delay_seconds]`` — the ad-attribution /
    request-response pairing shape (the streaming twin of
    ``operators/joins.py::interval_join`` with the interval anchored at the
    left event).

    Both sides get watermarks, and the time-range condition is what lets
    Spark BOUND the join state: a buffered left row can be dropped once the
    right watermark passes ``left_ts + max_delay_seconds`` (and vice
    versa), so state tracks the delay window, not stream history. Without
    the range condition Spark would buffer both streams forever — the
    documented unbounded-state failure mode this wrapper exists to prevent.

    ``how``: inner (default) or left_outer (unmatched left rows emit with
    right columns NULL once the watermark closes their window — exactly
    the "impressions with no click" attribution output). Timestamp columns
    must be distinctly named; key columns are equi-joined by name.
    """
    if how not in ("inner", "left_outer", "leftOuter"):
        raise ValueError(
            f"stream-stream join supports inner/left_outer, got {how!r}"
        )
    keys = [on] if isinstance(on, str) else list(on)
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = None
    for k in keys:
        c = l[k] == r[k]
        cond = c if cond is None else cond & c
    cond = (
        cond
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= l[left_ts]
           + F.expr(f"INTERVAL {int(max_delay_seconds)} SECONDS"))
    )
    joined = l.join(r, cond, how)
    # project the duplicated key columns once (left side wins)
    drop = [r[k] for k in keys]
    for c in drop:
        joined = joined.drop(c)
    return joined


def near_dup_stream(
    stream: DataFrame,
    state_path: str,
    dups_path: str,
    checkpoint: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    est_threshold: float = 0.875,
    k: int = 8,
    n: int = 3,
    seed: int = 42,
):
    """Streaming NEAR-dup filter: every micro-batch is deduped against the
    accumulated MinHash signature state (and within itself) via
    ``operators/dedup.py::lsh_incremental``, emitting verified pairs to
    ``dups_path`` and appending only the NEW ids' signatures to
    ``state_path`` — the always-on twin of the batch incremental dedup,
    with the same equivalence contract (pairs across all micro-batches ==
    one batch call over the concatenated stream).

    State is an append-only parquet signature table (k BIGINTs per doc —
    metadata-sized next to the corpus), read once per micro-batch;
    exactly-once comes from the foreachBatch checkpoint: a replayed epoch
    re-anti-joins against state and re-appends nothing new, and the dups
    sink is idempotent per (id_new, id_prior) downstream. Text of earlier
    documents is never re-read — the property that lets this run forever
    at ingest scale. Returns the started StreamingQuery.
    """
    from harmonize_search_analyze_spark.operators.dedup import lsh_incremental

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        state = _read_state_or_none(spark, state_path)
        have_state = state is not None
        dups, new_state = lsh_incremental(
            batch_df, state, id_col, text_col,
            est_threshold=est_threshold, k=k, n=n, seed=seed,
        )
        dups.write.mode("append").parquet(dups_path)
        if have_state:
            fresh = new_state.join(
                state.select(id_col), id_col, "left_anti"
            )
        else:
            fresh = new_state
        fresh.write.mode("append").parquet(state_path)

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def bloom_dedup_stream(
    stream: DataFrame,
    state_path: str,
    out_path: str,
    checkpoint: str,
    *,
    key_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 20,
    k: int = 5,
    seed: int = 42,
):
    """Streaming EXACT dedup against the full ingest history — the
    unbounded-horizon complement of ``dedup_stream`` (whose
    dropDuplicatesWithinWatermark state only spans the watermark): every
    micro-batch keeps only rows whose ``key_col`` has never been ingested,
    using the persisted Bloom word table as the map-side prefilter and the
    digest table for the exact verify (``operators/bloom.py`` semantics:
    Bloom "no" skips the anti-join entirely; the "maybe" sliver — true
    duplicates plus the FP rate — is re-checked exactly).

    State layout under ``state_path``: ``digests/`` (one 60-bit md5 digest
    per distinct ingested key — what the verify anti-joins) and ``bloom/``
    (append-only word-table rows; the probe bit_or-folds them at read, so
    "merging" filters is just appending — no read-modify-write races with
    the exactly-once foreachBatch replay).

    Within-batch re-deliveries collapse to the first occurrence by id
    (pinned MIN) before the history check. New rows append to
    ``out_path``; their digests and word-table contribution append to
    state. A replay of a COMPLETED epoch re-checks against state and
    re-emits nothing; a replay after a partial failure (out written,
    digests not) can re-append — the out sink is at-least-once per key,
    dedupable downstream by key, the same contract near_dup_stream's
    pair sink carries. Returns the started StreamingQuery.
    """
    from harmonize_search_analyze_spark.functions.hashing import hash64_sql
    from harmonize_search_analyze_spark.operators.bloom import (
        bloom_build,
        bloom_flag_maybe,
    )

    digests_path = f"{state_path}/digests"
    bloom_path = f"{state_path}/bloom"
    digest = F.expr(hash64_sql(key_col, "spark"))

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        w = Window.partitionBy(key_col).orderBy(id_col)
        batch = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn("__digest", digest)
        )
        words = _read_state_or_none(spark, bloom_path)
        have_state = words is not None
        if have_state:
            words = words.groupBy("word_idx").agg(
                F.bit_or("word").alias("word")
            )
            flagged = bloom_flag_maybe(
                batch, words, key_col, m_bits=m_bits, k=k, seed=seed
            )
            sure_new = flagged.where(~F.col("__bloom_maybe")).drop(
                "__bloom_maybe"
            )
            maybe = flagged.where(F.col("__bloom_maybe")).drop("__bloom_maybe")
            prior = spark.read.parquet(digests_path)
            verified = maybe.join(
                prior, maybe["__digest"] == prior["digest"], "left_anti"
            )
            new_rows = sure_new.unionByName(verified)
        else:
            new_rows = batch
        new_rows = new_rows.persist()
        try:
            new_rows.drop("__digest").write.mode("append").parquet(out_path)
            new_rows.select(F.col("__digest").alias("digest")).write.mode(
                "append"
            ).parquet(digests_path)
            bloom_build(
                new_rows, key_col, m_bits=m_bits, k=k, seed=seed
            ).write.mode("append").parquet(bloom_path)
        finally:
            new_rows.unpersist()

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def scd2_upsert_stream(
    stream: DataFrame,
    dim_path: str,
    checkpoint: str,
    *,
    id_col: str,
    tracked: list[str],
    ts_col: str,
) -> "StreamingQuery":
    """Streaming SCD2 dimension maintenance: every micro-batch upserts
    into a versioned parquet dimension via
    ``operators/ordering.py::scd2_merge(close_missing=False)`` — the
    always-on corpus registry (which version of every document/source
    row was live at time T?).

    Per epoch: the batch collapses to its newest row per id
    (``latest_transform`` with the id as tiebreak), ``as_of`` is the
    batch's MAX event timestamp — DATA-derived, so a replayed epoch
    computes the identical merge, and partial-snapshot semantics make
    re-applying an already-applied batch a no-op: exactly-once without
    a transactional sink. The merged dimension is checkpointed eagerly
    BEFORE the overwrite (reading and overwriting the same path in one
    lazy plan would race) and released after it; a production
    deployment swaps the parquet overwrite for a transactional table
    format, the merge plan is unchanged.

    Scale: the merge is one full-outer id join per epoch; history rows
    pass through untouched, so epoch cost tracks open-row count +
    batch size, not history length.
    """
    from harmonize_search_analyze_spark.operators.ordering import (
        latest_transform,
        scd2_merge,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        latest = latest_transform(
            batch_df, [id_col], ts_col, tiebreak=id_col
        ).select(id_col, *tracked, ts_col)
        as_of = latest.agg(F.max(ts_col)).collect()[0][0]
        dim = _read_state_or_none(spark, dim_path)
        if dim is None:
            dim = local_frame(
                spark,
                [],
                latest.select(id_col, *tracked).schema.add(
                    "valid_from", "timestamp"
                ).add("valid_to", "timestamp"),
            )
        merged = caching.checkpoint(scd2_merge(
            dim,
            latest.select(id_col, *tracked),
            id_col,
            tracked,
            str(as_of),
            close_missing=False,
        ), eager=True)
        merged.write.mode("overwrite").parquet(dim_path)
        caching.release(merged)

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def kmv_cardinality_stream(
    stream: DataFrame,
    state_path: str,
    out_path: str,
    checkpoint: str,
    *,
    key_col: str,
    k: int = 256,
) -> "StreamingQuery":
    """Streaming distinct-count estimation via an incremental KMV
    bottom-k sketch (the streaming face of
    ``aggregations.kmv_overlap``'s sketch): each micro-batch folds its
    keys' k smallest distinct hashes into the persisted sketch —
    merge = re-take the k smallest of the union, the KMV law — and
    appends one ``(epoch_id, sketch_size, est_distinct)`` row to the
    output. Exactly-once the KMV way: the merge is IDEMPOTENT (folding
    the same batch twice changes nothing), so a replayed epoch rewrites
    the same sketch.

    State is a <= k-row parquet table — metadata-sized forever, the
    whole point: an infinite stream's distinct count in k rows.
    """
    from harmonize_search_analyze_spark.functions.hashing import (
        hash64_sql,
    )

    two60 = 1152921504606846976.0
    h = hash64_sql(f"CAST({key_col} AS STRING)", "spark")

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_sketch = (
            batch_df.where(F.col(key_col).isNotNull())
            .select(F.expr(h).alias("h"))
            .distinct()
            .orderBy("h")
            .limit(k)
        )
        state = _read_state_or_none(spark, state_path)
        merged = caching.checkpoint(
            batch_sketch if state is None
            else batch_sketch.unionByName(state).distinct()
            .orderBy("h").limit(k),
            eager=True,
        )
        merged.write.mode("overwrite").parquet(state_path)
        stats = merged.agg(
            F.count(F.lit(1)).alias("n"), F.max("h").alias("theta")
        ).collect()[0]
        caching.release(merged)
        n, theta = stats["n"], stats["theta"]
        est = float(n) if n < k else (k - 1) * two60 / float(theta)
        local_frame(
            spark,
            [(int(epoch_id), int(n), round(est, 4))],
            "epoch_id long, sketch_size long, est_distinct double",
        ).write.mode("append").parquet(out_path)

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .start()
    )

def cusum_process_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    out_path: str,
    *,
    ts_col: str,
    bucket_unit: str = "day",
    k: float = 0.5,
    h: float = 5.0,
) -> None:
    """One epoch of :func:`cusum_stream` (module-level so replay
    idempotency is directly testable): fold the batch's bucket counts
    into per-epoch state partitions, recompute the CUSUM monitor over
    the full bucket series, snapshot it. BOTH writes are
    overwrite-at-``epoch=N`` paths — a replayed epoch rewrites the same
    partitions byte-identically, so recovery never double-counts."""
    from harmonize_search_analyze_spark.operators.analytics import (
        cusum_change,
    )

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    counts = caching.checkpoint(
        batch_df.where(F.col(ts_col).isNotNull())
        .groupBy(F.date_trunc(bucket_unit, ts_col).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("doc_count")),
        eager=True,
    )
    counts.write.mode("overwrite").parquet(
        f"{state_path}/epoch={int(epoch_id)}"
    )
    caching.release(counts)
    totals = (
        spark.read.parquet(state_path)
        .groupBy("bucket")
        .agg(F.sum("doc_count").alias("doc_count"))
    )
    monitor = caching.checkpoint(
        cusum_change(totals, "bucket", "doc_count", k=k, h=h), eager=True
    )
    monitor.write.mode("overwrite").parquet(
        f"{out_path}/epoch={int(epoch_id)}"
    )
    caching.release(monitor)


def cusum_stream(
    stream: DataFrame,
    state_path: str,
    out_path: str,
    checkpoint: str,
    *,
    ts_col: str = "ts",
    bucket_unit: str = "day",
    k: float = 0.5,
    h: float = 5.0,
) -> "StreamingQuery":
    """Streaming CUSUM drift monitor — the always-on face of
    ``analytics.cusum_change``: every micro-batch folds its bucket
    counts into epoch-keyed state, recomputes the CUSUM over the whole
    series (standardization and the prefix-sum fold must see all
    buckets — CUSUM is a SERIES statistic, not a per-row one), and
    snapshots the monitor frame under ``out_path/epoch=N``. The latest
    epoch partition is the current alarm board.

    Exactly-once the recompute way: state is per-epoch bucket-count
    partitions written with overwrite — a replayed epoch rewrites its
    own partition and recomputes the identical monitor
    (:func:`cusum_process_batch` is the testable unit). State size is
    epochs x live buckets — bucket-level, never event-level.
    """
    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        cusum_process_batch(
            batch_df, epoch_id, state_path, out_path,
            ts_col=ts_col, bucket_unit=bucket_unit, k=k, h=h,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def sprt_process_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    out_path: str,
    *,
    success_expr: str,
    treatment_expr: str,
    ts_col: str,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.2,
) -> None:
    """One epoch of :func:`sprt_stream` (module-level so replay
    idempotency is directly testable, the cusum_process_batch shape):
    fold the batch's treatment-arm day counts into per-epoch state
    partitions, recompute the SPRT trace over the merged day series,
    snapshot it. BOTH writes are overwrite-at-``epoch=N`` paths — a
    replayed epoch rewrites the same partitions byte-identically."""
    from harmonize_search_analyze_spark.operators.analytics import (
        sprt_trace,
    )

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    counts = caching.checkpoint(
        batch_df.where(
            F.expr(treatment_expr) & F.col(ts_col).isNotNull()
        )
        .groupBy(F.to_date(F.col(ts_col)).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.expr(success_expr), 1)).alias("x"),
        ),
        eager=True,
    )
    counts.write.mode("overwrite").parquet(
        f"{state_path}/epoch={int(epoch_id)}"
    )
    caching.release(counts)
    totals = (
        spark.read.parquet(state_path)
        .groupBy("day")
        .agg(F.sum("n").alias("__n"), F.sum("x").alias("__x"))
    )
    trace = caching.checkpoint(
        sprt_trace(totals, p0=p0, p1=p1, alpha=alpha, beta=beta), eager=True
    )
    trace.write.mode("overwrite").parquet(
        f"{out_path}/epoch={int(epoch_id)}"
    )
    caching.release(trace)


def sprt_stream(
    stream: DataFrame,
    state_path: str,
    out_path: str,
    checkpoint: str,
    *,
    success_expr: str,
    treatment_expr: str,
    ts_col: str = "ts",
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.2,
) -> "StreamingQuery":
    """Streaming Wald SPRT monitor — the always-on face of
    ``analytics.sprt_monitor``: every micro-batch folds its treatment-
    arm day counts into epoch-keyed state, recomputes the sequential
    trace over the WHOLE day series (the sticky crossing decisions are
    a series property — a later batch can backfill an earlier day, so
    per-row incremental state would lie), and snapshots the trace under
    ``out_path/epoch=N``. The latest epoch partition is the current
    decision board.

    Exactly-once the recompute way (the cusum_stream contract): state
    is per-epoch day-count partitions written with overwrite, so a
    replayed epoch rewrites its own partition and recomputes the
    identical trace. State size is epochs x live days — calendar-level,
    never event-level.
    """
    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        sprt_process_batch(
            batch_df, epoch_id, state_path, out_path,
            success_expr=success_expr, treatment_expr=treatment_expr,
            ts_col=ts_col, p0=p0, p1=p1, alpha=alpha, beta=beta,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def mg_summary(
    df: DataFrame, key_col: str, m: int
) -> DataFrame:
    """Misra-Gries summary of a BATCH (Misra & Gries 1982; the
    mergeable-summaries form of Agarwal et al. 2013): exact batch
    counts, then — when more than ``m`` keys survive — subtract the
    (m+1)-th largest count from every counter and drop the non-
    positive. At most ``m`` counter rows PLUS one sentinel row
    ``(key NULL, c 0, n_batch N)`` that carries the batch total even
    when trimming drops every counter (e.g. > m all-unique keys —
    without the sentinel that epoch's total would vanish from the
    merge and the global error bound would be underestimated). Each
    counter UNDERCOUNTS its key by at most the subtracted offset.
    Consumers must exclude ``key IS NULL`` from counter math and read
    ``n_batch`` from any row (all rows of one summary repeat it)."""
    counts = (
        df.where(F.col(key_col).isNotNull())
        .groupBy(F.col(key_col).cast("string").alias("key"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = counts.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("__n"),
        F.count(F.lit(1)).alias("__k"),
    )
    # the (m+1)-th largest count, 0 when <= m keys: a top-(m+1) sort
    # over the KEY frame (key-cardinality-sized, micro-batch scope)
    offs = (
        counts.orderBy(F.desc("c"), F.asc("key"))
        .limit(m + 1)
        .agg(
            F.when(F.count(F.lit(1)) > m, F.min("c"))
            .otherwise(F.lit(0))
            .alias("__off")
        )
    )
    trimmed = (
        counts.crossJoin(F.broadcast(offs))
        .crossJoin(F.broadcast(tot))
        .select(
            "key",
            (F.col("c") - F.col("__off")).alias("c"),
            F.col("__n").alias("n_batch"),
        )
        .where(F.col("c") > 0)
    )
    sentinel = tot.select(
        F.lit(None).cast("string").alias("key"),
        F.lit(0).cast("long").alias("c"),
        F.col("__n").alias("n_batch"),
    )
    return trimmed.unionByName(sentinel)


def mg_process_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    out_path: str,
    *,
    key_col: str,
    m: int = 64,
    top: int = 10,
) -> None:
    """One epoch of :func:`mg_topk_stream` (module-level so replay
    idempotency is directly testable, the cusum/sprt shape): write the
    batch's OWN Misra-Gries summary to ``state/epoch=N`` (overwrite —
    a replayed epoch rewrites the same <= m+1 rows byte-identically;
    the +1 is the NULL-key sentinel carrying the batch total),
    MG-merge every epoch's summary (sum counters per key, re-trim to
    m), snapshot the top ``top`` to ``out/epoch=N`` with the global
    undercount bound ``err = N_seen - sum(counters)`` (every counter
    satisfies ``c <= true <= c + err``; any key with true count >
    err is GUARANTEED present — the mergeable-summaries theorem).

    Compatibility note (ADVICE r8): state directories written by the
    pre-sentinel code have epochs WITHOUT sentinel rows. Merging those
    is handled (``n_seen`` takes ``max(n_batch)`` per epoch from the
    counter rows themselves) EXCEPT for old epochs whose trim produced
    zero counter rows — their batch totals were never persisted
    anywhere, so merged ``err_bound`` stays underestimated for those
    epochs until the stream is recomputed from source. Fresh state
    (any epoch written by this code) always carries the sentinel and
    is exact."""
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    summary = caching.checkpoint(mg_summary(batch_df, key_col, m), eager=True)
    summary.write.mode("overwrite").parquet(
        f"{state_path}/epoch={int(epoch_id)}"
    )
    caching.release(summary)
    # merge ONLY epochs <= N: the epoch-N output is the stream summary
    # AS OF epoch N, so a replayed middle epoch rewrites its historical
    # output byte-identically even after later epochs landed
    allsum = spark.read.parquet(state_path).where(
        F.col("epoch").cast("long") <= int(epoch_id)
    )
    # counter merge EXCLUDES the per-epoch sentinel rows (key NULL);
    # they exist only so n_seen below sees every epoch's total even
    # when an epoch's summary trimmed to zero counters
    merged = (
        allsum.where(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.sum("c").alias("c"))
    )
    offs = (
        merged.orderBy(F.desc("c"), F.asc("key"))
        .limit(m + 1)
        .agg(
            F.when(F.count(F.lit(1)) > m, F.min("c"))
            .otherwise(F.lit(0))
            .alias("__off")
        )
    )
    trimmed = (
        merged.crossJoin(F.broadcast(offs))
        .select("key", (F.col("c") - F.col("__off")).alias("c"))
        .where(F.col("c") > 0)
    )
    n_seen = (
        allsum.groupBy(F.col("epoch").cast("long").alias("e"))
        .agg(F.max("n_batch").alias("nb"))
        .agg(F.sum("nb").alias("__n"))
    )
    out = caching.checkpoint(
        trimmed.orderBy(F.desc("c"), F.asc("key"))
        .limit(top)
        .crossJoin(F.broadcast(trimmed.agg(F.sum("c").alias("__sc"))))
        .crossJoin(F.broadcast(n_seen))
        .select(
            F.lit(int(epoch_id)).alias("epoch_id"),
            "key",
            F.col("c").alias("count_min"),
            (F.col("__n") - F.col("__sc")).alias("err_bound"),
        ),
        eager=True,
    )
    out.write.mode("overwrite").parquet(f"{out_path}/epoch={int(epoch_id)}")
    caching.release(out)


def mg_topk_stream(
    stream: DataFrame,
    state_path: str,
    out_path: str,
    checkpoint: str,
    *,
    key_col: str,
    m: int = 64,
    top: int = 10,
) -> "StreamingQuery":
    """Streaming heavy hitters via mergeable Misra-Gries summaries —
    the bounded-state answer to "what are the top keys so far" on an
    unbounded stream (countmin_topk's deterministic-undercount
    sibling): state is one <= m+1-row summary PER EPOCH (epoch-
    partitioned parquet incl. the batch-total sentinel row,
    replay-idempotent overwrites), the per-epoch
    output is the merged top-``top`` with the global error bound.
    State grows m rows per micro-batch — compact epochs offline by
    MG-merging them into one partition when the trail gets long."""
    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        mg_process_batch(
            batch_df, epoch_id, state_path, out_path,
            key_col=key_col, m=m, top=top,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .start()
    )
