"""Parquet table loader tolerant of TIMESTAMP(NANOS) columns.

The driver's synthetic ``events`` table stores its ``ts`` column as Parquet
INT64 TIMESTAMP(NANOS), which Spark's vectorized reader rejects
(PARQUET_TYPE_ILLEGAL). We flip the session-scoped legacy flag that surfaces
nanos as BIGINT and rebuild a proper timestamp with integer division
(``DIV 1000`` — a double division would lose precision at 1.7e18 nanos).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NANOS_FLAG = "spark.sql.legacy.parquet.nanosAsLong"

# Inputs below this compressed size are eligible for spreading across the
# cluster (see load_table). 256 MB ~= a couple of default parquet row groups.
SPREAD_THRESHOLD_BYTES = 256 * 1024 * 1024

# Schema (metadata) cache: (resolved path, mtime_ns, size) -> (StructType,
# nanos-flag needed). A bare ``spark.read.parquet(path)`` re-lists the
# input and re-reads parquet footers on EVERY call — measured 70-107 ms per
# table reference at sf0.1 vs ~11 ms with an explicit schema, i.e. tens of
# seconds across a 382-query bench, and at 100 TB the driver-side listing/
# footer pass is exactly what table formats exist to avoid (optimization
# guide §6: manifest metadata beats re-listing). This caches ONLY schema
# metadata, never data or results; the mtime/size key invalidates it the
# moment a file is rewritten.
_SCHEMA_CACHE: dict[tuple[str, int, int], tuple["T.StructType", bool]] = {}


def _path_stamp(path: str) -> tuple[str, int, int] | None:
    """Cache key for a parquet file or directory of part files."""
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
            mt = max([st.st_mtime_ns] + [os.stat(p).st_mtime_ns for p in parts])
            sz = sum(os.stat(p).st_size for p in parts)
            return (path, mt, sz)
        return (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, spread: bool = False
) -> DataFrame:
    """Load ``{sf_dir}/{name}.parquet``, converting nanos timestamps.

    **Small-unsplittable-input rule** (``spread=True``): a parquet file is
    splittable only at row-group granularity; a single-row-group file pins
    every stage below the first exchange to ONE task no matter how many
    executors exist. Opting in pays one round-robin shuffle up front to
    unlock full parallelism for heavy per-row work above the scan (Catalyst
    still pushes filters below the repartition, so parquet pushdown is
    unaffected); inputs over ``SPREAD_THRESHOLD_BYTES`` never spread — at
    100 TB the scan parallelizes natively.

    Default is OFF: measured at sf0.1 (10 MB/600k-row lineitem), the
    added shuffle + per-task scheduling overhead loses more than the extra
    cores win for scan-then-aggregate shapes, and mapInPandas stages pay a
    Python-worker fan-out per partition. Use it selectively where per-row
    compute genuinely dominates (the brute-force pair operators repartition
    internally for exactly that reason).
    """
    path = f"{sf_dir}/{name}.parquet"
    stamp = _path_stamp(path)
    cached = _SCHEMA_CACHE.get(stamp) if stamp is not None else None
    if cached is not None:
        schema, needs_nanos = cached
        if needs_nanos:
            # the flag also governs scan EXECUTION (the vectorized reader
            # rejects TIMESTAMP(NANOS) without it), not just inference
            spark.conf.set(_NANOS_FLAG, "true")
        df = spark.read.schema(schema).parquet(path)
    else:
        needs_nanos = False
        try:
            df = spark.read.parquet(path)
            # force schema resolution now so the fallback below can trigger
            _ = df.schema
        except Exception:
            spark.conf.set(_NANOS_FLAG, "true")
            needs_nanos = True
            df = spark.read.parquet(path)
        if stamp is not None:
            _SCHEMA_CACHE[stamp] = (df.schema, needs_nanos)

    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))

    # Parquet timestamps without isAdjustedToUTC read as TIMESTAMP_NTZ in
    # Spark 4, which has no numeric cast and diverges from the LTZ the nanos
    # rebuild above produces. The session zone is pinned UTC (session.py),
    # so casting NTZ -> LTZ is value-preserving; normalizing here gives every
    # downstream operator ONE timestamp flavor regardless of how the driver
    # happened to write the parquet (nanos round 1, micros round 2).
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(
                field.name, F.col(field.name).cast(T.TimestampType())
            )

    if spread:
        try:
            nbytes = (
                sum(os.path.getsize(p) for p in glob.glob(f"{path}/*.parquet"))
                if os.path.isdir(path) else os.path.getsize(path)
            )
        except OSError:
            nbytes = None
        if nbytes is not None and nbytes < SPREAD_THRESHOLD_BYTES:
            df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


# -- driver-assembled small frames -------------------------------------------

# ``spark.createDataFrame(rows, schema)`` on a plain Python list always takes
# the pickled-RDD path: the rows are parallelized into defaultParallelism
# slices and scanned back through a Python-worker stage — measured ~0.27-0.36s
# to materialize an 11-row frame at local[32] (~155 ms/task scheduling floor x
# 32 near-empty tasks). A parameterized ``VALUES`` statement builds the same
# rows as a pure-JVM LocalRelation instead: ~0.10-0.14s per materialization,
# no Python workers, no RDD scan (optimization guide §4 — eliminate the
# JVM<->Python boundary; §1.2 — fixed per-query costs). Named parameters
# (:pN) carry the values, so string escaping is the literal binder's job,
# and every cell is CAST to the declared type in the SQL text, pinning the
# column wire types exactly as an explicit StructType does. Parse cost grows
# with the parameter count and crosses over with the RDD path around ~300
# parameters (measured), so above _MAX_PARAMS cells the rows travel as one
# Arrow batch instead (``createDataFrame(pandas_df, schema)``): also a
# LocalRelation, ~25 ms to build and collect a 672-cell frame against
# ~160-190 ms and one job for the pickled-RDD path (local[4]).
_LOCAL_FRAME_MAX_PARAMS = 256


def _local_frame_infer(rows: list, names: list[str]) -> "T.StructType | None":
    """Infer a StructType for a name-list schema the way createDataFrame
    would (int->LONG, float->DOUBLE, str->STRING, bool->BOOLEAN); None when
    any column's non-null cells disagree or use types outside that set."""
    import datetime

    py2spark = {
        str: T.StringType(), bool: T.BooleanType(), int: T.LongType(),
        float: T.DoubleType(), bytes: T.BinaryType(),
        datetime.datetime: T.TimestampType(), datetime.date: T.DateType(),
    }
    fields = []
    for i, nm in enumerate(names):
        seen = {type(r[i]) for r in rows if r[i] is not None}
        # bool is an int subclass in Python but a distinct Spark type; a
        # mixed column would change inference — bail to createDataFrame
        if len(seen) != 1:
            return None
        t = seen.pop()
        if t not in py2spark:
            return None
        fields.append(T.StructField(nm, py2spark[t]))
    return T.StructType(fields)


def local_frame(
    spark: SparkSession, rows, schema
) -> DataFrame:
    """Drop-in for ``spark.createDataFrame(rows, schema)`` for SMALL
    driver-assembled frames (stats rows, query-token frames, centroid-free
    metadata): builds a JVM ``LocalRelation`` — via a parameterized VALUES
    statement up to ``_LOCAL_FRAME_MAX_PARAMS`` cells, via one Arrow batch
    above that — so collecting it runs no Spark job and starts no Python
    worker. Falls back to ``createDataFrame`` whenever the schema is
    unknown or a cell is outside the type allowlist below (lists/dicts/
    Rows, mismatched types). Values and column wire types are identical
    either way — the fallback IS the reference implementation.

    Column NULLABILITY may differ from createDataFrame's all-nullable
    default (a VALUES column with no NULL cell infers non-nullable).
    Nullability is not part of any result surface here: collected values,
    ``dtypes`` strings, and the DuckDB parity gate (names + type families
    + values) are all nullability-blind, and the 382-query oracle mirror
    stays green across the swap.
    """
    import datetime
    import decimal

    rows = list(rows)  # materialize FIRST: generators must survive both
    # the inference pass and the fallback (review find, round 10)

    if isinstance(schema, str):
        try:
            schema_t = T.StructType.fromDDL(schema)
        except Exception:
            schema_t = None  # not DDL createDataFrame can't also judge
        if not isinstance(schema_t, T.StructType):
            # bare atomic DDL ("long") parses to a non-struct DataType;
            # createDataFrame accepts it, the VALUES path cannot
            schema_t = None
    elif isinstance(schema, T.StructType):
        schema_t = schema
    elif isinstance(schema, (list, tuple)) and rows:
        schema_t = _local_frame_infer(rows, list(schema))
    else:
        schema_t = None

    if schema_t is None:
        return spark.createDataFrame(rows, schema)

    # Exact python-type-per-field allowlist. STRICTER than
    # createDataFrame's verifier on purpose: a mismatched cell (e.g. a
    # stringified number into BIGINT, or bool into an integral column —
    # bool is an int subclass, hence type() not isinstance) falls back
    # to createDataFrame, which preserves the reference behavior
    # LOUDLY instead of letting CAST coerce it silently (review find,
    # round 10). Strictness only ever costs the fast path, never
    # changes a value.
    py_ok = {
        T.StringType: (str,), T.BooleanType: (bool,),
        T.ByteType: (int,), T.ShortType: (int,), T.IntegerType: (int,),
        T.LongType: (int,), T.FloatType: (float,), T.DoubleType: (float,),
        T.DecimalType: (decimal.Decimal,), T.BinaryType: (bytes,),
        T.TimestampType: (datetime.datetime,), T.DateType: (datetime.date,),
    }
    allowed = []
    for f in schema_t.fields:
        ok = py_ok.get(type(f.dataType))
        if ok is None:
            return spark.createDataFrame(rows, schema)
        allowed.append(ok)
    for r in rows:
        if len(r) != len(schema_t.fields) or not all(
            v is None or type(v) in allowed[i] for i, v in enumerate(r)
        ):
            return spark.createDataFrame(rows, schema)

    fields = schema_t.fields
    if not rows:
        # one all-NULL row cut by LIMIT 0: the optimizer folds it into an
        # empty LocalRelation, so even an empty frame collects without a job
        return _values_frame(spark, [(None,) * len(fields)], fields).limit(0)
    if len(rows) * len(fields) > _LOCAL_FRAME_MAX_PARAMS:
        return _arrow_frame(spark, rows, schema_t)
    out = _values_frame(spark, rows, fields)
    if [(f.name, f.dataType) for f in out.schema.fields] != [
        (f.name, f.dataType) for f in fields
    ]:  # pragma: no cover - type pin must never drift silently
        return spark.createDataFrame(rows, schema)
    return out


def _values_frame(spark: SparkSession, rows: list, fields) -> DataFrame:
    """``rows`` as a parameterized ``VALUES`` statement, each cell CAST to
    its field's type."""
    n = len(fields)
    ddl = [f.dataType.simpleString() for f in fields]
    parts = []
    args: dict[str, object] = {}
    for r_i, row in enumerate(rows):
        base = r_i * n
        parts.append("(" + ",".join(
            f"CAST(:p{base + i} AS {ddl[i]})" for i in range(n)
        ) + ")")
        for i in range(n):
            args[f"p{base + i}"] = row[i]
    return spark.sql("VALUES " + ",".join(parts), args=args).toDF(
        *[f.name for f in fields]
    )


def _arrow_frame(spark: SparkSession, rows: list, schema_t) -> DataFrame:
    """``rows`` as one Arrow batch (the session's Arrow setting applies).
    Columns are object-dtype pandas Series, so a ``None`` in an integral
    column stays null instead of turning the column into float64, and
    columns are matched by position, so repeated names survive."""
    import datetime

    import pandas as pd

    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    cols = {}
    for i, f in enumerate(schema_t.fields):
        vals = [r[i] for r in rows]
        if isinstance(f.dataType, T.TimestampType):
            # createDataFrame's own conversion (a naive datetime is local
            # wall time, resolved by time.mktime), carried as aware UTC so
            # both paths agree under any process time zone, DST gaps too
            vals = [
                None if v is None else epoch + datetime.timedelta(
                    microseconds=f.dataType.toInternal(v))
                for v in vals
            ]
        cols[i] = pd.Series(vals, dtype=object)
    return spark.createDataFrame(pd.DataFrame(cols), schema_t)
