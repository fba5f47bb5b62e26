"""Parquet table loader tolerant of TIMESTAMP(NANOS) columns.

The driver's synthetic ``events`` table stores its ``ts`` column as Parquet
INT64 TIMESTAMP(NANOS), which Spark's vectorized reader rejects
(PARQUET_TYPE_ILLEGAL). We flip the session-scoped legacy flag that surfaces
nanos as BIGINT and rebuild a proper timestamp with integer division
(``DIV 1000`` — a double division would lose precision at 1.7e18 nanos).
"""

from __future__ import annotations

import datetime
import decimal
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
# slices and scanned back through a Python-worker stage, one job per collect.
# One Arrow batch (``createDataFrame(pandas_df, schema)``) builds the same
# rows as a JVM LocalRelation instead: collecting it runs no job and starts
# no Python worker (optimization guide §4 — eliminate the JVM<->Python
# boundary; §1.2 — fixed per-query costs). Build plus collect on local[4]
# takes 20-26 ms from 2 to 960 cells, where a parameterized VALUES statement
# took 35-454 ms and a one-slice pickled RDD of 16 64-dim centroids ~300 ms
# (PERFORMANCE.md decision 13).
_PY_OK = {
    T.StringType: (str,), T.BooleanType: (bool,),
    T.ByteType: (int,), T.ShortType: (int,), T.IntegerType: (int,),
    T.LongType: (int,), T.FloatType: (float,), T.DoubleType: (float,),
    T.DecimalType: (decimal.Decimal,), T.BinaryType: (bytes,),
    T.TimestampType: (datetime.datetime,), T.DateType: (datetime.date,),
}
_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def _local_frame_infer(rows: list, names: list[str]) -> "T.StructType | None":
    """Infer a StructType for a name-list schema the way createDataFrame
    would (int->LONG, float->DOUBLE, str->STRING, bool->BOOLEAN); None when
    any column's non-null cells disagree or use types outside that set."""
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
    driver-assembled frames (panel buckets, stats rows, centroids and
    codebooks): builds a JVM ``LocalRelation`` from one Arrow batch, so
    collecting it runs no Spark job and starts no Python worker. An empty
    frame is one all-NULL row cut by ``limit(0)``, which the optimizer
    folds into an empty LocalRelation. Falls back to ``createDataFrame``
    whenever the schema is unknown or a cell is outside the type
    allowlist below (dicts, Rows, nested arrays, mismatched types). Values,
    column types and nullability are identical either way — the fallback
    IS the reference implementation.
    """
    rows = list(rows)  # materialize FIRST: generators must survive both
    # the inference pass and the fallback (review find, round 10)

    if isinstance(schema, str):
        try:
            schema_t = T.StructType.fromDDL(schema)
        except Exception:
            schema_t = None  # not DDL createDataFrame can't also judge
        if not isinstance(schema_t, T.StructType):
            # bare atomic DDL ("long") parses to a non-struct DataType;
            # createDataFrame accepts it, a row batch cannot
            schema_t = None
    elif isinstance(schema, T.StructType):
        schema_t = schema
    elif isinstance(schema, (list, tuple)) and rows:
        schema_t = _local_frame_infer(rows, list(schema))
    else:
        schema_t = None

    if schema_t is None:
        return spark.createDataFrame(rows, schema)
    fields = schema_t.fields
    batch = rows or [(None,) * len(fields)]
    if not all(
        len(r) == len(fields)
        and all(_cell_ok(f.dataType, v, f.nullable) for f, v in zip(fields, r))
        for r in batch
    ):
        return spark.createDataFrame(rows, schema)
    out = _arrow_frame(spark, batch, schema_t)
    return out if rows else out.limit(0)


def _cell_ok(t, v, nullable: bool) -> bool:
    """Exact python-type-per-field allowlist, or an array of an allowlisted
    element type. STRICTER than createDataFrame's verifier on purpose: a
    mismatched cell (e.g. a stringified number into BIGINT, or bool into an
    integral column — bool is an int subclass, hence type() not
    isinstance) falls back to createDataFrame, which preserves the
    reference behavior LOUDLY instead of letting the Arrow conversion
    coerce it silently. A Decimal with more fractional digits than the
    field's scale, or more integer digits than its precision leaves, falls
    back too: Arrow refuses that rescale, and pyspark would then retry it
    as a pickled RDD with a warning. Strictness only ever costs the fast
    path, never changes a value."""
    array = isinstance(t, T.ArrayType)
    if type(t.elementType if array else t) not in _PY_OK:
        return False
    if v is None:
        return nullable
    if array:
        return type(v) is list and all(
            _cell_ok(t.elementType, x, t.containsNull) for x in v
        )
    if type(v) not in _PY_OK[type(t)]:
        return False
    if type(v) is decimal.Decimal:
        if not v.is_finite():
            return False
        _, digits, exp = v.as_tuple()
        return -exp <= t.scale and len(digits) + exp <= t.precision - t.scale
    return True


def _arrow_cell(t, v):
    """createDataFrame's own timestamp conversion (a naive datetime is
    local wall time, resolved by time.mktime), carried as aware UTC so
    both paths agree under any process time zone, DST gaps too."""
    if v is None:
        return None
    if isinstance(t, T.TimestampType):
        return _EPOCH + datetime.timedelta(microseconds=t.toInternal(v))
    if isinstance(t, T.ArrayType) and isinstance(
        t.elementType, T.TimestampType
    ):
        return [_arrow_cell(t.elementType, x) for x in v]
    return v


def _arrow_frame(spark: SparkSession, rows: list, schema_t) -> DataFrame:
    """``rows`` as one Arrow batch (the session's Arrow setting applies).
    Columns are object-dtype pandas Series, so a ``None`` in an integral
    column stays null instead of turning the column into float64, and
    columns are matched by position, so repeated names survive."""
    import pandas as pd

    cols = {
        i: pd.Series([_arrow_cell(f.dataType, r[i]) for r in rows],
                     dtype=object)
        for i, f in enumerate(schema_t.fields)
    }
    return spark.createDataFrame(pd.DataFrame(cols), schema_t)
