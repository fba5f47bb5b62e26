"""Storage for intermediates that an operator's lazy plan reads more than once.

``checkpoint(df)`` is a lazy ``localCheckpoint``: the first action that reads
it fills it, and it lives while any plan reads it, frames derived from the
operator's result included. Spark's ``ContextCleaner`` frees it seconds after
the JVM collects the last such plan; ``release``/``scoped`` free it eagerly.
Like the engine's loop checkpoints, it does not survive the loss of the
executor that holds it.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame

_MADE: dict[int, list[int]] = {}  # checkpoint RDD id -> engine ones it read


def _rdd_ids(df: DataFrame) -> list[int]:
    it = df._jdf.queryExecution().logical().collectLeaves().iterator()
    leaves = (it.next() for _ in iter(it.hasNext, False))
    return [lf.rdd().id() for lf in leaves
            if lf.getClass().getSimpleName() == "LogicalRDD"]


def checkpoint(df: DataFrame) -> DataFrame:
    out = df.localCheckpoint(eager=False)
    _MADE[_rdd_ids(out)[0]] = [i for i in _rdd_ids(df) if i in _MADE]
    return out


def release(out: DataFrame) -> None:
    """Unpersist now the engine checkpoints ``out``'s plan reads and those
    they were built from, never a caller's own; idempotent. A local
    checkpoint cannot be recomputed: frames that share these intermediates
    must not be collected afterwards."""
    if not _MADE:
        return
    rdds = out.sparkSession.sparkContext._jsc.getPersistentRDDs()
    todo = _rdd_ids(out)
    while todo:
        i = todo.pop()
        nested = _MADE.pop(i, None)
        if nested is not None:
            todo += nested
            if rdds.containsKey(i):
                rdds.get(i).unpersist(False)
    for i in _MADE.keys() - set(rdds.keySet().toArray()):
        _MADE.pop(i, None)  # already freed by the ContextCleaner


def release_all(frames) -> None:
    for f in frames:
        release(f)


@contextlib.contextmanager
def scoped(out: DataFrame):
    try:
        yield out
    finally:
        release(out)


def persisted_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()
