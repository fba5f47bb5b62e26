"""Storage for intermediates that an operator's lazy plan reads more than once.

``checkpoint(df)`` is a lazy ``localCheckpoint``: the first action that reads
it fills it, and it lives while any plan reads it, frames derived from the
operator's result included. ``checkpoint(df, eager=True)`` fills it now, in a
job of its own, for a frame that driver code collects from or that several
later jobs read. Spark's ``ContextCleaner`` frees a checkpoint
seconds after the JVM collects the last plan that reads it;
``release``/``scoped`` free it eagerly. Every checkpoint in ``operators/``,
lazy or eager, is made here, so ``release`` frees all of them. A checkpoint
does not survive the loss of the executor that holds it.

``iterate(state, step, iters, measure=None)`` is the one driver for an
operator loop over a frame. It registers its checkpoints as ``checkpoint``
does, so ``release`` frees them too. Checkpoints cut lineage: without them
every step's plan embeds the previous one, Catalyst re-analyses (and
re-runs) the whole unrolled chain, and a 12-step chain OOMed the driver on
plan size alone.

- Without ``measure`` (pagerank, markov_stationary) it applies ``step``
  ``iters`` times and checkpoints lazily after every second step and
  after the last; it returns the state. A depth-2 plan costs less than a
  checkpoint round-trip: markov_stationary at sf0.1 took 2.74 s against
  3.15 s with a checkpoint per step; every third step was no better, and
  no checkpoints at all took 3.7-4.5 s. Lazy, the checkpoints fill inside
  the final action's jobs instead of one job each.
- With ``measure``, an aggregate Column over the state that repeats
  exactly when a step changed nothing (connected_components, k_core),
  every checkpoint is eager and carries ``measure`` as an ``observe()``
  metric of its own job, the initial state's included, so detecting the
  fixpoint costs no extra action (a separate count per step cost
  0.3-0.5 s per connected_components query at sf0.1). The loop stops at
  the first repeat and returns ``(state, reached_fixpoint)``. An empty
  state measures NULL, which repeats, so it stops after one step. The
  measure is taken on the state being checkpointed: an ``observe`` on a
  frame that two join branches read fails in ``toPyRow``. A checkpoint
  per step tied one per two steps on dedup_clusters (PERFORMANCE.md
  decisions 9 and 11).

Loops that stay hand-written (their lazy checkpoints still use
``checkpoint``):

- ``hits_scores``: two coupled states, and it checkpoints the raw
  aggregate inside the step.
- ``kcenter_select``, ``bpe_train``, ``kmeans_train``: each round makes a
  driver-side decision from a collect.
- ``ipf_weights``: one window chain with no checkpoints.
"""

from __future__ import annotations

import contextlib
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation

_MADE: dict[int, list[int]] = {}  # checkpoint RDD id -> engine ones it read


def _rdd_ids(df: DataFrame) -> list[int]:
    it = df._jdf.queryExecution().logical().collectLeaves().iterator()
    leaves = (it.next() for _ in iter(it.hasNext, False))
    return [lf.rdd().id() for lf in leaves
            if lf.getClass().getSimpleName() == "LogicalRDD"]


def checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    out = df.localCheckpoint(eager=eager)
    _MADE[_rdd_ids(out)[0]] = [i for i in _rdd_ids(df) if i in _MADE]
    return out


def iterate(state: DataFrame, step: Callable[[DataFrame], DataFrame],
            iters: int, measure: Column | None = None):
    if measure is None:
        for i in range(iters):
            state = step(state)
            if i % 2 or i == iters - 1:
                state = checkpoint(state)
        return state

    def observed(df: DataFrame):
        obs = Observation()
        return checkpoint(df.observe(obs, measure.alias("m")), eager=True), obs

    state, obs = observed(state)
    for _ in range(iters):
        seen = obs.get["m"]
        state, obs = observed(step(state))
        if obs.get["m"] == seen:
            return state, True
    return state, False


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
