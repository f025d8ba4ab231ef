"""One driver loop for the iterative operators: a per-round superstep
plus a driver-side convergence test, the pattern the graph chapter of
*MapReduce Algorithms for Big Data Analysis* (VLDB 2012) gives every
iterative graph job.

The caller supplies the superstep and the stop test; :func:`fixpoint`
owns the rest. Each round is ONE action: an eager checkpoint, which
cuts the lineage and resolves the round's ``observe`` metrics. Then
come the stop test, the release of the previous round's checkpoint,
and a warning if the round cap comes first. Loop dials apply in a
child session (``session.child_session``), never on the caller's.
"""

from __future__ import annotations

import warnings
from collections.abc import Callable, Mapping, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, Observation

from ..session import child_session, rebind

Metrics = dict[str, Any]


def materialize(
    df: DataFrame, *metrics: Column, checkpoint_dir: str | None = None
) -> tuple[DataFrame, Metrics]:
    """Checkpoint ``df`` eagerly, with the aggregate ``metrics`` riding
    the same action. localCheckpoint lives on the executors; pass
    ``checkpoint_dir`` (HDFS/S3) for a reliable checkpoint that
    survives executor loss on a cluster."""
    obs = Observation() if metrics else None
    if obs is not None:
        df = df.observe(obs, *metrics)
    if checkpoint_dir:
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        df = df.checkpoint(eager=True)
    else:
        df = df.localCheckpoint(eager=True)
    return df, (obs.get if obs is not None else {})


def _release(df: DataFrame) -> None:
    """Drop the blocks of a frame :func:`materialize` made; nothing
    may read it afterwards. (``RDD.unpersist`` does the same but warns
    on every locally checkpointed RDD.)"""
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, Metrics, int], tuple[DataFrame, Sequence[Column]]],
    rounds: int,
    *,
    until: Callable[[Metrics, Metrics], bool] | None = None,
    metrics: Metrics | None = None,
    dials: Mapping[str, str] | None = None,
    checkpoint_dir: str | None = None,
    cap_warning: str | None = None,
) -> tuple[DataFrame, Metrics]:
    """Run at most ``rounds`` rounds from ``state``; return the last
    state, bound to ``state``'s session, and its metrics.

    Round ``i`` calls ``step(state, m, i)`` with the previous round's
    checkpointed state and metrics (``state`` and ``metrics`` before
    round 0). It returns the next state, built lazily, and the
    aggregates to observe on it. ``until(previous metrics, metrics)``
    ends the loop early; if it never does, ``cap_warning`` is warned.
    ``dials`` are the confs the rounds are planned and run under."""
    caller = state.sparkSession
    session = child_session(caller, dials) if dials else caller
    m = dict(metrics or {})
    made = None
    for i in range(rounds):
        nxt, cols = step(state, m, i)
        prev_m = m
        state, m = materialize(rebind(nxt, session), *cols, checkpoint_dir=checkpoint_dir)
        if made is not None:
            _release(made)
        made = state
        if until is not None and until(prev_m, m):
            break
    else:
        if cap_warning and rounds > 0:
            warnings.warn(cap_warning, stacklevel=3)
    return rebind(state, caller), m
