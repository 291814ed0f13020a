"""The one round driver for iterative operators: graph propagation,
k-core peeling and integer gradient descent.

Rule: an iterative operator keeps its state as ONE DataFrame and hands
``iterate`` a ``step`` that maps the state to the next round's state.
Rounds chain ``per_job`` at a time into one Spark job, which ends with an
eager ``localCheckpoint`` of the state. The checkpoint cuts lineage, so no
job replays earlier rounds, and it is the only job a round adds. Chaining
more than one round per job is safe only when ``step`` references its
input state once (the self-looped graph propagations); a step that reads
the state twice doubles its subtree with every chained round.

A data-dependent stop is a ``fixpoint``: aggregates over the state that
ride the checkpoint job as an ``Observation``, so only those scalars reach
the driver. The loop stops after the first job that observes the same
values as the job before it. They must be a monotone invariant or a
fingerprint of the whole state (a sum of labels that only decrease; an
edge count plus an order-free hash).

What runs before the loop (materializing an edge list read every round,
persisting a feature table) stays the caller's decision.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    per_job: int = 1,
    fixpoint: Sequence[Column] = (),
) -> list[DataFrame]:
    """Apply ``step`` up to ``rounds`` times, ``per_job`` rounds per
    materialized job; the materialized state of every job, in order."""
    jobs: list[DataFrame] = []
    seen = None
    done = 0
    while done < rounds:
        for _ in range(min(per_job, rounds - done)):
            state = step(state)
            done += 1
        if fixpoint:
            obs = Observation()
            state = state.observe(obs, *fixpoint)
        state = state.localCheckpoint(eager=True)
        jobs.append(state)
        if fixpoint:
            prev, seen = seen, tuple(obs.get.values())
            if seen == prev:
                break
    return jobs


def round_rows(states: list[DataFrame], *cols: Column | str) -> DataFrame:
    """One output row per round of a 1-row state: ``cols`` of the k-th
    state after a ``round`` = k column (k from 1)."""
    return reduce(
        DataFrame.unionAll,
        [s.select(F.lit(k).alias("round"), *cols) for k, s in enumerate(states, 1)],
    )
