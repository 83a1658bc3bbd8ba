"""The one round driver of the Spark-side iterative loops.

A loop is a ``step`` from one round's state to the next, and the step
makes its own ``localCheckpoint`` calls, so the checkpoint cadence of
every loop is visible in its step (Drizzle, SOSP'17: at small data sizes
the per-round coordination is the cost). :func:`iterate` owns the rest:
the round cap, the convergence probe after each round, the error when a
probed loop reaches its cap (never partial results), and the release of
the previous round's checkpoints once the current round holds an eager
one. Release goes through the checkpoint's RDD, because
``DataFrame.unpersist()`` does not free a ``localCheckpoint``. Checkpoints
the initial state scans belong to the caller and lazy ones are left for
the caller's action to materialize, so neither is released.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame


class NotConverged(RuntimeError):
    """A probed loop reached its round cap before its probe held."""


def _held(state) -> dict[int, Any]:
    """Materialized checkpoint RDDs, by id, that the DataFrames of a state
    (a DataFrame or a tuple holding some) scan."""
    out = {}
    for df in state if isinstance(state, tuple) else (state,):
        if isinstance(df, DataFrame):
            leaves = df._jdf.logicalPlan().collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if leaf.getClass().getSimpleName() == "LogicalRDD":
                    rdd = leaf.rdd()
                    if rdd.isCheckpointed():
                        out[rdd.id()] = rdd
    return out


def iterate(
    state,
    step: Callable,
    rounds: int,
    until: Callable | None = None,
    *,
    strict: bool = True,
    name: str = "loop",
):
    """Run ``step`` for at most ``rounds`` rounds; return the last state.

    ``until(prev, cur)`` is probed after every round and ends the loop when
    it holds. If it never does, the loop raises :class:`NotConverged`, or
    returns the capped state when the cap is part of the loop's definition
    (``strict=False``)."""
    caller = _held(state).keys()
    held: dict[int, Any] = {}  # the loop's own eager checkpoints in use
    for _ in range(rounds):
        nxt = step(state)
        done = until is not None and until(state, nxt)
        made = {i: rdd for i, rdd in _held(nxt).items() if i not in caller}
        if made:  # the lineage now starts at these: release the rest
            for i, rdd in held.items():
                if i not in made:
                    rdd.unpersist(False)
            held = made
        state = nxt
        if done:
            return state
    if until is not None and strict:
        for rdd in held.values():
            rdd.unpersist(False)
        raise NotConverged(f"{name} did not converge in {rounds} rounds")
    return state


def unchanged(measure: Callable) -> Callable:
    """Probe that holds once ``measure`` of a round's state repeats that of
    the round before. Each state is measured once: a round's value is
    carried into the next round's comparison."""
    last: list = [None, None]

    def probe(prev, cur) -> bool:
        before = last[1] if last[0] is prev else measure(prev)
        last[0], last[1] = cur, measure(cur)
        return before == last[1]

    return probe
