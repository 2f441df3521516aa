"""The one round loop behind every iterative DataFrame kernel: Pregel's
join + group-by superstep, run to a fixpoint on the DataFrame runtime
with one driver action per round."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def fixpoint(
    name: str,
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    max_rounds: int,
    changed: Callable[[DataFrame, DataFrame], DataFrame],
) -> tuple[DataFrame, DataFrame, int]:
    """Run ``state = step(state)`` until a round changes nothing.

    Each round builds ``step(state)`` lazily and marks it for a lazy
    ``localCheckpoint``, so lineage stays one round deep.  Its one
    driver action collects ``changed(prev, nxt)``, which materializes
    the checkpoint and returns the only scalar the driver sees: a
    one-row, one-column count of the rows the round moved (a float
    kernel counts the rows that moved by at least its tolerance).
    The loop stops after the first round whose count is 0 (or NULL,
    on an empty state), or after ``max_rounds`` rounds.  A kernel
    whose step is a deterministic function of its state may therefore
    stop early without changing its output: every later round would
    return the same table.  Each round's jobs run under the Spark job
    description ``"<name> round <k>"``; the caller's description is
    restored on return.

    Returns ``(state, prev, rounds)``: the final state, the state one
    round before it (the input itself when no round ran) and the
    number of rounds run.
    """
    sc = state.sparkSession.sparkContext
    caller_desc = sc.getLocalProperty("spark.job.description")
    prev, rounds = state, 0
    try:
        for rounds in range(1, max_rounds + 1):
            sc.setJobDescription(f"{name} round {rounds}")
            prev, state = state, step(state).localCheckpoint(eager=False)
            if not changed(prev, state).collect()[0][0]:
                break
    finally:
        sc.setJobDescription(caller_desc)
    return state, prev, rounds
