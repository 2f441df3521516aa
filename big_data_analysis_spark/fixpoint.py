"""The one round loop behind every iterative DataFrame kernel: Pregel's
join + group-by superstep, run to a fixpoint on the DataFrame runtime,
each round's change count observed by the job that checkpoints it."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation

from . import lifecycle


def fixpoint(
    name: str,
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    max_rounds: int,
    changed: Column,
) -> tuple[DataFrame, DataFrame, int, int | None]:
    """Run ``state = step(state)`` until a round changes nothing.

    ``changed`` is an aggregate Column over the rows of ``step(state)``
    that counts the rows the round moved, typically
    ``F.count(F.when(F.col("__delta"), 1))`` over a boolean flag the
    step emits.  Each round checkpoints ``step(state)`` through
    ``observed_checkpoint``, so the count comes back from the same
    jobs that fill the checkpoint and lineage stays one round deep.
    At most two rounds stay in memory: once round k exists, round
    k-2's checkpoint is freed (``lifecycle.free``).  The caller's seed is never freed,
    and the returned ``state`` and ``prev`` are released by
    ``lifecycle.release_kernel_persists`` with the rest of the query.

    A semi-naive step (SSSP, min-label, longest path) relaxes only from
    the rows flagged in the round before; for min/max-plus relaxation
    that yields the same table after every round as relaxing from
    every row, because an unflagged row already sent its value.  A
    step that is not monotone carries each row's previous value and
    flags the rows that moved.

    The loop stops after the first round whose count is 0 (an empty
    state counts 0), or after ``max_rounds`` rounds.  A kernel whose
    step is a deterministic function of its state may therefore stop
    early without changing its output: every later round would return
    the same table.  Each round's jobs run under the Spark job
    description ``"<name> round <k>"``; the caller's description is
    restored on return.

    Returns ``(state, prev, rounds, n_changed)``: the final state, the
    state one round before it (the input itself when no round ran),
    the number of rounds run and the last observed count (None when
    no round ran).  A count of 0 is exact: a retried task can inflate
    an observed count but never bring it to 0.  A nonzero count may
    be inflated, so a certificate graded in-output takes 0 from here
    and otherwise counts the flag of the returned state in the plan.
    """
    sc = state.sparkSession.sparkContext
    caller_desc = sc.getLocalProperty("spark.job.description")
    prev, rounds, n_changed = state, 0, None
    try:
        for rounds in range(1, max_rounds + 1):
            sc.setJobDescription(f"{name} round {rounds}")
            older, prev = prev, state
            state, seen = observed_checkpoint(step(state), n_changed=changed)
            if rounds > 2:  # ``older`` is round rounds-2, not the seed
                lifecycle.free(older)
            n_changed = seen["n_changed"]
            if not n_changed:
                break
    finally:
        sc.setJobDescription(caller_desc)
    return state, prev, rounds, n_changed


def observed_checkpoint(df: DataFrame, **aggs: Column) -> tuple[DataFrame, dict]:
    """``df`` eagerly localCheckpoint'ed, and the aggregates ``aggs``
    over its rows as ``{name: value}``, observed by the jobs that fill
    the checkpoint (an eager one: a lazy checkpoint is filled by a
    later action that reads it, not the observed plan).  Over no rows
    a count is 0 and a max None.  A retried task adds its rows again,
    so observe only a max, a min, a zero test or a round budget."""
    obs = Observation()
    cp = lifecycle.checkpoint(df.observe(obs, *(c.alias(k) for k, c in aggs.items())))
    return cp, obs.get
