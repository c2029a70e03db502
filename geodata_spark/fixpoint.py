"""One iterate-to-fixpoint loop for the iterative operators
(``hydro.watershed``, ``masks.filter_area``, both methods of
``pipeline.dedup.connected_components``).

Each round materializes the new state in ONE Spark job: the probe's
aggregates ride on the eager local checkpoint as ``Observation``
metrics, so no second action reads convergence (a global
``agg(...).first()`` is a job of its own under AQE), and the checkpoint
keeps the plan from growing with the round count.  The loop stops when
the probe returns the same value twice in a row, so a probe must change
whenever the state changes: an exact measure, not a hash that could
collide.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation


def _materialize(df: DataFrame, probe: Callable[[DataFrame], Sequence[Column]]):
    obs = Observation()
    df = df.observe(obs, *probe(df)).localCheckpoint(eager=True)
    return df, obs.get


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    probe: Callable[[DataFrame], Sequence[Column]],
    max_iter: int,
    what: str,
) -> tuple[DataFrame, int]:
    """Apply ``step`` until ``probe`` (named aggregate Columns over the
    state) gives the same values twice in a row; return the checkpointed
    state and the rounds run, the last (unchanged) one included.  Raises
    rather than return a half-converged state."""
    state, seen = _materialize(state, probe)
    for rounds in range(1, max_iter + 1):
        state, value = _materialize(step(state), probe)
        if value == seen:
            return state, rounds
        seen = value
    raise RuntimeError(f"{what} did not converge in {max_iter} rounds")
