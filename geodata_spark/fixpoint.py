"""One iterate-to-fixpoint toolkit for the iterative operators
(``hydro.watershed``, ``masks.filter_area``,
``pipeline.dedup.connected_components``).

Each operator takes exactly one of two whole paths:

- **Driver** (the input has at most :data:`LOCAL_MAX_ROWS` rows): take
  the input with :func:`collect_at_most` (one bounded collect, at most
  bound + 1 rows), compute the starting state in numpy, run the rounds
  with :func:`finish_local` and return the result through
  :func:`local_result`.  No job runs after the collect, whatever the
  round count; downstream plans read checkpointed blocks, never a
  ``LocalRelation`` of literal rows.  (``similarity.kmeans_lloyd``
  uses the same collect and result for its fixed Lloyd rounds.)
- **Distributed rounds** (above the bound): :func:`fixpoint` first
  materializes the starting state in ONE Spark job (an eager local
  checkpoint; the probe's aggregates ride on it as ``Observation``
  metrics, so reading them is no second action), then each round
  materializes the new state in one job, probe included (a global
  ``agg(...).first()`` would be a job of its own under AQE), and the
  checkpoint keeps the plan from growing with the round count.

Both stop when a round leaves the state unchanged and raise the same
``"<what> did not converge in N rounds"`` error after ``max_iter``
rounds; they count rounds the same way, the unchanged one included.
The distributed rounds read "unchanged" off the probe, which must
therefore change whenever the state changes: an exact measure, not a
hash that could collide.  The driver rounds compare the numpy columns.

The bound: each distributed round is a few Spark jobs of fixed
scheduling and checkpoint cost plus its join, so on small states the
rounds are almost all overhead.  Measured on a 4-core host (local[4],
``hydro.watershed`` on a one-row ramp DEM of n cells, about log2 n
pointer-doubling rounds; time after a shared Spark D8 stage, driver
rounds vs distributed rounds): 1k cells 0.4 vs 1.5 s, 10k 0.4 vs
2.8 s, 100k 0.5 vs 6.9 s, 1M 3.4 vs 41.8 s.  There is no crossover up
to 1M rows: the driver wins at every size, so the bound is set by
driver memory, not speed.  The driver paths hold 120–300 B per row of
numpy and Arrow buffers (each caller states its own figure), so at
most ~300 MB at the bound.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Inputs with at most this many rows run on the driver (see above).
LOCAL_MAX_ROWS = 1_000_000

Columns = dict[str, np.ndarray]
LocalStep = Callable[[Columns], Iterator[Columns]]


def collect_at_most(df: DataFrame, n: int, what: str) -> pa.Table | None:
    """``df`` as one Arrow table, or None when it holds more than ``n``
    rows; at most ``n + 1`` rows reach the driver.  ``limit(n + 1)``
    runs CollectLimit's incremental partition scan: one job when the
    first partitions hold ``n + 1`` rows or all of them, otherwise a
    few, each scanning more partitions than the last.  The jobs are
    labelled ``what``; the caller's job description is restored."""
    with job_description(df.sparkSession, what):
        table = df.limit(n + 1).toArrow()
    return None if table.num_rows > n else table


@contextmanager
def job_description(spark: SparkSession, text: str):
    """Label the Spark jobs run inside with ``text``; the caller's job
    description is restored on exit, also after a raise."""
    sc = spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield sc
    finally:
        sc.setLocalProperty("spark.job.description", caller)


def _materialize(df: DataFrame, probe: Callable[[DataFrame], Sequence[Column]]):
    obs = Observation()
    df = df.observe(obs, *probe(df)).localCheckpoint(eager=True)
    return df, obs.get


def _not_converged(what: str, max_iter: int) -> RuntimeError:
    return RuntimeError(f"{what} did not converge in {max_iter} rounds")


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
    rather than return a half-converged state.  Its jobs are labelled
    ``fixpoint:<what> round N``; the caller's job description is
    restored on exit."""
    with job_description(state.sparkSession, f"fixpoint:{what} round 0") as sc:
        state, seen = _materialize(state, probe)
        for rounds in range(1, max_iter + 1):
            sc.setJobDescription(f"fixpoint:{what} round {rounds}")
            state, value = _materialize(step(state), probe)
            if value == seen:
                return state, rounds
            seen = value
        raise _not_converged(what, max_iter)


def finish_local(
    start: Columns, local_step: LocalStep, max_iter: int, what: str
) -> tuple[Columns, int]:
    """The rounds of :func:`fixpoint` on the driver: ``local_step``,
    given the starting state as numpy columns, yields the state after
    each round (same columns, rows in a stable order).  Returns the
    first state that a round leaves unchanged in every column and the
    rounds run, or raises after ``max_iter`` rounds."""
    cur, states = start, local_step(start)
    for rounds in range(1, max_iter + 1):
        nxt = next(states)
        if all(np.array_equal(nxt[name], cur[name]) for name in cur):
            return nxt, rounds
        cur = nxt
    raise _not_converged(what, max_iter)


def local_result(spark: SparkSession, table: pa.Table, schema: StructType) -> DataFrame:
    """A driver-computed result as a DataFrame over checkpointed blocks,
    so downstream plans never carry a ``LocalRelation`` of literal rows.
    Lazy: the first job that reads it writes the blocks, so an eager
    checkpoint would only add a job."""
    return spark.createDataFrame(table, schema).localCheckpoint(eager=False)


def first_repeat(keys: np.ndarray) -> int | None:
    """Row of the second copy of the least repeated key, or None when
    the keys are distinct."""
    order = np.argsort(keys, kind="stable")
    again = order[1:][keys[order][1:] == keys[order][:-1]]
    return int(again[0]) if len(again) else None


def lookup(keys: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Row of each of ``values`` in the distinct ``keys``; -1 where absent.
    One argsort of ``keys``, one searchsorted."""
    if len(keys) == 0:
        return np.full(len(values), -1, dtype=np.int64)
    order = np.argsort(keys, kind="stable")
    at = np.minimum(np.searchsorted(keys, values, sorter=order), len(keys) - 1)
    rows = order[at]
    return np.where(keys[rows] == values, rows, -1)


def min_label_rounds(
    key: np.ndarray,
    label: np.ndarray,
    src: np.ndarray,
    dst: np.ndarray,
    jump: bool,
) -> Iterator[np.ndarray]:
    """Min-label propagation on the driver, one yield per round.

    Rows are nodes with distinct ``key``s; ``label`` holds keys of rows;
    ``(src, dst)`` are row pairs of an undirected edge list.  A round:
    every node hooks to the least label in its closed neighbourhood, then
    with ``jump`` shortcuts once, label ← min(label, label(label)).  Yields
    the label column (keys, row order kept) after each round, forever.
    """
    n = len(key)
    if n == 0:
        while True:
            yield label
    # work in rank space: ranks order like keys, so min over ranks is min
    # over keys, and a label's rank indexes its node directly
    order = np.argsort(key, kind="stable")
    ranked = key[order]
    rank = np.empty(n, dtype=np.int64)
    rank[order] = np.arange(n)
    lab = np.searchsorted(ranked, label)[order]
    # closed neighbourhoods, grouped by the hearing node: each rank hears
    # itself first, so every reduceat segment is non-empty
    own = np.arange(n)
    hearer = np.concatenate([own, rank[src], rank[dst]])
    heard = np.concatenate([own, rank[dst], rank[src]])
    by_hearer = np.argsort(hearer, kind="stable")
    heard = heard[by_hearer]
    starts = np.searchsorted(hearer[by_hearer], own)
    while True:
        lab = np.minimum.reduceat(lab[heard], starts)
        if jump:
            lab = np.minimum(lab, lab[lab])
        yield ranked[lab[rank]]
