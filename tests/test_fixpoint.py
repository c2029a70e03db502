"""fixpoint: rounds, one Spark job per round, the iteration bound, and
the driver finish below ``LOCAL_MAX_ROWS``."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


def _decrement(df):
    return df.select(F.greatest(F.col("v") - 1, F.lit(0)).alias("v"))


def _decrement_local(cols):
    v = cols["v"]
    while True:
        v = np.maximum(v - 1, 0)
        yield {"v": v}


def _total(df):
    return [F.sum("v").alias("s")]


def _start(spark):
    return spark.range(6).select(F.col("id").alias("v"))  # sum 15 -> 10 -> 6 -> 3 -> 1 -> 0


def _in_group(spark, group, fn):
    """Run ``fn`` under job group ``group``; return its result and the
    group's job ids once the status store has seen every event."""
    sc = spark.sparkContext
    sc.setJobGroup(group, f"{group} caller")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_fixpoint_rounds_and_one_job_per_round(spark):
    from geodata_spark.fixpoint import fixpoint

    sc = spark.sparkContext
    start = _start(spark)
    sc.setJobGroup("test_fixpoint", "fixpoint job count")
    try:
        state, rounds = fixpoint(start, _decrement, _total, 64, "decrement")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rounds == 6  # five rounds that change the sum, one that confirms it
    # the starting state and every round: one checkpoint job each, probe included
    assert len(sc.statusTracker().getJobIdsForGroup("test_fixpoint")) == rounds + 1
    assert sorted(r.v for r in state.collect()) == [0] * 6


def test_fixpoint_raises_at_the_bound(spark):
    from geodata_spark.fixpoint import fixpoint

    start = spark.range(6).select(F.col("id").alias("v"))
    with pytest.raises(RuntimeError, match="decrement did not converge in 3 rounds"):
        fixpoint(start, _decrement, _total, 3, "decrement")


def test_local_finish_runs_in_three_jobs(spark):
    from geodata_spark.fixpoint import fixpoint

    (state, rounds), jobs = _in_group(
        spark, "test_fixpoint_local",
        lambda: fixpoint(_start(spark), _decrement, _total, 64, "decrement", _decrement_local),
    )
    assert rounds == 6  # the same count as the distributed rounds
    # the starting checkpoint and one toArrow collect; the result is
    # checkpointed by the first job that reads it
    assert len(jobs) == 2, jobs
    assert state.schema == _start(spark).schema
    assert sorted(r.v for r in state.collect()) == [0] * 6


def test_local_finish_raises_at_the_bound(spark):
    from geodata_spark.fixpoint import fixpoint

    with pytest.raises(RuntimeError, match="decrement did not converge in 3 rounds"):
        fixpoint(_start(spark), _decrement, _total, 3, "decrement", _decrement_local)


def test_above_the_bound_runs_distributed_rounds(spark, distributed_fixpoint):
    from geodata_spark.fixpoint import fixpoint

    (state, rounds), jobs = _in_group(
        spark, "test_fixpoint_above",
        lambda: fixpoint(_start(spark), _decrement, _total, 64, "decrement", _decrement_local),
    )
    assert rounds == 6
    assert len(jobs) == rounds + 1
    assert sorted(r.v for r in state.collect()) == [0] * 6


@pytest.mark.parametrize("path", ["local", "distributed"])
def test_jobs_are_labelled_and_the_caller_description_restored(spark, request, path):
    from geodata_spark import fixpoint as fp

    if path == "distributed":
        request.getfixturevalue("distributed_fixpoint")
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    group = f"test_fixpoint_desc_{path}"

    def run_and_raise():
        with pytest.raises(RuntimeError, match="did not converge"):
            fp.fixpoint(_start(spark), _decrement, _total, 2, "dec", _decrement_local)
        # the caller's description is back, even after the raise
        assert sc.getLocalProperty("spark.job.description") == f"{group} caller"

    _, jobs = _in_group(spark, group, run_and_raise)
    descs = [store.job(j).description().get() for j in jobs]
    if path == "local":
        assert descs[0] == "fixpoint:dec round 0"
        assert descs[1:] == ["fixpoint:dec local"]  # the collect; the raise precedes a result
    else:
        assert descs == [f"fixpoint:dec round {i}" for i in range(3)]


# -- the driver finish returns the distributed path's rows -------------------

_property = settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)


def _both_paths(run):
    """``run()`` at the default bound, then with every state above it."""
    from geodata_spark import fixpoint as fp

    local = run()
    saved, fp.LOCAL_MAX_ROWS = fp.LOCAL_MAX_ROWS, 0
    try:
        distributed = run()
    finally:
        fp.LOCAL_MAX_ROWS = saved
    return local, distributed


def _assert_same_rows(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def _grids(values):
    return st.tuples(st.integers(1, 6), st.integers(1, 7)).flatmap(
        lambda hw: st.lists(
            st.lists(values, min_size=hw[1], max_size=hw[1]), min_size=hw[0], max_size=hw[0]
        )
    )


def _raster_df(spark, grid):
    rows = [(y, x, float(v)) for y, r in enumerate(grid) for x, v in enumerate(r)]
    return spark.createDataFrame(rows, "y_idx long, x_idx long, value double")


# few distinct heights: plateaus and exact slope ties on most draws
@_property
@given(dem=_grids(st.sampled_from([0.0, 0.5, 1.0, 2.0, 3.0])))
def test_watershed_local_equals_distributed(spark, dem):
    from geodata_spark.hydro import watershed

    _assert_same_rows(*_both_paths(lambda: watershed(_raster_df(spark, dem))))


@_property
@given(mask=_grids(st.sampled_from([0, 1])), min_cells=st.integers(1, 6))
def test_filter_area_local_equals_distributed(spark, mask, min_cells):
    from geodata_spark import masks

    _assert_same_rows(*_both_paths(lambda: masks.filter_area(_raster_df(spark, mask), min_cells)))


# small id range: self-pairs, repeated pairs and isolated pairs on most draws
_pairs = st.lists(st.tuples(st.integers(0, 24), st.integers(0, 24)), min_size=1, max_size=30)


@pytest.mark.parametrize("method", ["hashmin", "star"])
@_property
@given(pairs=_pairs)
def test_connected_components_local_equals_distributed(spark, method, pairs):
    from geodata_spark.pipeline.dedup import connected_components

    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    _assert_same_rows(
        *_both_paths(lambda: connected_components(df, max_iter=30, method=method))
    )
