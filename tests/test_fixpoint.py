"""fixpoint: rounds, one Spark job per round, the iteration bound, and
the driver finish below ``LOCAL_MAX_ROWS``."""

import numpy as np
import pyarrow as pa
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


@pytest.mark.parametrize("path", ["local", "distributed", "watershed", "kmeans_lloyd"])
def test_jobs_are_labelled_and_the_caller_description_restored(spark, request, path):
    from geodata_spark import fixpoint as fp
    from geodata_spark.hydro import watershed
    from geodata_spark.pipeline.similarity import kmeans_lloyd

    if path == "distributed":
        request.getfixturevalue("distributed_fixpoint")
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    group = f"test_fixpoint_desc_{path}"
    ramp = _raster_df(spark, [[float(x) for x in range(8)]])
    vecs = spark.createDataFrame([(i, [float(i % 3)]) for i in range(6)], "vec_id long, embedding array<double>")

    def run_and_raise():
        if path == "kmeans_lloyd":
            kmeans_lloyd(vecs, k=2, iters=2)
        else:
            with pytest.raises(RuntimeError, match="did not converge"):
                if path == "watershed":
                    watershed(ramp, max_iters=1)
                else:
                    fp.fixpoint(_start(spark), _decrement, _total, 2, "dec", _decrement_local)
        # the caller's description is back, even after the raise
        assert sc.getLocalProperty("spark.job.description") == f"{group} caller"

    _, jobs = _in_group(spark, group, run_and_raise)
    descs = [store.job(j).description().get() for j in jobs]
    if path == "local":
        assert descs[0] == "fixpoint:dec round 0"
        assert descs[1:] == ["fixpoint:dec local"]  # the collect; the raise precedes a result
    elif path == "distributed":
        assert descs == [f"fixpoint:dec round {i}" for i in range(3)]
    elif path == "watershed":
        assert descs == ["watershed local"]  # the one collect; the rounds run in numpy
    else:
        assert descs == [f"{group} caller", "kmeans_lloyd local"]  # the init, the vectors


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


# few distinct heights: plateaus and exact slope ties on most draws; 1e-200
# above 0.0 is a strictly lower neighbour whose drop² underflows to 0
@_property
@given(dem=_grids(st.sampled_from([0.0, 1e-200, 2e-200, 0.5, 1.0, 2.0, 3.0])))
def test_watershed_local_equals_distributed(spark, dem):
    from geodata_spark.hydro import watershed

    local, distributed = _both_paths(lambda: watershed(_raster_df(spark, dem)))
    assert local.schema == distributed.schema
    _assert_same_rows(local, distributed)


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


# -- whole operators on the driver: watershed and kmeans_lloyd ----------------


def _fallback_raster(spark, dem, kind):
    rows = [(y, x, v) for y, r in enumerate(dem) for x, v in enumerate(r)]
    y, x, _ = rows[len(rows) // 2]
    if kind == "duplicate":
        rows.append((y, x, 0.25))
    else:
        rows[len(rows) // 2] = (y, x, None if kind == "null" else float("nan"))
    return spark.createDataFrame(rows, "y_idx long, x_idx long, value double")


def _takes_spark_d8(layer):
    from geodata_spark import fixpoint as fp
    from geodata_spark import hydro

    base = layer.select("y_idx", "x_idx", layer.value.alias("_z"))
    return hydro._local_start(fp.collect_at_most(base, 100)) is None


@pytest.mark.parametrize("kind", ["nan", "null"])
@settings(_property, max_examples=3)
@given(dem=_grids(st.sampled_from([0.0, 0.5, 1.0, 2.0])))
def test_watershed_falls_back_to_spark_d8(spark, kind, dem):
    from geodata_spark.hydro import watershed

    layer = _fallback_raster(spark, dem, kind)
    assert _takes_spark_d8(layer)
    _assert_same_rows(*_both_paths(lambda: watershed(layer)))


def test_watershed_repeated_cell_takes_spark_d8(spark):
    """A repeated cell takes the Spark D8 stage and the driver rounds, as
    before.  Its copies give the cell two elevations, so D8 may cycle;
    the doubling then raises instead of returning labels.  (The
    distributed rounds are not run here: each jump doubles the rows
    that point at the repeated cell.)"""
    from geodata_spark.hydro import watershed

    layer = _fallback_raster(spark, [[2.0, 1.0, 1.0, 2.0, 1.0, 0.0, 0.5]], "duplicate")
    assert _takes_spark_d8(layer)
    with pytest.raises(RuntimeError, match="did not converge in 8 rounds"):
        watershed(layer, max_iters=8)


# few distinct components: duplicate vectors (so empty clusters) and tied
# distances on most draws
_vectors = st.integers(1, 3).flatmap(
    lambda dim: st.lists(
        st.lists(st.sampled_from([-1.0, 0.0, 0.5, 1.0]), min_size=dim, max_size=dim),
        min_size=1, max_size=12,
    )
)


def _vectors_df(spark, vecs):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )


@_property
@given(vecs=_vectors, data=st.data())
def test_kmeans_driver_equals_spark(spark, vecs, data):
    from geodata_spark.pipeline.similarity import kmeans_lloyd

    k = data.draw(st.sampled_from(sorted({1, len(vecs), (len(vecs) + 1) // 2})), label="k")
    iters = data.draw(st.integers(1, 3), label="iters")
    df = _vectors_df(spark, vecs)
    (local, lc), (distributed, dc) = _both_paths(
        lambda: kmeans_lloyd(df, k=k, iters=iters, return_centroids=True)
    )
    assert lc == dc
    assert local.schema == distributed.schema
    _assert_same_rows(local, distributed)


@settings(_property, max_examples=3)
@given(vecs=st.lists(
    st.lists(st.sampled_from([-1.0, 0.0, 0.5, 1.0]), min_size=4, max_size=4),
    min_size=2, max_size=12,
))
def test_pq_train_encode_driver_equals_spark(spark, vecs):
    from geodata_spark.pipeline.similarity import pq_train_encode

    df = _vectors_df(spark, vecs)
    (local, lb), (distributed, db) = _both_paths(
        lambda: pq_train_encode(df, m=2, ksub=2, iters=2)
    )
    assert lb == db
    _assert_same_rows(local, distributed)


@pytest.mark.parametrize("bad", [
    [[0.0, 1.0], None], [[0.0, 1.0], [0.0, None]], [[0.0, 1.0], [0.0]],
    [[0.0, 1.0], [float("nan"), 0.0]], [[0.0, 1.0], [float("inf"), 0.0]],
])
def test_kmeans_falls_back_on_null_ragged_or_non_finite_vectors(bad):
    from geodata_spark.pipeline.similarity import _local_vectors

    assert _local_vectors(pa.chunked_array([pa.array(bad, pa.list_(pa.float64()))]), 2) is None
    assert _local_vectors(pa.chunked_array([pa.array(bad[:1], pa.list_(pa.float64()))]), 2) is not None


def test_driver_builds_take_at_most_one_and_two_jobs(spark):
    from geodata_spark.hydro import watershed
    from geodata_spark.pipeline.similarity import kmeans_lloyd

    dem = _raster_df(spark, [[float((y * 7 + x * 3) % 5) for x in range(9)] for y in range(8)])
    vecs = _vectors_df(spark, [[float(i % 3), float(i % 5)] for i in range(40)])
    dem.count(), vecs.count()
    ws, jobs = _in_group(spark, "test_watershed_build", lambda: watershed(dem))
    assert len(jobs) <= 1, jobs  # the collect: D8 and the doubling run in numpy
    km, jobs = _in_group(spark, "test_kmeans_build", lambda: kmeans_lloyd(vecs, k=3, iters=3))
    assert len(jobs) <= 2, jobs  # the k smallest ids, then the vectors
    assert ws.count() == 72 and km.count() == 40
