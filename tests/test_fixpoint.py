"""fixpoint: rounds, one Spark job per round, the iteration bound, and
the iterative operators run whole on the driver below ``LOCAL_MAX_ROWS``."""

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


def _job_descriptions(spark, group, fn):
    _, jobs = _in_group(spark, group, fn)
    store = spark.sparkContext._jsc.sc().statusStore()
    return [store.job(j).description().get() for j in jobs]


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


def _finish(spark, max_iter):
    from geodata_spark import fixpoint as fp

    out, rounds = fp.finish_local({"v": np.arange(6)}, _decrement_local, max_iter, "decrement")
    return fp.local_result(spark, pa.table(out), _start(spark).schema), rounds


def test_local_finish_runs_no_job(spark):
    (state, rounds), jobs = _in_group(spark, "test_fixpoint_local", lambda: _finish(spark, 64))
    assert rounds == 6  # the same count as the distributed rounds
    # the result is checkpointed by the first job that reads it
    assert jobs == []
    assert state.schema == _start(spark).schema
    assert sorted(r.v for r in state.collect()) == [0] * 6


def test_local_finish_raises_at_the_bound(spark):
    with pytest.raises(RuntimeError, match="decrement did not converge in 3 rounds"):
        _finish(spark, 3)


@pytest.mark.parametrize(
    "path", ["distributed", "watershed", "filter_area", "connected_components", "kmeans_lloyd"]
)
def test_jobs_are_labelled_and_the_caller_description_restored(spark, request, path):
    from geodata_spark import fixpoint as fp
    from geodata_spark import masks
    from geodata_spark.hydro import watershed
    from geodata_spark.pipeline.dedup import connected_components
    from geodata_spark.pipeline.similarity import kmeans_lloyd

    if path == "distributed":
        request.getfixturevalue("distributed_fixpoint")
    sc = spark.sparkContext
    group = f"test_fixpoint_desc_{path}"
    ramp = _raster_df(spark, [[float(x) for x in range(8)]])
    snake = _raster_df(spark, [[1.0] * 8])
    path_graph = spark.createDataFrame([(i, i + 1) for i in range(12)], "id_a long, id_b long")
    vecs = spark.createDataFrame([(i, [float(i % 3)]) for i in range(6)], "vec_id long, embedding array<double>")

    def run_and_raise():
        if path == "kmeans_lloyd":
            kmeans_lloyd(vecs, k=2, iters=2)
        else:
            with pytest.raises(RuntimeError, match="did not converge"):
                if path == "watershed":
                    watershed(ramp, max_iters=1)
                elif path == "filter_area":
                    masks.filter_area(snake, 2, max_iters=1)
                elif path == "connected_components":
                    connected_components(path_graph, max_iter=1)
                else:
                    fp.fixpoint(_start(spark), _decrement, _total, 2, "dec")
        # the caller's description is back, even after the raise
        assert sc.getLocalProperty("spark.job.description") == f"{group} caller"

    descs = _job_descriptions(spark, group, run_and_raise)
    if path == "distributed":
        assert descs == [f"fixpoint:dec round {i}" for i in range(3)]
    elif path != "kmeans_lloyd":
        assert descs == [f"{path} local"]  # the one collect; the rounds run in numpy
    else:
        assert descs == [f"{group} caller", "kmeans_lloyd local"]  # the init, the vectors


# -- the driver path returns the distributed path's rows ---------------------

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
    rows = [(y, x, v if v is None else float(v)) for y, r in enumerate(grid) for x, v in enumerate(r)]
    return spark.createDataFrame(rows, "y_idx long, x_idx long, value double")


# few distinct heights: plateaus and exact slope ties on most draws; 1e-200
# above 0.0 is a strictly lower neighbour whose drop² underflows to 0;
# Spark orders NaN above +inf, -0.0 equal to 0.0, and a NULL height
# neither drains nor is drained into
_heights = st.sampled_from(
    [0.0, -0.0, 1e-200, 2e-200, 0.5, 1.0, 2.0, 3.0,
     float("nan"), float("inf"), float("-inf"), None]
)


@_property
@given(dem=_grids(_heights))
def test_watershed_local_equals_distributed(spark, dem):
    from geodata_spark.hydro import watershed

    # a row with a NULL coordinate joins no cell: both paths drop it
    layer = _raster_df(spark, dem).unionByName(spark.createDataFrame(
        [(None, 0, 0.0), (0, None, 0.0)], "y_idx long, x_idx long, value double"
    ))
    # every raster under the bound runs whole on the driver: only the
    # collect's jobs run
    assert set(_job_descriptions(spark, "test_watershed_path", lambda: watershed(layer))) == {
        "watershed local"
    }
    local, distributed = _both_paths(lambda: watershed(layer))
    assert local.schema == distributed.schema
    _assert_same_rows(local, distributed)


@_property
@given(mask=_grids(st.sampled_from([0, 1])), min_cells=st.integers(1, 6))
def test_filter_area_local_equals_distributed(spark, mask, min_cells):
    from geodata_spark import masks

    local, distributed = _both_paths(lambda: masks.filter_area(_raster_df(spark, mask), min_cells))
    assert local.schema == distributed.schema
    _assert_same_rows(local, distributed)


# small id range: self-pairs, repeated pairs and isolated pairs on most draws;
# least/greatest skip a NULL id, and a pair of two NULLs is a NULL node
_ids = st.one_of(st.none(), st.integers(0, 24))
_pairs = st.lists(st.tuples(_ids, _ids), min_size=1, max_size=30)


@_property
@given(pairs=_pairs)
def test_connected_components_local_equals_distributed(spark, pairs):
    from geodata_spark.pipeline.dedup import connected_components

    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    local, distributed = _both_paths(lambda: connected_components(df, max_iter=30))
    assert local.schema == distributed.schema
    _assert_same_rows(local, distributed)


# -- whole operators on the driver: watershed and kmeans_lloyd ----------------


@pytest.mark.parametrize("bad, match", [
    pytest.param((0, 3, 0.25), r"cell \(y_idx=0, x_idx=3\) is repeated", id="repeated"),
    pytest.param((0, 2**35, 0.25), r"below 2\^35", id="huge"),
])
def test_watershed_rejects_a_repeated_cell_or_a_huge_coordinate(spark, bad, match):
    """Both raise ValueError before any round: a repeated cell would give
    the cell two elevations (D8 could cycle until ``max_iters``), and a
    huge coordinate would overflow the packed key."""
    from geodata_spark.hydro import watershed

    rows = [(0, x, v) for x, v in enumerate([2.0, 1.0, 1.0, 2.0, 1.0, 0.0, 0.5])] + [bad]
    layer = spark.createDataFrame(rows, "y_idx long, x_idx long, value double")

    def run():
        with pytest.raises(ValueError, match=match):
            watershed(layer)

    # no Spark job runs after the collect
    assert set(_job_descriptions(spark, "test_watershed_bad", run)) == {"watershed local"}


def test_filter_area_rejects_a_repeated_cell(spark):
    """A repeated nonzero cell raises ValueError before any round: the
    copies used to give 7 rows on the driver path and 8 on the Spark
    path for this layer."""
    from geodata_spark import masks

    rows = [(0, x, 1.0) for x in (0, 1, 1, 2, 3)]
    layer = spark.createDataFrame(rows, "y_idx long, x_idx long, value double")

    def run():
        with pytest.raises(ValueError, match=r"cell \(y_idx=0, x_idx=1\) is repeated"):
            masks.filter_area(layer, 5)

    # no Spark job runs after the collect
    assert set(_job_descriptions(spark, "test_filter_area_bad", run)) == {"filter_area local"}


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
    from geodata_spark import masks
    from geodata_spark.hydro import watershed
    from geodata_spark.pipeline.dedup import connected_components
    from geodata_spark.pipeline.similarity import kmeans_lloyd

    dem = _raster_df(spark, [[float((y * 7 + x * 3) % 5) for x in range(9)] for y in range(8)])
    mask = _raster_df(spark, [[float((y * 7 + x * 3) % 5 > 1) for x in range(9)] for y in range(8)])
    pairs = spark.createDataFrame([(i, (i * 7) % 40) for i in range(40)], "id_a long, id_b long")
    vecs = _vectors_df(spark, [[float(i % 3), float(i % 5)] for i in range(40)])
    dem.count(), mask.count(), pairs.count(), vecs.count()
    # each: the collect, then the rounds in numpy
    ws, jobs = _in_group(spark, "test_watershed_build", lambda: watershed(dem))
    assert len(jobs) <= 1, jobs
    fa, jobs = _in_group(spark, "test_filter_area_build", lambda: masks.filter_area(mask, 3))
    assert len(jobs) <= 1, jobs
    cc, jobs = _in_group(spark, "test_cc_build", lambda: connected_components(pairs))
    assert len(jobs) <= 1, jobs
    km, jobs = _in_group(spark, "test_kmeans_build", lambda: kmeans_lloyd(vecs, k=3, iters=3))
    assert len(jobs) <= 2, jobs  # the k smallest ids, then the vectors
    assert ws.count() == 72 and fa.count() == 72 and cc.count() == 40 and km.count() == 40
