"""zone_cover_df: a session-resident checkpoint, memoized per session,
LRU-bounded, with the same rows and join output as a literal cover."""

import sys
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from geodata_spark import geometry, hexgrid, spatial
from geodata_spark.zones import ZONES

# two small zones: a rectangle and a triangle sharing its east edge
# (the diagonal exercises the exact PIP on boundary cells)
TINY = {
    "rect": [np.array([(100.0, 30.0), (104.0, 30.0), (104.0, 33.0), (100.0, 33.0)])],
    "tri": [np.array([(104.0, 30.0), (108.0, 30.0), (104.0, 34.0)])],
}
GRAINS = [("grid", 8), ("hex", 4)]


@pytest.fixture
def points(spark):
    # 600 points over the zones and around them; not a local relation, so
    # any LocalTableScan in a join plan could only come from the cover
    return spark.range(600).selectExpr(
        "29.13 + (id % 30) * 0.191 AS lat", "98.71 + (id div 30) * 0.503 AS lon"
    )


def _literal_cover(spark, res, grain, compact=True):
    """The cover as built before memoization: Python row tuples through
    createDataFrame, no checkpoint.  Hex full cells are compacted per
    zone, as the memoized cover stores them, unless ``compact=False``."""
    cell_col = f"cell_hex{res}" if grain == "hex" else f"cell_r{res}"
    rows = []
    for zid, rings in TINY.items():
        if grain == "hex":
            full, boundary = hexgrid.hex7_polyfill(rings, res)
            if compact:
                full = hexgrid.hex7_compact_np(full)
        else:
            full, boundary = geometry.polygon_cover(rings, res)
        rows.extend((zid, int(c), False) for c in full)
        rows.extend((zid, int(c), True) for c in boundary)
    pdf = pd.DataFrame(rows, columns=["zone_id", cell_col, "boundary"])
    schema = f"zone_id string not null, {cell_col} bigint not null, boundary boolean not null"
    return pdf, spark.createDataFrame(pdf, schema)


def _same_rows(a, b):
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@pytest.mark.parametrize("grain,res", GRAINS)
def test_cover_rows_unchanged(spark, grain, res):
    pdf, old = _literal_cover(spark, res, grain)
    cover = spatial.zone_cover_df(spark, TINY, res, grain)
    assert cover.schema == old.schema
    assert cover.count() == len(pdf) > 0 and _same_rows(cover, old)
    # the planned columns hold the old rows in the old order
    key = (spatial._zones_key(TINY), res, grain)
    pd.testing.assert_frame_equal(spatial._COVER_CACHE[key], pdf)


def test_cover_plan_scans_checkpoint(spark, points):
    cover = spatial.zone_cover_df(spark, TINY, 4, "hex")
    assert "LocalRelation" not in cover._jdf.queryExecution().optimizedPlan().toString()
    joined = spatial.join_zones(points, spark, TINY, res=4, grain="hex")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan
    assert "ExistingRDD" in plan and "BroadcastHashJoin" in plan


def test_hex_cover_full_cells_are_compacted():
    # TINY at hex res 4 compacts to coarser full cells, so the join tests
    # below run the ancestor probe
    cols = spatial._cover_columns(TINY, 4, "hex", "cell_hex4")
    full = cols.loc[~cols["boundary"], "cell_hex4"].to_numpy()
    bound = cols.loc[cols["boundary"], "cell_hex4"].to_numpy()
    assert set(hexgrid.hex7_res_np(bound).tolist()) == {4}
    assert len(set(hexgrid.hex7_res_np(full).tolist())) > 1
    for zid, rings in TINY.items():
        want, _ = hexgrid.hex7_polyfill(rings, 4)
        got = cols.loc[(cols["zone_id"] == zid) & ~cols["boundary"], "cell_hex4"]
        assert np.array_equal(hexgrid.hex7_uncompact_np(got.to_numpy(), 4), np.sort(want))


def test_zones_hex_cover_rows():
    # ZONES at hex res 5: 196,690 reachable full cells compact to 8,734
    # rows at res 1-5, next to 21,556 boundary cells
    cols = spatial._cover_columns(ZONES, 5, "hex", "cell_hex5")
    ids = cols["cell_hex5"].to_numpy()
    assert hexgrid._reachable(ids).all()
    assert not cols.duplicated(["zone_id", "cell_hex5"]).any()
    assert (len(cols), int(cols["boundary"].sum())) == (30290, 21556)


@pytest.mark.parametrize("grain,res", GRAINS)
@pytest.mark.parametrize("strategy", ["expr", "udf"])
def test_join_output_matches_literal_cover(spark, points, monkeypatch, grain, res, strategy):
    new = spatial.join_zones(points, spark, TINY, res=res, strategy=strategy, grain=grain)
    # the reference is the plain equi-join on an uncompacted cover
    pdf, old_cover = _literal_cover(spark, res, grain, compact=False)
    monkeypatch.setattr(spatial, "zone_cover_df", lambda *a, **k: old_cover)
    monkeypatch.setattr(spatial, "_cover_columns", lambda *a, **k: pdf)
    old = spatial.join_zones(points, spark, TINY, res=res, strategy=strategy, grain=grain)
    assert new.columns == old.columns
    assert new.count() > 0 and _same_rows(new, old)


def test_memo_is_per_session(spark):
    a = spatial.zone_cover_df(spark, TINY, 8)
    assert spatial.zone_cover_df(spark, TINY, 8) is a
    other = spark.newSession()
    b = spatial.zone_cover_df(other, TINY, 8)
    assert b is not a and b.sparkSession is other
    assert spatial.zone_cover_df(other, TINY, 8) is b
    assert spatial.zone_cover_df(spark, TINY, 8) is a
    assert _same_rows(a, b)


def test_concurrent_first_calls_build_once(spark, monkeypatch):
    planned = []
    plan = geometry.polygon_cover
    monkeypatch.setattr(
        geometry, "polygon_cover", lambda rings, res: planned.append(res) or plan(rings, res)
    )
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(spatial.zone_cover_df, spark, TINY, 9) for _ in range(8)]
            covers = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(c is covers[0] for c in covers)
    assert planned == [9] * len(TINY)


def test_memos_are_lru_bounded(spark, monkeypatch):
    monkeypatch.setattr(spatial, "COVER_CACHE_LIMIT", 2)
    first = spatial.zone_cover_df(spark, TINY, 5)
    spatial.zone_cover_df(spark, TINY, 6)
    assert spatial.zone_cover_df(spark, TINY, 5) is first  # a hit refreshes it
    spatial.zone_cover_df(spark, TINY, 7)  # evicts res 6, the least recent
    tiny = spatial._zones_key(TINY)
    assert len(spatial._COVER_DF_CACHE) == len(spatial._COVER_CACHE) == 2
    assert set(spatial._COVER_DF_CACHE) == {(id(spark), tiny, r, "grid") for r in (5, 7)}
    assert (tiny, 7, "grid") in spatial._COVER_CACHE
    assert spatial.zone_cover_df(spark, TINY, 5) is first


def test_stopped_session_entries_are_dropped(spark, monkeypatch):
    stopped = SimpleNamespace(sparkSession=SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None)))
    monkeypatch.setitem(spatial._COVER_DF_CACHE, ("stopped",), stopped)
    spatial.zone_cover_df(spark, TINY, 8)
    assert ("stopped",) not in spatial._COVER_DF_CACHE


@pytest.mark.parametrize("strategy", ["expr", "udf"])
def test_join_zones_drops_non_finite_points(spark, strategy):
    """A point with a NULL, NaN or ±inf coordinate is in no zone, at
    both grains and with both PIP strategies (the grid encode used to
    raise ARITHMETIC_OVERFLOW on NaN, and the hex UDF gave all of them
    one real id)."""
    good = [(31.0, 101.0), (30.5, 104.5), (29.5, 99.0)]
    bad = [(float("nan"), 101.0), (31.0, float("nan")), (float("inf"), 101.0),
           (31.0, float("-inf")), (None, 101.0), (31.0, None)]
    df = spark.createDataFrame(good + bad, "lat double, lon double")
    rows = {}
    for grain, res in GRAINS:
        out = spatial.join_zones(df, spark, TINY, res=res, grain=grain, strategy=strategy)
        rows[grain] = sorted((r.zone_id, r.lat, r.lon) for r in out.collect())
    assert rows["grid"] == rows["hex"] == [("rect", 31.0, 101.0), ("tri", 30.5, 104.5)]
