"""zone_cover_df: a session-resident checkpoint, memoized per session,
LRU-bounded, with the same rows as a literal cover; and the membership
function join_zones calls: one cover broadcast per SparkContext, with
the join output of a literal cover."""

import sys
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geodata_spark import cells, geometry, hexgrid, spatial
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


def _all_edges(rings):
    """Every non-horizontal edge of the rings as (y1, y2, x1, dx, dy):
    a superset of any cell's crossing edges."""
    out = []
    for ring in rings:
        for (x1, y1), (x2, y2) in zip(ring, np.roll(ring, -1, axis=0)):
            if y1 != y2:
                out.append((float(y1), float(y2), float(x1), float(x2 - x1), float(y2 - y1)))
    return out


def _literal_cover(spark, res, grain, compact=True):
    """The cover as built before memoization: Python row tuples through
    createDataFrame, no checkpoint, and on every boundary row all of
    its zone's edges.  Hex full cells are compacted per zone, as the
    memoized cover stores them, unless ``compact=False``."""
    cell_col = f"cell_hex{res}" if grain == "hex" else f"cell_r{res}"
    rows = []
    for zid, rings in TINY.items():
        if grain == "hex":
            full, boundary = hexgrid.hex7_polyfill(rings, res)
            if compact:
                full = hexgrid.hex7_compact_np(full)
        else:
            full, boundary = geometry.polygon_cover(rings, res)
        rows.extend((zid, int(c), False, []) for c in full)
        rows.extend((zid, int(c), True, _all_edges(rings)) for c in boundary)
    pdf = pd.DataFrame(rows, columns=["zone_id", cell_col, "boundary", "edges"])
    edge = T.StructType([T.StructField(f, T.DoubleType(), False) for f in ("y1", "y2", "x1", "dx", "dy")])
    schema = T.StructType([
        T.StructField("zone_id", T.StringType(), False),
        T.StructField(cell_col, T.LongType(), False),
        T.StructField("boundary", T.BooleanType(), False),
        T.StructField("edges", T.ArrayType(edge, False), False),
    ])
    return pdf, spark.createDataFrame(rows, schema)


def _same_rows(a, b):
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@pytest.mark.parametrize("grain,res", GRAINS)
def test_cover_rows_unchanged(spark, grain, res):
    pdf, old = _literal_cover(spark, res, grain)
    cover = spatial.zone_cover_df(spark, TINY, res, grain)
    assert cover.schema == old.schema
    cols = cover.columns[:3]
    assert cover.count() == len(pdf) > 0 and _same_rows(cover.select(cols), old.select(cols))
    # the planned columns hold the old rows in the old order
    key = (spatial._zones_key(TINY), res, grain)
    planned = spatial._COVER_CACHE[key]
    pd.testing.assert_frame_equal(planned.select(cols).to_pandas(), pdf[cols])
    # full rows carry no edges; boundary rows some of their zone's edges
    for zid, boundary, edges in zip(
        pdf["zone_id"], pdf["boundary"], planned.column("edges").to_pylist()
    ):
        got = [tuple(e.values()) for e in edges]
        assert bool(got) == boundary and set(got) <= set(_all_edges(TINY[zid]))


def test_cover_plan_scans_checkpoint(spark, points):
    """The cover table scans its checkpoint; the join scans no cover at
    all: it calls the membership function, with no cover broadcast."""
    cover = spatial.zone_cover_df(spark, TINY, 4, "hex")
    assert "LocalRelation" not in cover._jdf.queryExecution().optimizedPlan().toString()
    joined = spatial.join_zones(points, spark, TINY, res=4, grain="hex")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan and "ExistingRDD" not in plan
    assert spatial.zone_member_name(TINY, 4, "hex") in plan
    assert "BroadcastExchange" not in plan and "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_hex_cover_full_cells_are_compacted():
    # TINY at hex res 4 compacts to coarser full cells, so the join tests
    # below run the ancestor probe
    cols = spatial._cover_columns(TINY, 4, "hex", "cell_hex4").to_pandas()
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
    # rows at res 1-5, next to 21,556 boundary cells holding 29,388 edges
    cols = spatial._cover_columns(ZONES, 5, "hex", "cell_hex5")
    edges = cols.column("edges")
    cols = cols.select(["zone_id", "cell_hex5", "boundary"]).to_pandas()
    ids = cols["cell_hex5"].to_numpy()
    assert hexgrid._reachable(ids).all()
    assert not cols.duplicated(["zone_id", "cell_hex5"]).any()
    assert (len(cols), int(cols["boundary"].sum())) == (30290, 21556)
    assert sum(len(e) for e in edges.to_pylist()) == 29388
    # grid res 9: 124 boundary cells, 248 edges
    grid = spatial._cover_columns(ZONES, 9, "grid", "cell_r9")
    assert int(grid.column("boundary").to_numpy().sum()) == 124
    assert len(grid.column("edges").combine_chunks().flatten()) == 248


def test_cover_edge_limit(spark, monkeypatch):
    """A cover holding more than COVER_EDGE_LIMIT edges raises before
    anything is memoized, naming its zone and edge counts."""
    # a catalog no other test plans: a memoized cover is not re-planned
    shifted = {zid: [ring + 0.125 for ring in rings] for zid, rings in TINY.items()}
    monkeypatch.setattr(spatial, "COVER_EDGE_LIMIT", 10)
    with pytest.raises(
        ValueError, match=r"grid res 9: 2 zones give \d+ crossing edges .* = 10; zone '\w+' alone"
    ):
        spatial.zone_cover_df(spark, shifted, 9)
    assert (spatial._zones_key(shifted), 9, "grid") not in spatial._COVER_CACHE
    monkeypatch.setattr(spatial, "COVER_EDGE_LIMIT", 1000)
    assert spatial.zone_cover_df(spark, shifted, 9).count() > 0


# the exact PIP as SQL over a literal cover row's ``boundary`` and
# ``edges``: the op sequence of geometry.points_in_polygon per edge
_LITERAL_PIP = (
    "CASE WHEN NOT boundary THEN true ELSE aggregate(edges, 0, (n, e) -> n + "
    "CASE WHEN ((e.y1 > lat) <> (e.y2 > lat)) AND (lon < (e.dx * (lat - e.y1) / e.dy + e.x1)) "
    "THEN 1 ELSE 0 END) % 2 = 1 END"
)


@pytest.mark.parametrize("grain,res", GRAINS)
def test_join_output_matches_literal_cover(spark, points, grain, res):
    new = spatial.join_zones(points, spark, TINY, res=res, grain=grain)
    # the reference is the plain equi-join on an uncompacted cover whose
    # boundary rows carry all their zone's edges: extra edges never
    # change the parity
    _, old_cover = _literal_cover(spark, res, grain, compact=False)
    cell_col = old_cover.columns[1]
    if grain == "hex":
        pts = hexgrid.with_hex7_id(points, "lat", "lon", res, cell_col)
    else:
        pts = points.withColumn(cell_col, F.expr(cells.cell_sql("lat", "lon", res)))
    old = pts.join(old_cover, cell_col).filter(_LITERAL_PIP)
    old = old.select(cell_col, *points.columns, "zone_id")
    assert new.columns == old.columns
    assert new.count() > 0 and _same_rows(new, old)


def _member(spark, zones, res, grain="grid"):
    return spatial._MEMBER_CACHE[(id(spark.sparkContext), spatial._zones_key(zones), res, grain)]


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_unpersisted_cover_broadcast_keeps_rows(spark, points):
    """The driver keeps the broadcast's copy: after the executors' copies
    are dropped, the join and the cell extract return the same rows."""
    queries = [
        lambda: spatial.join_zones(points, spark, TINY, res=8),
        lambda: spatial.join_zones(points, spark, TINY, res=4, grain="hex"),
        lambda: spatial.extract_zone_cells(spark, TINY, res=8),
    ]
    before = [_rows(q()) for q in queries]
    assert all(before)
    for res, grain in [(8, "grid"), (4, "hex")]:
        _member(spark, TINY, res, grain).broadcast.unpersist(True)
    assert [_rows(q()) for q in queries] == before


def test_member_eviction_keeps_built_plans(spark, points, monkeypatch):
    """An LRU eviction drops the session's function and unpersists the
    broadcast without destroying it: a DataFrame built before still
    runs, and the next call registers the function anew."""
    monkeypatch.setattr(spatial, "COVER_CACHE_LIMIT", 1)
    built = spatial.join_zones(points, spark, TINY, res=8)
    want = _rows(built)
    name = spatial.zone_member_name(TINY, 8)
    assert spark.catalog.functionExists(name)
    spatial.join_zones(points, spark, TINY, res=7)  # evicts res 8
    assert not spark.catalog.functionExists(name)
    assert len(spatial._MEMBER_CACHE) == 1
    assert _rows(built) == want
    assert _rows(spatial.join_zones(points, spark, TINY, res=8)) == want
    assert spark.catalog.functionExists(name)


def test_member_is_per_context_and_registered_per_session(spark, points):
    spatial.join_zones(points, spark, TINY, res=8)
    member = _member(spark, TINY, 8)
    other = spark.newSession()
    assert not other.catalog.functionExists(member.name)
    assert _rows(spatial.join_zones(points, other, TINY, res=8)) == _rows(
        spatial.join_zones(points, spark, TINY, res=8)
    )
    assert _member(spark, TINY, 8) is member and set(member.sessions) >= {spark, other}


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_second_zonal_query_runs_no_cover_job(spark, points):
    """Once a session has used a cover, a zonal query builds with no job
    and runs in one: no cover collect, no broadcast job."""
    spatial.join_zones(points, spark, TINY, res=8).count()
    lo = _jobs(spark)
    out = spatial.join_zones(points, spark, TINY, res=8)
    assert _jobs(spark) == lo
    assert len(out.collect()) > 0
    assert _jobs(spark) == lo + 1


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


def test_join_zones_drops_non_finite_points(spark):
    """A point with a NULL, NaN or ±inf coordinate is in no zone, at
    both grains (the grid encode used to raise ARITHMETIC_OVERFLOW on
    NaN, and the hex UDF gave all of them one real id)."""
    good = [(31.0, 101.0), (30.5, 104.5), (29.5, 99.0)]
    bad = [(float("nan"), 101.0), (31.0, float("nan")), (float("inf"), 101.0),
           (31.0, float("-inf")), (None, 101.0), (31.0, None)]
    df = spark.createDataFrame(good + bad, "lat double, lon double")
    rows = {}
    for grain, res in GRAINS:
        out = spatial.join_zones(df, spark, TINY, res=res, grain=grain)
        rows[grain] = sorted((r.zone_id, r.lat, r.lon) for r in out.collect())
    assert rows["grid"] == rows["hex"] == [("rect", 31.0, 101.0), ("tri", 30.5, 104.5)]


def _star(rng, n, cx, cy, r_out, r_in):
    """A seeded n-vertex star: vertices at sorted random angles about
    (cx, cy), alternately near ``r_out`` and ``r_in`` degrees out."""
    ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, n))
    rad = np.where(np.arange(n) % 2 == 0, r_out, r_in) * rng.uniform(0.8, 1.2, n)
    return np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)


def _star_catalogs():
    rng = np.random.default_rng(2000)
    one = {"star2000": [_star(rng, 2000, 100.0, 30.0, 1.5, 0.6)]}
    eight = {
        f"star601_{k}": [_star(rng, 601, 102.5 + (k % 4) * 1.1, 29.0 + (k // 4) * 2.0, 0.6, 0.25)]
        for k in range(8)
    }
    return rng, [one, eight]


@pytest.mark.parametrize("grain,res", [("grid", 9), ("hex", 5)])
def test_join_zones_many_vertex_zones(spark, grain, res):
    """Zones of thousands of vertices take the same exact PIP: a
    2,000-vertex star, and eight 601-vertex stars, give the rows
    geometry.points_in_rings gives, on vertices and edges included,
    with no Python stage.  Codegen fallback is off while they run, so
    a generated class that fails to compile raises instead of logging
    an error and running interpreted."""
    rng, catalogs = _star_catalogs()
    conf = {"spark.sql.codegen.fallback": "false", "spark.sql.codegen.factoryMode": "CODEGEN_ONLY"}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        for zones in catalogs:
            rings = [r for rs in zones.values() for r in rs]
            allv = np.concatenate(rings)
            pts = [rng.uniform(allv.min(axis=0), allv.max(axis=0), size=(8000, 2)), allv]
            for ring in rings:
                t = rng.uniform(0.0, 1.0, size=(len(ring), 1))
                pts.append(ring + t * (np.roll(ring, -1, axis=0) - ring))
            lon, lat = np.concatenate(pts).T
            df = spark.createDataFrame(
                [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
                "idx long, lon double, lat double",
            )
            out = spatial.join_zones(df, spark, zones, res=res, grain=grain)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
            got = {(r.idx, r.zone_id) for r in out.collect()}
            want = {
                (int(i), zid)
                for zid, rs in zones.items()
                for i in np.flatnonzero(geometry.points_in_rings(lon, lat, rs))
            }
            assert got == want and len(want) > 1000
    finally:
        for k in conf:
            spark.conf.unset(k)
