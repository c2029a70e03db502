"""The zone cover: planned once per catalog, memoized and LRU-bounded,
with the rows of a literal cover; the membership function join_zones
calls: one cover broadcast per SparkContext, with the join output of a
literal cover; and extract_zone_cells, built on the driver from the
cover with no job, with the rows of a brute-force pass over the grid."""

import hashlib
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
    createDataFrame, and on every boundary row all of its zone's edges.
    Hex full cells are compacted per zone, as the memoized cover stores
    them, unless ``compact=False``."""
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
    pdf, _ = _literal_cover(spark, res, grain)
    cover = spatial._plan_cover(TINY, res, grain)
    # the planned cover holds the literal rows in their order
    assert len(cover.key) == len(pdf) > 0
    assert cover.zone.tolist() == pdf["zone_id"].tolist()
    assert cover.key.tolist() == pdf[pdf.columns[1]].tolist()
    assert cover.boundary.tolist() == pdf["boundary"].tolist()
    assert cover.edges.shape[0] == 5 and cover.offsets[-1] == cover.edges.shape[1]
    # full rows carry no edges; boundary rows some of their zone's edges
    for zid, boundary, lo, hi in zip(cover.zone, cover.boundary, cover.offsets, cover.offsets[1:]):
        got = [tuple(e) for e in cover.edges[:, lo:hi].T.tolist()]
        assert bool(got) == boundary and set(got) <= set(_all_edges(TINY[zid]))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extract_is_local_and_join_scans_no_cover(spark, points):
    """The cell extract is one local relation; the join scans no cover
    at all: it calls the membership function, with no cover broadcast."""
    assert _plan(spatial.extract_zone_cells(spark, TINY, 8)).startswith("LocalTableScan")
    plan = _plan(spatial.join_zones(points, spark, TINY, res=4, grain="hex"))
    assert "LocalTableScan" not in plan and "ExistingRDD" not in plan
    assert spatial.zone_member_name(TINY, 4, "hex") in plan
    assert "BroadcastExchange" not in plan and "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_hex_cover_full_cells_are_compacted():
    # TINY at hex res 4 compacts to coarser full cells, so the join tests
    # below run the ancestor probe
    cover = spatial._plan_cover(TINY, 4, "hex")
    assert set(hexgrid.hex7_res_np(cover.key[cover.boundary]).tolist()) == {4}
    assert len(set(hexgrid.hex7_res_np(cover.key[~cover.boundary]).tolist())) > 1
    for zid, rings in TINY.items():
        want, _ = hexgrid.hex7_polyfill(rings, 4)
        got = cover.key[(cover.zone == zid) & ~cover.boundary]
        assert np.array_equal(hexgrid.hex7_uncompact_np(got, 4), np.sort(want))


def test_zones_hex_cover_rows():
    # ZONES at hex res 5: 196,690 reachable full cells compact to 8,734
    # rows at res 1-5, next to 21,556 boundary cells holding 29,388 edges
    cover = spatial._plan_cover(ZONES, 5, "hex")
    assert hexgrid._reachable(cover.key).all()
    assert not pd.DataFrame({"zone": cover.zone, "key": cover.key}).duplicated().any()
    assert (len(cover.key), int(cover.boundary.sum())) == (30290, 21556)
    assert cover.edges.shape == (5, 29388)
    # grid res 9: 124 boundary cells, 248 edges
    grid = spatial._plan_cover(ZONES, 9, "grid")
    assert int(grid.boundary.sum()) == 124
    assert grid.edges.shape == (5, 248)


def _shifted(by):
    """TINY moved by ``by`` degrees: a catalog no other test plans, so
    its cover is not memoized yet."""
    return {zid: [ring + by for ring in rings] for zid, rings in TINY.items()}


def test_cover_edge_limit(spark, monkeypatch):
    """A cover holding more than COVER_EDGE_LIMIT edges raises before
    anything is memoized, naming its zone and edge counts."""
    shifted = _shifted(0.125)
    monkeypatch.setattr(spatial, "COVER_EDGE_LIMIT", 10)
    with pytest.raises(
        ValueError, match=r"grid res 9: 2 zones give \d+ crossing edges .* = 10; zone '\w+' alone"
    ):
        spatial.extract_zone_cells(spark, shifted, 9)
    assert (spatial._zones_key(shifted), 9, "grid") not in spatial._COVER_CACHE
    monkeypatch.setattr(spatial, "COVER_EDGE_LIMIT", 1000)
    assert spatial.extract_zone_cells(spark, shifted, 9).count() > 0


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


def test_extract_zone_cells_runs_no_job_and_registers_nothing(spark, monkeypatch):
    """The cell extract needs neither a job nor a session's function:
    building it runs none and registers none, and a second session
    reads the same memoized cover without planning it again."""
    zones = _shifted(0.25)
    lo = _jobs(spark)
    df = spatial.extract_zone_cells(spark, zones, 8)
    assert _jobs(spark) == lo
    rows = _rows(df)
    assert rows
    name = spatial.zone_member_name(zones, 8)
    assert not spark.catalog.functionExists(name)
    assert not any(key[1] == spatial._zones_key(zones) for key in spatial._MEMBER_CACHE)
    monkeypatch.setattr(geometry, "polygon_cover", None)  # a re-plan would raise
    other = spark.newSession()
    assert _rows(spatial.extract_zone_cells(other, zones, 8)) == rows
    assert not other.catalog.functionExists(name)


def test_concurrent_first_calls_build_once(spark, monkeypatch):
    """Threads asking for one new cover at once, some for the cell
    extract and some for the membership function, plan it once and
    broadcast it once."""
    zones = _shifted(0.375)
    planned = []
    plan = geometry.polygon_cover
    monkeypatch.setattr(
        geometry, "polygon_cover", lambda rings, res: planned.append(res) or plan(rings, res)
    )
    calls = [spatial.extract_zone_cells, spatial.zone_member] * 4
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(call, spark, zones, 9) for call in calls]
            out = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert planned == [9] * len(zones)
    zkey = spatial._zones_key(zones)
    assert [k for k in spatial._COVER_CACHE if k[0] == zkey] == [(zkey, 9, "grid")]
    assert [k for k in spatial._MEMBER_CACHE if k[1] == zkey] == [
        (id(spark.sparkContext), zkey, 9, "grid")
    ]
    rows = _rows(out[0])
    assert rows and all(_rows(df) == rows for df in out[2::2])
    assert all(fn == out[1] for fn in out[1::2])


def test_memos_are_lru_bounded(spark, monkeypatch):
    monkeypatch.setattr(spatial, "COVER_CACHE_LIMIT", 2)
    tiny = spatial._zones_key(TINY)
    first = {}
    # a hit on res 5 refreshes it, so res 7 evicts res 6, the least recent
    for res in (5, 6, 5, 7):
        spatial.extract_zone_cells(spark, TINY, res)
        spatial.zone_member(spark, TINY, res)
        first.setdefault(res, (
            spatial._COVER_CACHE[(tiny, res, "grid")], _member(spark, TINY, res)
        ))
    assert list(spatial._COVER_CACHE) == [(tiny, r, "grid") for r in (5, 7)]
    assert list(spatial._MEMBER_CACHE) == [(id(spark.sparkContext), tiny, r, "grid") for r in (5, 7)]
    # a hit returns the memo itself
    assert spatial._COVER_CACHE[(tiny, 5, "grid")] is first[5][0]
    assert _member(spark, TINY, 5) is first[5][1]


def test_stopped_session_entries_are_dropped(spark, monkeypatch):
    """A membership entry whose SparkContext stopped (its broadcast is
    gone) is dropped by the next call."""
    stopped = SimpleNamespace(sc=SimpleNamespace(_jsc=None))
    monkeypatch.setitem(spatial._MEMBER_CACHE, ("stopped",), stopped)
    spatial.zone_member(spark, TINY, 8)
    assert ("stopped",) not in spatial._MEMBER_CACHE


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


def _sliver_catalog():
    """A zone whose second ring is a zero-area sliver (three collinear
    dyadic vertices) beside its main ring, and a plain zone."""
    # off the grid's lines, so the main ring has boundary cells too
    main = np.array([(100.0, 30.0), (103.0, 30.0), (103.0, 32.5), (100.0, 32.5)]) + (0.0625, 0.03125)
    sliver = np.array([(103.25, 30.125), (104.25, 32.125), (103.75, 31.125)])
    return {"with_sliver": [main, sliver], "plain": [main + (5.0, 0.0)]}


@pytest.mark.parametrize("res", [8, 9])
def test_extract_zone_cells_equals_brute_force(spark, res):
    """extract_zone_cells keeps exactly the cells of a zone's bbox
    (cells.cells_in_bbox) whose centre geometry.points_in_rings puts in
    the zone, once each, for many-vertex stars and a zone with a
    degenerate ring; and every interior cell, inset by a millionth of
    its edge, has its four corners inside its zone."""
    _, catalogs = _star_catalogs()
    n_interior = 0
    for zones in [*catalogs, _sliver_catalog()]:
        got = spatial.extract_zone_cells(spark, zones, res).collect()
        want = set()
        for zid, rings in zones.items():
            allv = np.concatenate(rings)
            (lon0, lat0), (lon1, lat1) = allv.min(axis=0), allv.max(axis=0)
            ids = cells.cells_in_bbox(lat0, lat1, lon0, lon1, res)
            south, north, west, east = cells.cell_bounds_np(ids)
            inside = geometry.points_in_rings((west + east) / 2, (south + north) / 2, rings)
            want |= {(zid, int(c)) for c in ids[inside]}
        assert len(got) == len(want) and {(r[0], r[1]) for r in got} == want
        for zid, rings in zones.items():
            keys = np.array([r[1] for r in got if r[0] == zid and r.interior], dtype=np.int64)
            south, north, west, east = cells.cell_bounds_np(keys)
            d = (north - south) * 1e-6
            xs = np.concatenate([west + d, east - d, west + d, east - d])
            ys = np.concatenate([south + d, south + d, north - d, north - d])
            assert geometry.points_in_rings(xs, ys, rings).all()
            n_interior += len(keys)
    assert n_interior > 0


# extract_zone_cells over ZONES as the checkpointed cover table gave it:
# row count and the first 16 hex digits of the sha256 of the sorted
# rows' repr
_ZONES_CELLS = {
    5: (134, "23cc0203e1eca01e"),
    6: (514, "7cb33591b3bbb723"),
    7: (2080, "faa921fcb48b63dc"),
    8: (8289, "bf970c9d371476c3"),
    9: (33094, "5e7514cff927c0c6"),
}


def test_extract_zone_cells_rows_pinned(spark):
    for res, want in _ZONES_CELLS.items():
        df = spatial.extract_zone_cells(spark, ZONES, res)
        assert df.schema == T.StructType([
            T.StructField("zone_id", T.StringType(), False),
            T.StructField(f"cell_r{res}", T.LongType(), False),
            T.StructField("interior", T.BooleanType(), False),
        ])
        rows = sorted(tuple(r) for r in df.collect())
        assert (len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()[:16]) == want
