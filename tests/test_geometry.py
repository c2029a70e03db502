from __future__ import annotations

import numpy as np

from geodata_spark import geometry
from geodata_spark.zones import ZONES, parse_wkb, zones_wkb_rows


def test_pip_square():
    sq = np.array([(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)])
    px = np.array([5.0, -1.0, 10.5, 9.99, 0.01])
    py = np.array([5.0, 5.0, 5.0, 9.99, 0.01])
    assert geometry.points_in_polygon(px, py, sq).tolist() == [
        True,
        False,
        False,
        True,
        True,
    ]


def test_pip_concave_l():
    # L-shape: notch at top-right
    L = ZONES["coast_l"][0]
    # inside lower arm, inside left column, inside the notch (out), west out
    px = np.array([130.0, 110.0, 130.0, 100.0])
    py = np.array([40.0, 50.0, 50.0, 40.0])
    assert geometry.points_in_polygon(px, py, L).tolist() == [True, True, False, False]


def test_pip_triangle_diagonal():
    tri = ZONES["east_tri"][0]
    # diagonal is lat = lon - 87
    px = np.array([120.0, 120.0, 120.0])
    py = np.array([32.9, 33.1, 33.0])  # below, above, exactly on
    got = geometry.points_in_polygon(px, py, tri).tolist()
    assert got[0] is True or got[0] == True  # noqa: E712
    assert got[1] == False  # noqa: E712
    # on-diagonal → inside under even-odd (right edge gives the one
    # crossing); ZONE_SQL uses `<=` to match exactly
    assert got[2] == True  # noqa: E712


def test_clip_area_full_partial_none():
    sq = np.array([(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)])
    full = geometry.clip_to_rect(sq, 1, 2, 1, 2)
    assert abs(geometry.polygon_area(full) - 1.0) < 1e-12
    part = geometry.clip_to_rect(sq, 3, 5, 3, 5)
    assert abs(geometry.polygon_area(part) - 1.0) < 1e-12
    none = geometry.clip_to_rect(sq, 5, 6, 5, 6)
    assert geometry.polygon_area(none) == 0.0


def test_clip_concave_area():
    L = ZONES["coast_l"][0]
    # whole-bbox clip returns the L's own area: 31*18 - 16*9 = 414
    clipped = geometry.clip_to_rect(L, 105, 136, 36, 54)
    assert abs(geometry.polygon_area(clipped) - 414.0) < 1e-9


def test_polygon_cover_counts():
    # unit square [0,4]x[0,4] at res 9 (0.25°) → 16x16 inside cells
    sq = [np.array([(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)])]
    full, boundary = geometry.polygon_cover(sq, 9)
    # square is cell-aligned → all 256 cells full, no boundary
    assert len(full) == 256
    assert len(boundary) == 0

    off = [np.array([(0.1, 0.1), (3.9, 0.1), (3.9, 3.9), (0.1, 3.9)])]
    full2, boundary2 = geometry.polygon_cover(off, 9)
    assert len(full2) == 14 * 14
    assert len(boundary2) == 16 * 16 - 14 * 14


def test_cover_vs_pip_consistency():
    """Every full cell's center must pass PIP; outside-bbox excluded."""
    for zid, rings in ZONES.items():
        full, boundary = geometry.polygon_cover(rings, 8)
        from geodata_spark import cells as C

        for ids, expect_in in ((full, True),):
            if len(ids) == 0:
                continue
            la0, la1, lo0, lo1 = C.cell_bounds_np(ids)
            cx = (lo0 + lo1) / 2
            cy = (la0 + la1) / 2
            got = geometry.points_in_rings(cx, cy, rings)
            assert got.all(), f"full cell center outside zone {zid}"


def test_inside_point_cell_in_cover_both_grains():
    """Every point inside a zone has its res-9 grid cell in
    ``polygon_cover``'s full ∪ boundary and its res-5 hex id in
    ``hex7_polyfill``'s full ∪ boundary: the cover never drops a point
    the exact PIP would keep.  Seeded random points around each zone
    plus every zone vertex."""
    from geodata_spark import cells, hexgrid

    rng = np.random.default_rng(20261019)
    for zid, rings in ZONES.items():
        allv = np.concatenate(rings)
        lo, hi = allv.min(axis=0) - 1.0, allv.max(axis=0) + 1.0
        pts = np.concatenate([rng.uniform(lo, hi, size=(2000, 2)), allv])
        inside = geometry.points_in_rings(pts[:, 0], pts[:, 1], rings)
        lon, lat = pts[inside, 0], pts[inside, 1]
        assert inside.sum() > 100, zid
        full, boundary = geometry.polygon_cover(rings, 9)
        grid = np.isin(cells.cell_id_np(lat, lon, 9), np.concatenate([full, boundary]))
        assert grid.all(), (zid, "grid", pts[inside][~grid][:5])
        full, boundary = hexgrid.hex7_polyfill(rings, 5)
        hexes = np.isin(hexgrid.hex7_id_np(lat, lon, 5), np.concatenate([full, boundary]))
        assert hexes.all(), (zid, "hex", pts[inside][~hexes][:5])


def test_wkb_roundtrip():
    for zid, wkb, crs in zones_wkb_rows():
        rings = parse_wkb(wkb)
        assert len(rings) == len(ZONES[zid])
        for got, want in zip(rings, ZONES[zid]):
            assert np.allclose(got, want)


def test_polygon_cover_prefilter_equivalence():
    """The Liang-Barsky prefilter + bulk center-PIP fast path must
    classify exactly like the brute-force per-cell Sutherland-Hodgman
    sweep (the pre-optimization algorithm), modulo provably-uniform
    multi-ring cells the old code never saw as candidates."""
    import numpy as np

    from geodata_spark import cells
    from geodata_spark.geometry import (
        clip_to_rect,
        points_in_rings,
        polygon_area,
        polygon_cover,
    )
    from geodata_spark.zones import ZONES

    eps = 1e-9
    for res in (6, 7):
        for zid, rings in ZONES.items():
            got_full, got_boundary = polygon_cover(rings, res)
            allv = np.vstack(rings)
            ids = cells.cells_in_bbox(
                allv[:, 1].min(), allv[:, 1].max(),
                allv[:, 0].min(), allv[:, 0].max(), res,
            )
            la0, la1, lo0, lo1 = cells.cell_bounds_np(ids)
            area = (la1[0] - la0[0]) * (lo1[0] - lo0[0])
            full, boundary = [], []
            for cid, a0, a1, o0, o1 in zip(ids, la0, la1, lo0, lo1):
                covered = sum(
                    polygon_area(clip_to_rect(r, o0, o1, a0, a1)) for r in rings
                )
                if covered <= eps:
                    continue
                if covered >= area - eps:
                    cx = np.array([o0 + eps, o1 - eps, o0 + eps, o1 - eps, (o0 + o1) / 2])
                    cy = np.array([a0 + eps, a0 + eps, a1 - eps, a1 - eps, (a0 + a1) / 2])
                    if points_in_rings(cx, cy, rings).all():
                        full.append(cid)
                    else:
                        boundary.append(cid)
                else:
                    boundary.append(cid)
            assert set(got_full) == set(full), (zid, res)
            assert set(got_boundary) == set(boundary), (zid, res)


def test_extract_zone_cells_expr_path_has_no_python_stage(spark):
    """extract_zone_cells keeps every full cell and each boundary cell
    whose centre its zone holds, as geometry.points_in_rings decides,
    with no Python stage in the plan."""
    from geodata_spark import cells, spatial

    df = spatial.extract_zone_cells(spark, ZONES, res=7)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan
    want = set()
    for zid, rings in ZONES.items():
        full, boundary = geometry.polygon_cover(rings, 7)
        want |= {(zid, int(c), True) for c in full}
        # the centre (index + 0.5) * edge - offset: exact, as the edge is dyadic
        rem = boundary - 7 * cells._RES_SHIFT
        yi, xi = rem // cells.Y_SHIFT, rem % cells.Y_SHIFT
        edge = cells.EDGE_DEG[7]
        inside = geometry.points_in_rings((xi + 0.5) * edge - 180.0, (yi + 0.5) * edge - 90.0, rings)
        want |= {(zid, int(c), False) for c in boundary[inside]}
    got = {(r.zone_id, r.cell_r7, r.interior) for r in df.collect()}
    assert got == want and any(not i for _, _, i in got)
