from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from geodata_spark import cells, masks


def _layer_df(spark, arr: np.ndarray, lat0=0.125, lon0=0.125, step=0.25):
    """2-D numpy raster → long cell table (res-9 aligned grid)."""
    ny, nx = arr.shape
    rows = []
    for y in range(ny):
        for x in range(nx):
            lat, lon = lat0 + y * step, lon0 + x * step
            rows.append(
                (
                    "t",
                    int(cells.cell_id_np(np.array([lat]), np.array([lon]), 9)[0]),
                    y,
                    x,
                    lat,
                    lon,
                    float(arr[y, x]),
                )
            )
    return spark.createDataFrame(
        rows,
        "layer string, cell long, y_idx long, x_idx long, lat double, lon double, value double",
    )


def _to_array(df, ny, nx, lat0=0.125, lon0=0.125, step=0.25):
    out = np.zeros((ny, nx))
    for r in df.collect():
        y = round((r.lat - lat0) / step)
        x = round((r.lon - lon0) / step)
        out[y, x] = r.value
    return out


def test_filter_raster_modes(spark):
    arr = np.array([[1.0, 5.0, 9.0], [3.0, 0.0, 7.0]])
    df = _layer_df(spark, arr)
    got = _to_array(masks.filter_raster(df, values=[1, 7]), 2, 3)
    assert (got == np.array([[1, 0, 0], [0, 0, 7]])).all()
    got = _to_array(masks.filter_raster(df, min_bound=3, binarize=True), 2, 3)
    assert (got == np.array([[0, 1, 1], [0, 0, 1]])).all()
    got = _to_array(masks.filter_raster(df, min_bound=1, max_bound=7), 2, 3)
    assert (got == np.array([[0, 5, 0], [3, 0, 0]])).all()


def test_merge_and_sum(spark):
    a = np.array([[1.0, 0.0], [1.0, 1.0]])
    b = np.array([[1.0, 1.0], [0.0, 2.0]])
    da = _layer_df(spark, a).withColumn("layer", F.lit("a"))
    db = _layer_df(spark, b).withColumn("layer", F.lit("b"))
    stacked = da.unionByName(db)
    got_and = _to_array(masks.merge_layers_and(stacked, 2).join(da.select("cell", "lat", "lon"), "cell"), 2, 2)
    assert (got_and == np.array([[1, 0], [0, 1]])).all()
    got_sum = _to_array(
        masks.merge_layers_sum(stacked, {"a": 0.25, "b": 0.5}).join(da.select("cell", "lat", "lon"), "cell"),
        2,
        2,
    )
    assert (got_sum == 0.25 * a + 0.5 * b).all()


def test_trim_and_crop(spark):
    arr = np.zeros((5, 5))
    arr[1:3, 2:4] = 7.0
    df = _layer_df(spark, arr)
    trimmed = masks.trim_raster(df)
    rows = trimmed.collect()
    assert len(rows) == 4  # 2x2 nonzero bounding box
    assert all(r.value == 7.0 for r in rows)
    cropped = masks.crop_raster(df, 0.0, 0.5, 0.0, 0.5)  # 2x2 window
    assert cropped.count() == 4


def _flood_fill_areas(arr: np.ndarray) -> np.ndarray:
    """numpy oracle: 4-connected component sizes per cell."""
    ny, nx = arr.shape
    seen = np.zeros_like(arr, dtype=bool)
    sizes = np.zeros_like(arr)
    for y in range(ny):
        for x in range(nx):
            if arr[y, x] == 0 or seen[y, x]:
                continue
            stack, comp = [(y, x)], []
            seen[y, x] = True
            while stack:
                cy, cx = stack.pop()
                comp.append((cy, cx))
                for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                    ny2, nx2 = cy + dy, cx + dx
                    if 0 <= ny2 < ny and 0 <= nx2 < nx and arr[ny2, nx2] != 0 and not seen[ny2, nx2]:
                        seen[ny2, nx2] = True
                        stack.append((ny2, nx2))
            for cy, cx in comp:
                sizes[cy, cx] = len(comp)
    return sizes


def test_filter_area_vs_flood_fill(spark):
    rng = np.random.RandomState(7)
    arr = (rng.rand(12, 12) < 0.45).astype(float)
    df = _layer_df(spark, arr)
    min_cells = 4
    got = _to_array(masks.filter_area(df, min_cells=min_cells), 12, 12)
    sizes = _flood_fill_areas(arr)
    want = np.where(sizes >= min_cells, arr, 0.0)
    assert (got == want).all()


def test_filter_area_snake(spark):
    # a long snake region: exercises multi-iteration label propagation
    arr = np.zeros((8, 8))
    arr[0, :] = 1
    arr[:, 7] = 1
    arr[7, :] = 1
    df = _layer_df(spark, arr)
    got = _to_array(masks.filter_area(df, min_cells=10), 8, 8)
    assert (got == arr).all()  # single region of 22 cells, all kept
    got2 = _to_array(masks.filter_area(df, min_cells=23), 8, 8)
    assert (got2 == 0).all()


def test_filter_area_long_snake_logarithmic_rounds(spark):
    """A serpentine region of diameter ~300 — far beyond any plausible
    round budget for plain min-propagation (O(diameter)) — must
    converge under the hook+pointer-jump scheme within a small
    O(log n) round budget, and non-convergence must raise rather than
    silently split the component."""
    ny, nx = 20, 16
    # boustrophedon: even rows fully on, odd rows carry a single
    # connector cell at alternating ends → one path-shaped component
    # of ~170 cells with graph diameter ~300
    arr = np.zeros((ny, nx))
    for y in range(ny):
        if y % 2 == 0:
            arr[y, :] = 1
        else:
            arr[y, nx - 1 if (y // 2) % 2 == 0 else 0] = 1
    df = _layer_df(spark, arr)
    n_cells = int(arr.sum())
    got = _to_array(masks.filter_area(df, min_cells=n_cells, max_iters=20), ny, nx)
    assert (got == arr).all()  # one component, all kept at exact threshold
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        masks.filter_area(df, min_cells=1, max_iters=1)


def test_filter_area_long_snake_logarithmic_rounds_distributed(spark, distributed_fixpoint):
    """The same pins on the distributed rounds."""
    test_filter_area_long_snake_logarithmic_rounds(spark)


def test_dilate_matches_numpy(spark):
    """Disc dilation == brute-force numpy morphological dilation."""
    import numpy as np

    from geodata_spark import masks
    from geodata_spark.synth import synth_mask_layers

    ny, nx, r = 20, 25, 3
    prot = synth_mask_layers(spark, ny=ny, nx=nx).filter(F.col("layer") == "protected")
    got = (
        masks.dilate(prot, r)
        .select("y_idx", "x_idx", "value")
        .toPandas()
        .sort_values(["y_idx", "x_idx"])
        .reset_index(drop=True)
    )
    src = prot.select("y_idx", "x_idx", "value").toPandas()
    grid = np.zeros((ny, nx))
    for _, row in src.iterrows():
        grid[int(row.y_idx), int(row.x_idx)] = row.value
    want = np.zeros((ny, nx))
    ys, xs = np.nonzero(grid)
    for y, x in zip(ys, xs):
        for dy in range(-r, r + 1):
            for dx in range(-r, r + 1):
                yy, xx = y + dy, x + dx
                if dy * dy + dx * dx <= r * r and 0 <= yy < ny and 0 <= xx < nx:
                    want[yy, xx] = 1.0
    got_grid = np.zeros((ny, nx))
    for _, row in got.iterrows():
        got_grid[int(row.y_idx), int(row.x_idx)] = row.value
    assert (got_grid == want).all()
    assert want.sum() > grid.astype(bool).sum()  # actually dilated


def test_dilate_zero_radius_is_binarize(spark):
    from geodata_spark import masks
    from geodata_spark.synth import synth_mask_layers

    prot = synth_mask_layers(spark, ny=8, nx=8).filter(F.col("layer") == "protected")
    out = masks.dilate(prot, 0).toPandas()
    src = prot.toPandas()
    assert (out.sort_values(["y_idx", "x_idx"])["value"].to_numpy()
            == (src.sort_values(["y_idx", "x_idx"])["value"].to_numpy() != 0)).all()


def test_contour_segments_semantics(spark):
    """3x3 mask with a center hole: outer boundary 12 segments + inner
    hole 4 segments; an isolated cell emits all 4 edges."""
    from geodata_spark import masks

    rows = []
    for y in range(3):
        for x in range(3):
            v = 0.0 if (y, x) == (1, 1) else 1.0
            rows.append((y, x, float(y), float(x), v))
    # isolated cell far away (same dense-grid contract: its row
    # neighbours in the window are 2 apart, treated as absent only
    # off-grid — so place it on its own row/column)
    rows.append((10, 10, 10.0, 10.0, 1.0))
    df = spark.createDataFrame(
        rows, "y_idx long, x_idx long, lat double, lon double, value double"
    )
    segs = masks.contour_segments(df, dlat=1.0, dlon=1.0).collect()
    per_cell = {}
    for r in segs:
        per_cell.setdefault((r["y_idx"], r["x_idx"]), []).append(r["edge"])
    # isolated cell: all four edges
    assert sorted(per_cell[(10, 10)]) == ["E", "N", "S", "W"]
    # center hole: the 4 ring cells adjacent to (1,1) each expose the
    # edge facing the hole; corners expose only outer edges
    assert "E" in per_cell[(1, 0)] and "W" in per_cell[(1, 2)]
    assert "N" in per_cell[(0, 1)] and "S" in per_cell[(2, 1)]
    # total: 12 outer + 4 inner + 4 isolated = 20
    assert len(segs) == 20
    # segment endpoints sit on half-step corners
    s = [r for r in segs if (r["y_idx"], r["x_idx"]) == (10, 10) and r["edge"] == "W"][0]
    assert (s["lat0"], s["lon0"], s["lat1"], s["lon1"]) == (9.5, 9.5, 10.5, 9.5)


def test_slope_finite_diff_matches_numpy(spark):
    """Window-based central differences == numpy's interior gradient;
    border cells (no two-sided neighbor) come back NULL; a hole in the
    raster nulls its neighbors' derivative instead of bridging it."""
    from geodata_spark.masks import slope_finite_diff
    from geodata_spark.synth import synth_mask_layers

    ny, nx = 9, 11
    elev = synth_mask_layers(spark, ny=ny, nx=nx).filter(
        F.col("layer") == "elevation"
    )
    out = slope_finite_diff(elev).toPandas().sort_values(["y_idx", "x_idx"])
    z = out.value.to_numpy().reshape(ny, nx)
    dzdx = out.dzdx.to_numpy().reshape(ny, nx)
    dzdy = out.dzdy.to_numpy().reshape(ny, nx)
    # interior: exact central difference
    want_x = (z[:, 2:] - z[:, :-2]) / 2.0
    want_y = (z[2:, :] - z[:-2, :]) / 2.0
    assert (dzdx[:, 1:-1] == want_x).all()
    assert (dzdy[1:-1, :] == want_y).all()
    # borders NULL
    assert np.isnan(dzdx[:, [0, -1]]).all() and np.isnan(dzdy[[0, -1], :]).all()

    # hole: remove one cell; its 4-neighbors lose the crossing derivative
    hy, hx = 4, 5
    holed = elev.filter(~((F.col("y_idx") == hy) & (F.col("x_idx") == hx)))
    oh = slope_finite_diff(holed).toPandas()
    oh = oh.set_index(["y_idx", "x_idx"])
    assert np.isnan(oh.loc[(hy, hx - 1)].dzdx) and np.isnan(oh.loc[(hy, hx + 1)].dzdx)
    assert np.isnan(oh.loc[(hy - 1, hx)].dzdy) and np.isnan(oh.loc[(hy + 1, hx)].dzdy)
    # cells two away are unaffected (guard is adjacency, not presence)
    assert oh.loc[(hy, hx - 2)].dzdx == out.set_index(["y_idx", "x_idx"]).loc[(hy, hx - 2)].dzdx


def test_aspect_octant_classifier(spark):
    """Pin the trig-free octant rule on hand vectors, including the
    22.5-degree boundary side (|dy| = 0.25 stays E, 0.5 crosses to
    NE for dx = 1)."""
    from geodata_spark.queries import _aspect_sector

    cases = [
        (1.0, 0.0, "E"), (-1.0, 0.0, "W"), (0.0, 1.0, "N"), (0.0, -1.0, "S"),
        (1.0, 1.0, "NE"), (-1.0, 1.0, "NW"), (1.0, -1.0, "SE"),
        (-1.0, -1.0, "SW"), (0.0, 0.0, "flat"),
        (1.0, 0.25, "E"), (1.0, 0.5, "NE"),
        (0.25, -1.0, "S"), (-0.5, -1.0, "SW"),
    ]
    df = spark.createDataFrame(
        [(dx, dy) for dx, dy, _ in cases], "dzdx double, dzdy double"
    )
    got = [r.sector for r in df.select(_aspect_sector().alias("sector")).collect()]
    assert got == [s for _, _, s in cases]


def test_focal_mean_3x3_matches_numpy(spark):
    """Separable two-pass focal mean == brute-force 3×3 neighborhood
    mean, with edge renormalization and hole handling."""
    import numpy as np

    from geodata_spark.masks import focal_mean_3x3

    rng = np.random.RandomState(3)
    arr = np.round(rng.uniform(0, 100, size=(5, 7)) * 16) / 16   # dyadic
    hole = (2, 3)
    rows = [
        (y, x, float(arr[y, x]))
        for y in range(5) for x in range(7) if (y, x) != hole
    ]
    df = spark.createDataFrame(rows, "y_idx long, x_idx long, value double")
    out = {(r.y_idx, r.x_idx): r for r in focal_mean_3x3(df).collect()}
    for (y, x), r in out.items():
        vals = [
            arr[yy, xx]
            for yy in range(max(0, y - 1), min(5, y + 2))
            for xx in range(max(0, x - 1), min(7, x + 2))
            if (yy, xx) != hole
        ]
        assert r.focal_n == len(vals), (y, x)
        assert r.focal_mean == sum(vals) / len(vals), (y, x)
    # interior non-hole-adjacent cell uses all 9; corner uses 4
    assert out[(0, 0)].focal_n == 4
    assert out[(3, 5)].focal_n == 9
    # hole neighbor: 8 cells (hole excluded, not bridged-over)
    assert out[(2, 2)].focal_n == 8


def test_hillshade_range_and_orientation(spark):
    """Hillshade ∈ [0,1]; a NW-facing slope (sun side, azimuth 315°)
    is brighter than the SE-facing mirror of the same gradient."""
    from geodata_spark.queries import _hillshade_expr

    import pyspark.sql.functions as F

    # gradients: dzdx>0, dzdy<0 tilts the surface toward NW (normal
    # points -x,+y ... sanity-check relative ordering only) and its
    # mirror; plus flat terrain -> cos(45°)
    # aspect = atan2(dzdy, -dzdx): (-1,-1) faces the 315-deg sun,
    # (1,1) faces directly away; (0,0) is flat
    df = spark.createDataFrame(
        [(-1.0, -1.0), (1.0, 1.0), (0.0, 0.0)], "dzdx double, dzdy double"
    )
    out = [
        r.h for r in df.select(
            F.round(F.expr(_hillshade_expr("dzdx", "dzdy")), 6).alias("h")
        ).collect()
    ]
    import math

    assert all(0.0 <= h <= 1.0 for h in out)
    assert out[2] == round(math.cos(math.radians(45.0)), 6)   # flat
    assert out[0] > out[2] > out[1]    # sun side > flat > shade side


def test_focal_majority_3x3_matches_python(spark):
    """Majority filter vs brute-force python: most-frequent class per
    3x3 neighborhood, smallest-class tie-break, edge/hole
    renormalization."""
    from collections import Counter

    from geodata_spark.masks import focal_majority_3x3

    rng = np.random.RandomState(9)
    arr = rng.randint(1, 5, size=(5, 6)).astype(float)
    hole = (1, 4)
    rows = [(y, x, float(arr[y, x]))
            for y in range(5) for x in range(6) if (y, x) != hole]
    df = spark.createDataFrame(rows, "y_idx long, x_idx long, value double")
    out = {(r.y_idx, r.x_idx): r for r in focal_majority_3x3(df).collect()}
    assert len(out) == 5 * 6 - 1
    for (y, x), r in out.items():
        vals = [arr[yy, xx]
                for yy in range(max(0, y - 1), min(5, y + 2))
                for xx in range(max(0, x - 1), min(6, x + 2))
                if (yy, xx) != hole]
        cnt = Counter(vals)
        top = max(cnt.values())
        want = min(v for v, c in cnt.items() if c == top)  # tie -> smallest
        assert r.majority == want, (y, x)
        assert r.maj_n == top and r.focal_n == len(vals), (y, x)


def test_laplacian_matches_numpy(spark):
    """Laplacian vs numpy second differences; adjacency guard NULLs
    derivatives across holes and at edges."""
    from geodata_spark.masks import laplacian_finite_diff

    rng = np.random.RandomState(4)
    arr = np.round(rng.uniform(0, 50, size=(5, 6)) * 16) / 16
    hole = (2, 2)
    rows = [(y, x, float(arr[y, x]))
            for y in range(5) for x in range(6) if (y, x) != hole]
    df = spark.createDataFrame(rows, "y_idx long, x_idx long, value double")
    out = {(r.y_idx, r.x_idx): r for r in laplacian_finite_diff(df).collect()}
    for (y, x), r in out.items():
        if 1 <= x <= 4 and (y, x - 1) != hole and (y, x + 1) != hole:
            assert r.d2zdx2 == arr[y, x - 1] - 2 * arr[y, x] + arr[y, x + 1]
        else:
            assert r.d2zdx2 is None, (y, x)
        if 1 <= y <= 3 and (y - 1, x) != hole and (y + 1, x) != hole:
            assert r.d2zdy2 == arr[y - 1, x] - 2 * arr[y, x] + arr[y + 1, x]
        else:
            assert r.d2zdy2 is None, (y, x)
        if r.d2zdx2 is not None and r.d2zdy2 is not None:
            assert r.laplacian == r.d2zdx2 + r.d2zdy2
    # a quadratic bowl z = (y^2 + x^2)/2 has laplacian exactly 2
    bowl = [(y, x, (y * y + x * x) / 2.0) for y in range(5) for x in range(5)]
    bdf = spark.createDataFrame(bowl, "y_idx long, x_idx long, value double")
    for r in laplacian_finite_diff(bdf).collect():
        if r.laplacian is not None:
            assert r.laplacian == 2.0


def test_zonal_majority_semantics(spark):
    """Zonal majority per the query: winner = most frequent class,
    smallest class on ties; overlapping zones count shared cells in
    both; n_cells/n_classes consistent."""
    from collections import Counter

    from geodata_spark.queries import q_zonal_majority
    from geodata_spark.spatial import join_zones
    from geodata_spark.synth import synth_mask_layers

    out = {r.zone_id: r for r in q_zonal_majority(spark, "unused").collect()}
    modis = synth_mask_layers(spark).filter(F.col("layer") == "modis")
    zoned = join_zones(modis.select("lat", "lon", "value"), spark).collect()
    per_zone: dict[str, list] = {}
    for r in zoned:
        per_zone.setdefault(r.zone_id, []).append(r.value)
    assert set(out) == set(per_zone)
    for z, vals in per_zone.items():
        cnt = Counter(vals)
        top = max(cnt.values())
        want = min(v for v, c in cnt.items() if c == top)
        r = out[z]
        assert (r.majority, r.maj_n, r.n_cells, r.n_classes) == (
            want, top, len(vals), len(cnt)), z
