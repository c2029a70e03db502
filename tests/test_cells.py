from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from geodata_spark import cells


def test_cell_id_roundtrip_np():
    lat = np.array([18.25, 53.75, -0.1, 89.9, -89.9])
    lon = np.array([73.3125, 135.8125, 0.0, 179.9, -179.9])
    for res in range(5, 10):
        ids = cells.cell_id_np(lat, lon, res)
        la0, la1, lo0, lo1 = cells.cell_bounds_np(ids)
        assert (la0 <= lat).all() and (lat < la1).all()
        assert (lo0 <= lon).all() and (lon < lo1).all()
        assert np.allclose(la1 - la0, cells.EDGE_DEG[res])


def test_parent_hierarchy_np_vs_expr(spark):
    df = spark.createDataFrame(
        [(18.25, 73.3125), (53.75, 135.8125), (36.125, 105.125)], ["lat", "lon"]
    )
    out = (
        df.selectExpr(
            "*", *[f"{cells.cell_sql('lat', 'lon', r)} AS c{r}" for r in (9, 7, 5)]
        )
        .withColumn("p7", cells.parent_expr(F.col("c9"), 2))
        .withColumn("p5", cells.parent_expr(F.col("c9"), 4))
        .collect()
    )
    for r in out:
        assert r.p7 == r.c7, "parent(r9,2) must equal direct r7 encode"
        assert r.p5 == r.c5
    # expression matches numpy twin
    lat = np.array([r.lat for r in out])
    lon = np.array([r.lon for r in out])
    assert (cells.cell_id_np(lat, lon, 9) == np.array([r.c9 for r in out])).all()


def test_cell_sql_matches_expr(spark, duck):
    """One formula text, three engines: Spark's parse of cell_sql, the
    DuckDB oracles' and the numpy twin give the same key, including
    points on cell edges and at the domain corners."""
    import pytest

    pts = [(18.25, 73.3125), (53.75, 135.8125), (36.125, 105.125), (-12.3, 45.6),
           (-90.0, -180.0), (89.75, 179.75), (0.0, -0.0), (40.0, 100.0)]
    sdf = spark.createDataFrame(pts, ["lat", "lon"]).selectExpr(
        "lat", "lon",
        f"{cells.cell_sql('lat', 'lon', 6)} AS c6",
        f"{cells.cell_sql('lat', 'lon', 9)} AS c9",
    )
    assert [f.dataType.simpleString() for f in sdf.schema.fields[2:]] == ["bigint", "bigint"]
    values = ", ".join(f"({la!r}::DOUBLE, {lo!r}::DOUBLE)" for la, lo in pts)
    sql = (
        f"SELECT lat, lon, {cells.cell_sql('lat', 'lon', 6)} AS c6, "
        f"{cells.cell_sql('lat', 'lon', 9)} AS c9 "
        f"FROM (VALUES {values}) t(lat, lon)"
    )
    got = sorted(tuple(r) for r in sdf.collect())
    want = sorted(tuple(r) for r in duck.execute(sql).fetchall())
    assert got == want
    lat, lon = np.array(pts).T
    np_rows = sorted(zip(lat.tolist(), lon.tolist(), cells.cell_id_np(lat, lon, 6).tolist(),
                         cells.cell_id_np(lat, lon, 9).tolist()))
    assert got == np_rows
    with pytest.raises(ValueError):
        cells.cell_sql("lat", "lon", 10)


def test_s2_tokens_sane():
    # well-known S2 property checks: valid token charset, hierarchy prefix
    lat = np.array([40.0, -33.86, 0.01])
    lon = np.array([100.0, 151.21, 0.01])
    t10 = cells.s2_token_np(lat, lon, 10)
    t5 = cells.s2_token_np(lat, lon, 5)
    for a, b in zip(t10, t5):
        assert set(a) <= set("0123456789abcdef")
        # a finer cell's token shares the coarser cell's leading digits
        assert a[:2] == b[:2]
    # distinct points far apart -> distinct cells
    assert len(set(t10)) == 3


def test_s2_tokens_ground_truth_fixtures():
    """Known (lat, lon, level) → token pins from the public S2 spec.

    Level 0: face cells — face = argmax |xyz| component (+3 when
    negative), id = face << 61 | 1 << 60, token = hex sans trailing
    zeros → "1 3 5 7 9 b".  Level 1: face-0 orientation is canonical
    (swap = face & 1 = 0), kPosToIJ[0] maps Hilbert pos 0..3 → ij
    (0,0) (0,1) (1,1) (1,0); face 1 is the swapped orientation, pos
    0..3 → ij (0,0) (1,0) (1,1) (0,1).  On face 0, u = y/x tracks
    longitude and v = z/x latitude; on face 1, u = -x/y, v = z/y.
    """
    fixtures = [
        # face centers (level 0)
        (0.0, 0.0, 0, "1"),
        (0.0, 90.0, 0, "3"),
        (90.0, 0.0, 0, "5"),
        (0.0, 180.0, 0, "7"),
        (0.0, -90.0, 0, "9"),
        (-90.0, 0.0, 0, "b"),
        # face-0 level-1 quadrants (canonical orientation)
        (-30.0, -30.0, 1, "04"),
        (30.0, -30.0, 1, "0c"),
        (30.0, 30.0, 1, "14"),
        (-30.0, 30.0, 1, "1c"),
        # face-1 level-1, swapped orientation: ij (0,1) → pos 3
        (30.0, 60.0, 1, "3c"),
    ]
    lat = np.array([f[0] for f in fixtures])
    lon = np.array([f[1] for f in fixtures])
    for (la, lo, lvl, want), idx in zip(fixtures, range(len(fixtures))):
        got = cells.s2_token_np(lat[idx : idx + 1], lon[idx : idx + 1], lvl)[0]
        assert got == want, (la, lo, lvl, got, want)
